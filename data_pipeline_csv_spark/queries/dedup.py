"""Dedup query registrations over the ``documents`` table.

The exact operators carry full DuckDB oracles. The MinHash-LSH result
equals the exact all-pairs result for this corpus (threshold 0.8 sits
in a wide empirical gap — measured: no pairs in [0.3, 0.9) at sf0.01 —
and the band config's miss probability at J>=0.9 is ~1e-11), so it is
registered against the same exact-Jaccard oracle. SimHash uses a
60-bit md5-derived hash both engines evaluate identically, so its
fingerprints and hamming pairs carry full value oracles too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import build_once
from ..operators.dedup import (
    exact_dedup,
    md5_hash60_duckdb_sql,
    minhash_lsh_pairs,
    ngram_jaccard_pairs_prefix,
    simhash,
)
from ..sources.tables import balanced, load_table, read_parquet_cached, table_version
from .registry import query

# DuckDB twin of functions.text_funcs normalization + word-3-gram
# shingle sets (DISTINCT), shared by the Jaccard oracles.
_SHINGLE_CTE = """
    norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1], toks[CAST(r.i AS INT)+2]) AS shingle
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

_EXACT_PAIRS_SQL = f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
"""


@query(
    "dedup_exact",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
      FROM documents
    )
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM norm GROUP BY n
    """,
    doc="Exact dedup: hash-groupBy on normalized text, keep min doc_id (map-side partial agg; one shuffle).",
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(balanced(spark, load_table(spark, sf_dir, "documents")))


@query(
    "dedup_ngram_jaccard",
    oracle=_EXACT_PAIRS_SQL,
    doc="Exact near-dup pairs: word-3-gram Jaccard >= 0.8 via PREFIX-FILTERED "
    "candidates (r11: SSJoin/all-pairs/PPJoin — identical result to the naive "
    "shingle self-join, pinned by test_scale_ops.py::test_prefix_filtered_pairs_"
    "equal_naive, but hot shingles never generate candidates, which the naive "
    "join pays for quadratically: measured 13.4x on 10x data).",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs_prefix(
        balanced(spark, load_table(spark, sf_dir, "documents")), threshold=0.8
    )


@query(
    "dedup_minhash_lsh",
    oracle=_EXACT_PAIRS_SQL,
    doc="MinHash(32)+LSH(16 bands x 2 rows) candidates, exact-Jaccard verified at 0.8. "
    "Scale path: replaces the quadratic shingle self-join with bucket-local joins.",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        balanced(spark, load_table(spark, sf_dir, "documents")),
        threshold=0.8,
        num_hashes=32,
        rows_per_band=2,
    )


# Fingerprint replay shared by both simhash oracles: the 60-bit
# md5-nibble hash (operators/dedup.py md5_hash60_duckdb_sql) is plain
# arithmetic both engines evaluate identically, so the ITERATIVE vote
# aggregation replays exactly — this is what made the simhash family
# oracle-able (it was rows-only while it used xxhash64).
_SIMHASH_FP_CTE = f"""
    WITH {_SHINGLE_CTE},
    hs AS (
      SELECT doc_id, {md5_hash60_duckdb_sql('shingle')} AS h FROM sh
    ),
    fpvotes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> CAST(b.bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hs, range(0, 60) b(bit)
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      FROM fpvotes GROUP BY 1
    )
"""


@query(
    "dedup_simhash",
    oracle=f"""
    {_SIMHASH_FP_CTE}
    SELECT doc_id, simhash FROM fp
    """,
    doc="60-bit SimHash fingerprint per doc (sign of per-bit shingle "
    "votes over the md5-derived hash) — full value oracle: DuckDB "
    "replays hash, votes and sign bit-for-bit.",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(balanced(spark, load_table(spark, sf_dir, "documents")))


@query(
    "dedup_simhash_neardup",
    oracle=f"""
    {_SIMHASH_FP_CTE},
    sp AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    )
    SELECT d1, d2, CAST(hamming AS INT) AS hamming FROM sp WHERE hamming <= 3
    """,
    doc="SimHash near-dup pairs (hamming <= 3) via pigeonhole banding: "
    "4 x 15-bit band equi-joins find every candidate (no misses by "
    "pigeonhole), bit_count(xor) verifies. The oracle brute-forces all "
    "pairs — banding must produce the identical set. "
    "operators/dedup.py simhash_neardup_pairs.",
    tags=("dedup", "simhash", "hamming"),
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(balanced(spark, load_table(spark, sf_dir, "documents")), max_hamming=3)


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(shared AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh) AS containment
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh) >= 0.9
    """,
    doc="Containment near-dup pairs (|A∩B| / min-set-size >= 0.9): the "
    "subsumption/quotation detector — a short doc fully embedded in a "
    "long one has tiny Jaccard but containment ~1, the case symmetric "
    "near-dup passes miss. Exact shingle self-join candidates "
    "(operators/dedup.py containment_pairs).",
    tags=("dedup", "containment", "jaccard"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        balanced(spark, load_table(spark, sf_dir, "documents")), threshold=0.9
    )


@query(
    "dedup_containment_lsh",
    # Bounds-oracle (the approximate-op policy, see COVERAGE.md): the
    # LSH candidate stage can in principle miss a pair (miss prob
    # (1-J)^32 per pair — ~1e-24 at size ratio 1, ~5% at ratio 10), so
    # the audit emits the exact containment-pair count (DuckDB replays
    # it), a structural zero false-pair count (exact containment
    # decides membership), and a recall >= 0.9 flag (measured 1.0 at
    # sf0.001/0.01/0.1 — this corpus's containment pairs are
    # near-symmetric in size, where the band bound is ~1e-24).
    oracle=f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS n_false_pairs,
           TRUE AS recall_ok
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh) >= 0.9
    """,
    doc="Containment dedup with the LSH candidate stage — the corpus-"
    "scale path that replaces dedup_containment's quadratic shingle "
    "self-join with one-row-per-minhash band buckets "
    "(operators/dedup.py containment_lsh_pairs; no shingle self-join "
    "anywhere in the plan, pinned by tests/test_plans.py::"
    "test_containment_lsh_has_no_shingle_self_join). Audited under "
    "the driver gate against the exact answer: zero false pairs "
    "(structural — exact containment decides membership) and recall "
    ">= 0.9.",
    tags=("dedup", "containment", "lsh", "scale", "audit"),
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_lsh_pairs, containment_pairs

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    exact = containment_pairs(docs, threshold=0.9).select("d1", "d2")
    approx = containment_lsh_pairs(docs, threshold=0.9).select("d1", "d2")
    return _containment_audit(exact, approx)


def _containment_audit(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared audit tail for the approximate containment queries:
    exact-pair count (DuckDB replays it), structural-zero false pairs,
    recall >= 0.9 flag."""
    from .audit import scalar_audit

    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_f = approx.join(exact, ["d1", "d2"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_false")
    )
    n_m = approx.join(exact, ["d1", "d2"], "leftsemi").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    return scalar_audit(n_e, n_f, n_m).select(
        F.col("n_exact").cast("bigint").alias("n_exact_pairs"),
        F.col("n_false").cast("bigint").alias("n_false_pairs"),
        (
            (F.col("n_exact") == 0)
            | (
                F.col("n_matched").cast("double") / F.col("n_exact").cast("double")
                >= 0.9
            )
        ).alias("recall_ok"),
    )


@query(
    "dedup_containment_lsh_ensemble",
    # Bounds-oracle, same shape as dedup_containment_lsh: the
    # size-stratified candidate stage's miss probability is <= 2% per
    # pair up to stratum-bound size ratio ~59 and degrades gracefully
    # past the 256-hash cap (operators/dedup.py
    # containment_lsh_ensemble_pairs' envelope), so the audit emits
    # the exact containment-pair count (DuckDB replays it), a
    # structural zero false-pair count (exact containment decides
    # membership), and a recall >= 0.9 flag (measured 1.0 at
    # sf0.001/0.01/0.1).
    oracle=f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS n_false_pairs,
           TRUE AS recall_ok
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh) >= 0.9
    """,
    doc="Containment dedup with LSH-Ensemble size-stratified banding "
    "(Zhu et al., VLDB 2016) — the extreme-ratio path: each doc's "
    "band budget comes from its size stratum, so a paragraph quoted "
    "inside a book (size ratio >= 50, Jaccard ~ 1/ratio, where flat "
    "b=32 banding misses >50% of pairs) still collides with >= 98% "
    "probability while same-size strata pay ~7 band rows per doc "
    "(operators/dedup.py containment_lsh_ensemble_pairs; planted "
    "ratio-61 recovery pinned by tests/test_scale_ops.py::"
    "test_containment_lsh_ensemble_recovers_paragraph_in_book, plan "
    "shape by tests/test_plans.py::"
    "test_containment_lsh_ensemble_plan_shape). Audited under the "
    "driver gate against the exact answer: zero false pairs "
    "(structural) and recall >= 0.9.",
    tags=("dedup", "containment", "lsh", "ensemble", "scale", "audit"),
)
def dedup_containment_lsh_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        containment_lsh_ensemble_pairs,
        containment_pairs,
    )

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    exact = containment_pairs(docs, threshold=0.9).select("d1", "d2")
    approx = containment_lsh_ensemble_pairs(docs, threshold=0.9).select("d1", "d2")
    return _containment_audit(exact, approx)


@query(
    "dedup_cc_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT d1, d2 FROM pairs
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
    ),
    edges AS (SELECT d1 AS u, d2 AS v FROM nd UNION SELECT d2, d1 FROM nd),
    walk(node, reach) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    labels AS (SELECT node AS doc_id, MIN(reach) AS canonical_id FROM walk GROUP BY node)
    SELECT doc_id, canonical_id,
           COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
    FROM labels
    """,
    doc="Near-dup CLUSTERS: Jaccard>=0.8 pairs -> connected components "
    "(alternating large-star/small-star, operators/components.py) -> "
    "one canonical doc per component. Oracle: DuckDB recursive-CTE "
    "reachability over the same exact pairs. Pairs alone under-delete "
    "transitive duplicate families; this is the full dedup decision.",
    tags=("dedup", "graph", "components", "iterative"),
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.components import connected_components

    pairs = ngram_jaccard_pairs_prefix(
        balanced(spark, load_table(spark, sf_dir, "documents")), threshold=0.8
    )
    cc = connected_components(pairs, src="d1", dst="d2")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(W.partitionBy("canonical_id")))


@query(
    "dedup_incremental_batch",
    # Same exact-Jaccard equivalence argument as dedup_minhash_lsh:
    # the threshold sits in the corpus's empirical similarity gap and
    # the band config's miss probability is ~1e-11, so the LSH-probed
    # result must equal the exact cross-side pair join.
    oracle=f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
    """,
    doc="Incremental batch dedup (the daily-increment workflow): docs "
    "with doc_id % 5 == 0 play the 'new batch', the rest the existing "
    "corpus. The batch's band hashes probe the corpus's LSH index "
    "(operators/dedup.py lsh_band_entries — persistable, bucketable) "
    "and only cross-side candidates verify with exact Jaccard. "
    "Signature work is O(|batch|); nothing quadratic in the corpus "
    "runs.",
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_incremental

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return minhash_lsh_incremental(old, new, threshold=0.8)


@query(
    "dedup_incremental_compacted",
    # Identical semantics (and oracle) to dedup_incremental_batch — the
    # difference under test is WHERE the index lives: a parquet table
    # bucketed by (band_id, band_hash), probed without broadcasting.
    oracle=f"""
    WITH {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
    """,
    doc="Incremental dedup against an ON-DISK index: the corpus's LSH "
    "band entries are materialized as a catalog table bucketed by "
    "(band_id, band_hash) (engine.write_bucketed — the amortize-once "
    "layout a 100 TB corpus keeps between daily batches), and the new "
    "batch probes it with a non-broadcast join, so the index side "
    "needs no exchange (plan pinned by tests/test_plans.py::"
    "test_compacted_lsh_probe_index_side_shuffle_free). Must return "
    "exactly what the in-memory probe returns.",
    tags=("dedup", "minhash", "lsh", "incremental", "layout"),
)
def dedup_incremental_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import PipelineEngine
    from ..operators.dedup import lsh_band_entries, minhash_lsh_incremental

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    # Fixed table name, overwritten per call (a DROP here would pull the
    # files out from under the lazily-evaluated result it returns).
    table = "sg_lsh_idx_compacted"
    eng = PipelineEngine(spark, "spark-warehouse")
    eng.write_bucketed(
        lsh_band_entries(old), table, ["band_id", "band_hash"], 8,
        ["band_id", "band_hash"],
    )
    return minhash_lsh_incremental(
        old, new, threshold=0.8, index=spark.table(table),
        broadcast_probe=False,
    )


@query(
    "dedup_dup_spans",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1],
                            toks[CAST(r.i AS INT)+2], toks[CAST(r.i AS INT)+3],
                            toks[CAST(r.i AS INT)+4], toks[CAST(r.i AS INT)+5],
                            toks[CAST(r.i AS INT)+6], toks[CAST(r.i AS INT)+7]) AS ngram
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 7
    ),
    occ AS (SELECT doc_id, ngram, COUNT(*) AS occ FROM grams GROUP BY 1, 2),
    flag AS (SELECT ngram, COUNT(*) >= 2 AS is_dup FROM occ GROUP BY 1),
    per AS (
      SELECT o.doc_id,
             SUM(o.occ) AS n_spans,
             SUM(CASE WHEN f.is_dup THEN o.occ ELSE 0 END) AS n_dup_spans
      FROM occ o JOIN flag f USING (ngram)
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0.0
                ELSE CAST(p.n_dup_spans AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
           END AS dup_frac,
           CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0.0
                ELSE CAST(p.n_dup_spans AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
           END < 0.3 AS keep
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc="Exact duplicated-span profile: for every doc, how many of its "
    "word-8-gram occurrences also appear in at least one other doc, "
    "plus the dup fraction and a keep verdict (dup_frac < 0.3). The "
    "corpus-wide exact-substring-dedup signal that catches shared "
    "passages below any pairwise-Jaccard threshold (operators/dedup.py "
    "dup_span_profile; one gram pipeline, doc-frequency via a window "
    "over the reduced (ngram, doc) set, spill-safe on hot n-grams).",
    tags=("dedup", "text", "spans"),
)
def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_span_profile

    return dup_span_profile(balanced(spark, load_table(spark, sf_dir, "documents")))


@query(
    "dedup_remove_spans",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(r.i - 1 AS BIGINT) AS pos,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1],
                            toks[CAST(r.i AS INT)+2], toks[CAST(r.i AS INT)+3],
                            toks[CAST(r.i AS INT)+4], toks[CAST(r.i AS INT)+5],
                            toks[CAST(r.i AS INT)+6], toks[CAST(r.i AS INT)+7]) AS ngram
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 7
    ),
    dup AS (
      SELECT doc_id, pos, pos + 7 AS e FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY ngram) AS mn,
                  MAX(doc_id) OVER (PARTITION BY ngram) AS mx
        FROM grams
      ) WHERE mn <> mx
    ),
    isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS nw
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, pos, e,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    iv AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e FROM isl2 GROUP BY 1, 2
    ),
    u AS (
      -- empty-norm guard: string_split('') is [''] (len 1) but Spark
      -- tokenizes '' to zero tokens
      SELECT n.doc_id, n.toks[CAST(r.i AS INT)] AS tok, CAST(r.i - 1 AS BIGINT) AS ti
      FROM norm n JOIN range(1, 1000000) r(i)
        ON r.i <= len(n.toks) AND array_to_string(n.toks, '') <> ''
    ),
    kept AS (
      SELECT u.doc_id, u.tok, u.ti FROM u
      WHERE NOT EXISTS (
        SELECT 1 FROM iv
        WHERE iv.doc_id = u.doc_id AND u.ti BETWEEN iv.s AND iv.e
      )
    ),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    nt AS (
      SELECT doc_id,
             CASE WHEN array_to_string(toks, '') = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(toks) AS BIGINT) END AS n_tokens
      FROM norm
    )
    SELECT nt.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           nt.n_tokens,
           CAST(nt.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
    FROM nt LEFT JOIN agg a USING (doc_id)
    """,
    doc="Duplicated-span REMOVAL: rebuild every document with the "
    "tokens inside duplicated word-8-gram spans (merged to maximal "
    "islands) deleted — the surgical transform behind "
    "dedup_span_coverage's metric, for when only boilerplate "
    "passages are shared and whole-doc dropping over-deletes. Same "
    "single gram pipeline + gaps-and-islands as the coverage op; the "
    "rebuild is a map-side array filter (per-token EXISTS over the "
    "doc's tiny interval list inside codegen, no UDF). FULL value "
    "oracle — DuckDB reconstructs every cleaned string "
    "(operators/dedup.py remove_dup_spans).",
    tags=("dedup", "text", "spans", "transform"),
)
def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_dup_spans

    return remove_dup_spans(balanced(spark, load_table(spark, sf_dir, "documents")))


@query(
    "dedup_span_coverage",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(r.i - 1 AS BIGINT) AS pos,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1],
                            toks[CAST(r.i AS INT)+2], toks[CAST(r.i AS INT)+3],
                            toks[CAST(r.i AS INT)+4], toks[CAST(r.i AS INT)+5],
                            toks[CAST(r.i AS INT)+6], toks[CAST(r.i AS INT)+7]) AS ngram
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 7
    ),
    dup AS (
      SELECT doc_id, pos, pos + 7 AS e FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY ngram) AS mn,
                  MAX(doc_id) OVER (PARTITION BY ngram) AS mx
        FROM grams
      ) WHERE mn <> mx
    ),
    isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS nw
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, pos, e,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    cov AS (
      SELECT doc_id, CAST(SUM(l) AS BIGINT) AS n_covered FROM (
        SELECT doc_id, island, MAX(e) - MIN(pos) + 1 AS l
        FROM isl2 GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT n.doc_id,
           nt.n AS n_tokens,
           CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
           CASE WHEN nt.n = 0 THEN 0.0
                ELSE CAST(COALESCE(c.n_covered, 0) AS DOUBLE) / CAST(nt.n AS DOUBLE)
           END AS coverage,
           CASE WHEN nt.n = 0 THEN 0.0
                ELSE CAST(COALESCE(c.n_covered, 0) AS DOUBLE) / CAST(nt.n AS DOUBLE)
           END < 0.5 AS keep
    FROM norm n
    -- empty-norm guard: string_split('') is [''] (len 1), but Spark's
    -- tokens('') is an empty array — 0 tokens, like text.py's _TOKS
    JOIN LATERAL (
      SELECT CASE WHEN array_to_string(n.toks, '') = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(n.toks) AS BIGINT) END AS n
    ) nt ON TRUE
    LEFT JOIN cov c USING (doc_id)
    """,
    doc="Duplicated-span TOKEN COVERAGE per doc: the fraction of tokens "
    "inside at least one cross-doc-duplicated word-8-gram, with "
    "overlapping spans merged by gaps-and-islands interval union — "
    "the removal metric of exact-substring dedup (what span surgery "
    "would actually delete), complementing dedup_dup_spans' occurrence "
    "counts. All-integer interval arithmetic; duplicated-ness via "
    "min!=max of doc_id over the ngram window keeps the corpus to ONE "
    "gram pipeline (operators/dedup.py dup_span_coverage).",
    tags=("dedup", "text", "spans", "coverage"),
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_span_coverage

    return dup_span_coverage(balanced(spark, load_table(spark, sf_dir, "documents")))


_LEAKAGE_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _leakage_split_oracle() -> str:
    from ..operators.sampling import split_assign_sql_case

    case = split_assign_sql_case(_LEAKAGE_SPLIT_WEIGHTS, "canonical_id")
    return f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT d1, d2 FROM pairs
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
    ),
    edges AS (SELECT d1 AS u, d2 AS v FROM nd UNION SELECT d2, d1 FROM nd),
    walk(node, reach) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    labels AS (SELECT node AS doc_id, MIN(reach) AS canonical_id FROM walk GROUP BY node),
    canon AS (
      SELECT d.doc_id, COALESCE(l.canonical_id, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    ),
    assigned AS (SELECT doc_id, canonical_id, {case} AS split FROM canon),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leak_pairs
      FROM nd
      JOIN assigned a1 ON nd.d1 = a1.doc_id
      JOIN assigned a2 ON nd.d2 = a2.doc_id
      WHERE a1.split <> a2.split
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
           leak_pairs
    FROM assigned, leak
    GROUP BY split, leak_pairs
    """


@query(
    "corpus_split_leakage_safe",
    # FULL value oracle: near-dup clusters replayed by the recursive-
    # CTE reachability of dedup_cc_clusters (singletons = their own
    # cluster), the split CASE applied to the CLUSTER id with the same
    # 32-bit mixer, the per-split report recomputed, and the leak
    # count (near-dup pairs straddling splits) emitted — 0 by
    # construction, and the oracle would catch any regression that
    # broke the invariant.
    oracle=_leakage_split_oracle(),
    doc="LEAKAGE-SAFE train/val/test split — the eval-hygiene step "
    "plain per-doc hashing misses: a near-duplicate of a training "
    "document landing in test inflates eval scores, so the split "
    "must assign whole NEAR-DUP CLUSTERS, not documents. Jaccard>=0.8 "
    "pairs -> connected components (the dedup_cc_clusters machinery; "
    "docs with no near-dup are their own cluster) -> the deterministic "
    "hash split applied to the CANONICAL id, so every member of a "
    "cluster lands in the same split by construction. Reports per "
    "split (n_docs, n_clusters) plus the cross-split near-dup pair "
    "count, which is structurally ZERO — the property the operator "
    "exists for, value-checked by the oracle.",
    tags=("dedup", "split", "training-data", "graph", "pipeline"),
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.sampling import split_assign

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    # The exact prefix-filtered pairing is the query's dominant cost
    # and is consumed by TWO separate jobs — the component solve
    # (which materializes its own distinct copy inside
    # connected_components) and the final job's leak audit.
    # localCheckpoint materializes it once per call; without it the
    # whole shingle+prefix+verify pipeline re-runs for the audit
    # (cross-job, so ReuseExchange can't help). Eager + call-local:
    # a fresh call recomputes, so bench iterations stay honest.
    pairs = (
        ngram_jaccard_pairs_prefix(docs, threshold=0.8)
        .select("d1", "d2")
        .localCheckpoint()
    )
    cc = connected_components(pairs, src="d1", dst="d2")
    labeled = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical_id"),
        )
    )
    # assigned feeds three subtrees of the final job (two leak-join
    # sides + the per-split report); it is doc-count rows of three
    # narrow columns, and checkpointing it collapses three doc-scan +
    # join + hash-split evaluations into one.
    assigned = split_assign(
        labeled, _LEAKAGE_SPLIT_WEIGHTS, id_col="canonical_id"
    ).localCheckpoint()
    leak = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("d1"), F.col("split").alias("s1")),
            "d1",
        )
        .join(
            assigned.select(F.col("doc_id").alias("d2"), F.col("split").alias("s2")),
            "d2",
        )
        .filter(F.col("s1") != F.col("s2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("leak_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("canonical_id").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
    )


def _cc_base_index_cached(spark: SparkSession, sf_dir: str) -> tuple:
    """Build-once STANDING dedup index of the base (80%) corpus (r10
    VERDICT #5): a production cluster index is built once and then
    MAINTAINED; the registered
    incremental audit was rebuilding the base labeling on every call
    (15.1 s at sf0.1, the #2 bench entry), billing the one-shot solve
    to an operator whose whole point is the O(batch) fold. The index
    is three persisted artifacts per corpus version: the component
    LABELS, the full SHINGLE table, and the rarest-first PREFIX
    entries (jaccard_prefix_index) the one-sided exact probe reads —
    so repeated calls read them back instead of re-solving/re-ranking.
    Returns (labels, sh_corpus, prefix_corpus) DataFrames."""
    import os

    from ..operators.components import connected_components
    from ..operators.dedup import jaccard_prefix_index, ngram_jaccard_pairs_prefix

    def build(path):
        docs = balanced(spark, load_table(spark, sf_dir, "documents"))
        old = docs.filter(F.col("doc_id") % 5 != 0)
        base = connected_components(
            ngram_jaccard_pairs_prefix(old, threshold=0.8), src="d1", dst="d2"
        )
        sh, prefix = jaccard_prefix_index(old, threshold=0.8)
        base.write.mode("overwrite").parquet(os.path.join(path, "labels"))
        sh.write.mode("overwrite").parquet(os.path.join(path, "shingles"))
        prefix.write.mode("overwrite").parquet(os.path.join(path, "prefix"))
        return path

    path = build_once("cc_base_index", table_version(sf_dir, "documents"), build)
    return (
        read_parquet_cached(spark, os.path.join(path, "labels")),
        read_parquet_cached(spark, os.path.join(path, "shingles")),
        read_parquet_cached(spark, os.path.join(path, "prefix")),
    )


@query(
    "dedup_cc_incremental",
    # FULL value oracle — and deliberately the SAME recursive-CTE
    # reachability as dedup_cc_clusters over the WHOLE corpus's exact
    # pairs: the one-shot answer. The Spark side computes it
    # INCREMENTALLY (base labels + batch-touching pairs through the
    # contraction), so the hash match IS the incremental ≡ one-shot
    # proof on real data, not a self-comparison. The batch pairing is
    # the EXACT shingle-join restriction (r10 ADVICE: LSH's ~1e-11
    # band-miss would silently break both the oracle match and the
    # equality the contraction fold guarantees only under a COMPLETE
    # batch pair set).
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT d1, d2 FROM pairs
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
    ),
    edges AS (SELECT d1 AS u, d2 AS v FROM nd UNION SELECT d2, d1 FROM nd),
    walk(node, reach) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    labels AS (SELECT node AS doc_id, MIN(reach) AS canonical_id FROM walk GROUP BY node)
    SELECT doc_id, canonical_id,
           COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
    FROM labels
    """,
    doc="INCREMENTAL near-dup cluster maintenance — the missing loop "
    "between incremental PAIRING (dedup_incremental_batch) and the "
    "cluster index a dedup pipeline actually serves: an arriving "
    "batch's pairs (EXACT shingle-join cross side + exact "
    "within-batch — deterministic, so the contraction's incremental "
    "≡ one-shot equality is unconditional; the LSH-probed pairing "
    "stays the at-scale serving path, audited by "
    "dedup_incremental_batch) fold "
    "into the EXISTING component labeling via contraction — old "
    "components collapse to their representatives, large-star/small-"
    "star runs on the contracted graph (one node per TOUCHED "
    "component, O(batch) edges), and one join re-routes affected "
    "labels. The base labeling is the cached STANDING index (built "
    "once per corpus version, like every served index here), so this "
    "query bills the per-batch fold: O(batch + touched components), "
    "never O(all historical pairs); min-id labels compose exactly, so "
    "incremental ≡ one-shot (operators/components.py "
    "incremental_components; equality pinned by tests/"
    "test_incremental.py::test_incremental_components_equals_oneshot "
    "and value-checked here by the ONE-SHOT oracle).",
    tags=("dedup", "graph", "components", "incremental", "scale"),
)
def dedup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.components import incremental_components
    from ..operators.dedup import (
        ngram_jaccard_pairs_prefix,
        ngram_jaccard_probe_pairs,
        shingle_sets,
    )

    docs = balanced(spark, load_table(spark, sf_dir, "documents"))
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base_labels, sh_corpus, prefix_corpus = _cc_base_index_cached(spark, sf_dir)
    sh_new = shingle_sets(new).localCheckpoint()  # one shingle pass per batch
    batch_pairs = (
        ngram_jaccard_probe_pairs(
            sh_corpus, prefix_corpus, new, threshold=0.8, sh_new=sh_new
        )
        .select("d1", "d2")
        .unionByName(
            ngram_jaccard_pairs_prefix(new, threshold=0.8, sh=sh_new).select(
                "d1", "d2"
            )
        )
        # materialized once: the contraction references the batch pair
        # set twice (edge contraction + new-node resolution), and the
        # pair batch is a real artifact of the ingest loop anyway
        .localCheckpoint()
    )
    updated = incremental_components(base_labels, batch_pairs, src="d1", dst="d2")
    return updated.select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(W.partitionBy("canonical_id")))
