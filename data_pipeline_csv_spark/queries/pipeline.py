"""Training-corpus pipeline compositions over ``documents``.

These are the end-to-end decisions an LLM-data pipeline actually
ships: which doc survives its near-dup cluster, why docs get dropped,
and how to draw a balanced sample. Each composes operators that are
individually oracle-checked (ngram Jaccard pairs, connected
components, the text_profile quality formula) into ONE lazy plan —
no driver-side loops, no intermediate materialization beyond the
components iteration.

Determinism: quality is the text_profile formula (hash-verified
bit-identical vs DuckDB); cluster winners order by (quality DESC,
doc_id) with quality coalesced to -1 so engines with different
NULL-ordering defaults agree on empty documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text_funcs import STOPWORDS, alpha_ratio, stopword_hits, tokens
from ..operators.components import connected_components
from ..operators.dedup import ngram_jaccard_pairs_prefix
from ..operators.sampling import split_assign_sql_case, uniform_from_id_sql
from ..sources.tables import balanced, load_table
from .dedup import _SHINGLE_CTE
from .registry import query
from .text import _NORM, _TOKS, _in_list


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return balanced(spark, load_table(spark, sf_dir, "documents"))


def _quality_cols(df: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, a_ratio, stop_ratio, quality) — the
    text_profile quality formula, one map-side projection."""
    df = df.withColumn("_toks", tokens("text"))
    n_tokens = F.size("_toks").cast("bigint")
    stop_ratio = stopword_hits(F.col("_toks"), "en").cast("double") / F.nullif(
        n_tokens, F.lit(0)
    )
    quality = (
        0.4 * F.least(n_tokens.cast("double") / 64.0, F.lit(1.0))
        + 0.3 * stop_ratio
        + 0.3 * alpha_ratio("text")
    )
    return df.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        alpha_ratio("text").alias("a_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


_QUALITY_SQL = f"""
      SELECT doc_id, lang,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0) AS a_ratio,
        CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['en'])}))) AS DOUBLE)
          / NULLIF(len(toks), 0) AS stop_ratio,
        0.4 * LEAST(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
          + 0.3 * (CAST(len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS['en'])}))) AS DOUBLE) / NULLIF(len(toks), 0))
          + 0.3 * (CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0)) AS quality
      FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)
"""


@query(
    "corpus_dedup_keep_best",
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
    labels AS (SELECT node AS doc_id, MIN(reach) AS comp FROM walk GROUP BY node),
    q AS ({_QUALITY_SQL}),
    together AS (
      SELECT q.doc_id, COALESCE(l.comp, q.doc_id) AS cluster_id, q.quality
      FROM q LEFT JOIN labels l ON q.doc_id = l.doc_id
    ),
    ranked AS (
      SELECT doc_id, cluster_id, quality,
        COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY COALESCE(quality, -1.0) DESC, doc_id ASC) AS rn
      FROM together
    )
    SELECT doc_id, cluster_id, quality, CAST(cluster_size AS BIGINT) AS cluster_size, rn = 1 AS keep
    FROM ranked
    """,
    doc="The full dedup decision: exact-Jaccard near-dup pairs -> "
    "connected components -> every doc labeled with its cluster, and "
    "the highest-quality doc per cluster kept (ties to lowest doc_id; "
    "singletons keep themselves). One lazy plan: corpus-wide work is "
    "the pair join + the O(log^2 n) components rounds; the quality "
    "ranking is a single window over one shuffle on cluster_id.",
    tags=("dedup", "pipeline", "graph", "quality"),
)
def corpus_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs_prefix(docs, threshold=0.8)
    cc = connected_components(pairs, src="d1", dst="d2")
    q = _quality_cols(docs)
    together = (
        q.join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
            "quality",
        )
    )
    w_rank = W.partitionBy("cluster_id").orderBy(
        F.coalesce(F.col("quality"), F.lit(-1.0)).desc(), F.col("doc_id").asc()
    )
    w_size = W.partitionBy("cluster_id")
    return together.select(
        "doc_id",
        "cluster_id",
        "quality",
        F.count(F.lit(1)).over(w_size).alias("cluster_size"),
        (F.row_number().over(w_rank) == 1).alias("keep"),
    )


@query(
    "corpus_quality_funnel",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    reasons AS (
      SELECT CASE
        WHEN n_tokens < 16 THEN 'too_short'
        WHEN a_ratio < 0.5 THEN 'low_alpha'
        WHEN stop_ratio < 0.05 THEN 'low_stopword'
        ELSE 'keep' END AS reason,
        n_tokens
      FROM q
    )
    SELECT reason,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
    FROM reasons GROUP BY reason
    """,
    doc="Drop-reason funnel for the quality filter: first failing rule "
    "per doc (length -> alpha composition -> stopword density), doc and "
    "token counts per reason, corpus share. Map-side classify + one "
    "tiny groupBy; the share divides exact integer counts, so it is "
    "engine-portable bit-for-bit.",
    tags=("text", "quality", "pipeline"),
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _quality_cols(_docs(spark, sf_dir))
    reason = (
        F.when(F.col("n_tokens") < 16, "too_short")
        .when(F.col("a_ratio") < 0.5, "low_alpha")
        .when(F.col("stop_ratio") < 0.05, "low_stopword")
        .otherwise("keep")
    )
    counted = (
        q.select(reason.alias("reason"), "n_tokens")
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )
    return counted.select(
        "reason",
        "n_docs",
        "sum_tokens",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(W.partitionBy())).alias(
            "share"
        ),
    )


@query(
    "sample_stratified_docs",
    oracle=f"""
    SELECT lang, doc_id, strat_rank FROM (
      SELECT lang, doc_id,
        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS strat_rank
      FROM documents
    ) WHERE strat_rank <= 20
    """,
    doc="Deterministic stratified sample: fixed-size per-language "
    "strata (first 20 doc_ids per lang). One shuffle on the stratum "
    "key; at scale swap the window for a per-partition reservoir if "
    "strata are hot, but fixed-k-per-stratum keeps resumability exact.",
    tags=("sampling", "pipeline"),
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("lang").orderBy("doc_id")
    return (
        _docs(spark, sf_dir)
        .select("lang", "doc_id", F.row_number().over(w).alias("strat_rank"))
        .filter(F.col("strat_rank") <= 20)
    )


_CONTAM_SHINGLE_CTE = """
    norm AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, source,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1], toks[CAST(r.i AS INT)+2]) AS shingle
      FROM norm JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH {_CONTAM_SHINGLE_CTE},
    pairs AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS shared
      FROM sh t JOIN sh e ON t.shingle = e.shingle
      WHERE t.source <> 'src0' AND e.source = 'src0'
      GROUP BY 1, 2
    )
    SELECT train_id, eval_id,
           CAST(shared AS DOUBLE) / (ts.n_sh + es.n_sh - shared) AS jaccard
    FROM pairs
    JOIN sizes ts ON train_id = ts.doc_id
    JOIN sizes es ON eval_id = es.doc_id
    WHERE CAST(shared AS DOUBLE) / (ts.n_sh + es.n_sh - shared) >= 0.5
    """,
    doc="Benchmark decontamination: training docs (source <> 'src0') "
    "whose word-3-gram Jaccard with any eval doc (source = 'src0') is "
    ">= 0.5. The eval shingle set is broadcast, so the candidate join "
    "is one map-side pass over the training corpus — no corpus "
    "shuffle at any training-set size (operators/dedup.py "
    "cross_corpus_overlap).",
    tags=("dedup", "pipeline", "contamination"),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cross_corpus_overlap

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    return cross_corpus_overlap(train, eval_set, threshold=0.5)


@query(
    "corpus_decontaminate_bloom",
    # SAME full SQL oracle as corpus_decontaminate: the Bloom prefilter
    # has zero false negatives and exact Jaccard over full shingle sets
    # decides membership, so the output is bit-identical to the
    # broadcast-join path — the oracle proves it every round.
    oracle=f"""
    WITH {_CONTAM_SHINGLE_CTE},
    pairs AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS shared
      FROM sh t JOIN sh e ON t.shingle = e.shingle
      WHERE t.source <> 'src0' AND e.source = 'src0'
      GROUP BY 1, 2
    )
    SELECT train_id, eval_id,
           CAST(shared AS DOUBLE) / (ts.n_sh + es.n_sh - shared) AS jaccard
    FROM pairs
    JOIN sizes ts ON train_id = ts.doc_id
    JOIN sizes es ON eval_id = es.doc_id
    WHERE CAST(shared AS DOUBLE) / (ts.n_sh + es.n_sh - shared) >= 0.5
    """,
    doc="Benchmark decontamination behind a broadcast BLOOM FILTER of "
    "the eval shingles (Bloom 1970) — the many-benchmark scale path: "
    "the bitset is m/8 bytes flat (128 KiB at the default) however "
    "large the eval shingle STRINGS grow, has zero false negatives, "
    "and prunes the training corpus to candidate docs before any "
    "join runs (positions via salted xxhash64+pmod JVM-side; "
    "membership a vectorized Arrow-batched bit test; ~1% false "
    "positives cost only wasted verification). Output bit-identical "
    "to corpus_decontaminate — same exact-Jaccard verification, same "
    "full SQL oracle (operators/dedup.py cross_corpus_overlap_bloom; "
    "pruning pinned by tests/test_scale_ops.py::"
    "test_bloom_decontaminate_matches_exact_and_prunes).",
    tags=("dedup", "pipeline", "contamination", "bloom", "scale"),
)
def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cross_corpus_overlap_bloom

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    return cross_corpus_overlap_bloom(
        train, eval_set, threshold=0.5, cache_key=(sf_dir, "src0")
    )


@query(
    "corpus_pack_global",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    chunks AS (
      SELECT doc_id, CAST(r.k AS INT) AS chunk_idx,
             CAST(len(list_slice(toks, 1 + 24 * CAST(r.k AS INT), 1 + 24 * CAST(r.k AS INT) + 31)) AS BIGINT) AS n_tokens
      FROM t JOIN range(0, 1000000) r(k)
        ON 1 + 24 * r.k <= GREATEST(len(toks), 1)
    ),
    keyed AS (
      SELECT doc_id, chunk_idx, n_tokens,
             {uniform_from_id_sql('doc_id')} AS u
      FROM chunks
    )
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (
                  ORDER BY u ASC, doc_id ASC, chunk_idx ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tokens) / 64.0) AS BIGINT) AS pack_id
    FROM keyed
    """,
    doc="GLOBAL concat-and-chunk sequence packing: every 32/24 context "
    "chunk of the whole corpus laid on one deterministic token tape "
    "(order = the RNG-free doc shuffle key) and cut into 64-token "
    "packs — the GPT-style layout that wastes no per-doc tail, vs "
    "corpus_pack_sequences' per-doc packing. The running sum is a "
    "distributed TWO-PASS PREFIX SUM (per-bucket local cumsum, one "
    "task per bucket, + an n_buckets-row offset window), never a "
    "global-order window sorting the corpus in one task; the oracle "
    "replays the same assignment with a plain global window and must "
    "match bit-for-bit (operators/sampling.py pack_chunks_global).",
    tags=("pipeline", "packing", "shuffle", "scale"),
)
def corpus_pack_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pack_chunks_global

    toks = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("_toks"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("_toks"), F.lit(1)), F.lit(24))
    chunks = toks.select(
        "doc_id", F.posexplode(starts).alias("chunk_idx", "_start"), F.col("_toks")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(F.slice(F.col("_toks"), F.col("_start"), 32)).cast("bigint").alias("n_tokens"),
    )
    return pack_chunks_global(chunks, seq_len=64, n_buckets=16)


@query(
    "corpus_dsir_select",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id, source, unnest(toks) AS ng FROM t0
      UNION ALL
      SELECT doc_id, source,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1]) AS ng
      FROM t0 JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 1
    ),
    bk AS (
      SELECT doc_id, source,
             CAST(CONCAT('0x', SUBSTR(md5(ng), 1, 8)) AS BIGINT) % 1024 AS b
      FROM f
    ),
    tc AS (SELECT b, COUNT(*) AS ct FROM bk WHERE source = 'src0' GROUP BY b),
    rf AS (SELECT doc_id, b FROM bk WHERE source <> 'src0'),
    rc AS (SELECT b, COUNT(*) AS cr FROM rf GROUP BY b),
    nt AS (SELECT COUNT(*) AS nt FROM bk WHERE source = 'src0'),
    nr AS (SELECT COUNT(*) AS nr FROM rf),
    sc AS (
      SELECT rc.b,
             CAST(FLOOR((ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE))
                       - ln(CAST(nt.nt + 1024 AS DOUBLE))
                       - ln(CAST(rc.cr + 1 AS DOUBLE))
                       + ln(CAST(nr.nr + 1024 AS DOUBLE))) * 1000000.0) AS BIGINT) AS r_fp
      FROM rc LEFT JOIN tc USING (b) CROSS JOIN nt CROSS JOIN nr
    ),
    pd AS (
      SELECT doc_id, SUM(c * r_fp) AS w_fp FROM (
        SELECT doc_id, b, COUNT(*) AS c FROM rf GROUP BY 1, 2
      ) dc JOIN sc USING (b) GROUP BY doc_id
    ),
    d AS (
      SELECT t0.doc_id,
             CAST(COALESCE(pd.w_fp, 0) AS BIGINT) AS weight_fp,
             CAST(COALESCE(pd.w_fp, 0) AS DOUBLE) / 1000000.0
               - ln(-ln({uniform_from_id_sql('t0.doc_id')})) AS key
      FROM t0 LEFT JOIN pd USING (doc_id)
      WHERE t0.source <> 'src0'
    )
    SELECT doc_id, weight_fp, rank FROM (
      SELECT doc_id, weight_fp,
             CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS INT) AS rank
      FROM d
    ) WHERE rank <= 50
    """,
    doc="DSIR data selection (Xie et al., NeurIPS 2023): the 50 "
    "training docs whose hashed unigram+bigram distribution is most "
    "like the src0 target domain, by importance weight "
    "log(p_target/p_raw) over 1024 md5-hashed buckets with add-one "
    "smoothing, sampled without replacement via Gumbel-top-k on the "
    "RNG-free id mixer. Bucket log-ratios are floored to 1e-6-nat "
    "fixed point, so per-doc weights are exact int64 sums and the "
    "oracle replays every weight bit-for-bit; the top-k plans as "
    "TakeOrderedAndProject (per-partition k + driver merge), no "
    "global sort (operators/sampling.py dsir_select).",
    tags=("pipeline", "sampling", "selection", "dsir", "scale"),
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import dsir_select

    docs = _docs(spark, sf_dir)
    raw = docs.filter(F.col("source") != "src0")
    target = docs.filter(F.col("source") == "src0")
    return dsir_select(raw, target, k=50, n_buckets=1024)


@query(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {uniform_from_id_sql('doc_id')} AS u FROM documents
    )
    SELECT doc_id,
           CAST(LEAST(FLOOR(u * 16), 15) AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY LEAST(FLOOR(u * 16), 15) ORDER BY u ASC, doc_id ASC
           ) AS BIGINT) AS pos
    FROM s
    """,
    doc="Deterministic global corpus shuffle into 16 training shards — "
    "the data-order step before writing pre-training shards: shuffle "
    "key and shard from the same RNG-free id mixer as the sampling "
    "family (stable across re-runs, partitionings and corpus growth), "
    "within-shard position from the (key, id) order. Map-side "
    "projection + one sorting task per output shard (the "
    "writer-per-shard topology a sharded write has anyway; at 100 TB "
    "n_shards is thousands, not 16). FULL value oracle: DuckDB "
    "recomputes every (doc_id, shard, pos) bit-for-bit "
    "(operators/sampling.py shuffle_into_shards).",
    tags=("pipeline", "sampling", "shuffle", "sharding"),
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import shuffle_into_shards

    return shuffle_into_shards(_docs(spark, sf_dir), n_shards=16)


@query(
    "corpus_write_shards",
    # Same arithmetic oracle as corpus_shuffle_shards — but the Spark
    # side answers from the WRITTEN FILES: pos is reconstructed from
    # each shard file's physical row order (_metadata.row_index), so a
    # wrong write topology (rows out of order, a shard split across
    # interleaved files, a doc in the wrong directory) hash-mismatches
    # even though the assignment math is identical.
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {uniform_from_id_sql('doc_id')} AS u FROM documents
    )
    SELECT doc_id,
           CAST(LEAST(FLOOR(u * 16), 15) AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY LEAST(FLOOR(u * 16), 15) ORDER BY u ASC, doc_id ASC
           ) AS BIGINT) AS pos
    FROM s
    """,
    doc="The materialized training-shard WRITER — what "
    "corpus_shuffle_shards' assignment exists for: write the corpus as "
    "one Hive directory per shard with exactly one parquet file per "
    "shard, rows physically ordered by the deterministic shuffle "
    "position (operators/sampling.py write_training_shards; the "
    "assignment window's hash partitioning on shard IS the write "
    "topology — no extra exchange, one task-local sort). The query "
    "READS THE FILES BACK and reconstructs (doc_id, shard, pos) from "
    "physical order via _metadata.row_index; the oracle replays the "
    "shuffle arithmetic, so any order/placement defect in the written "
    "bytes fails the hash. One-file-per-shard and written-pos checks: "
    "tests/test_scale_ops.py::test_write_training_shards_layout.",
    tags=("pipeline", "sampling", "sharding", "sink", "layout"),
)
def corpus_write_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..artifacts import scratch_dir
    from ..operators.sampling import write_training_shards

    # the returned DataFrame reads the shards back: they live until exit
    out = scratch_dir("shards_")
    write_training_shards(
        _docs(spark, sf_dir).select("doc_id", "text"), out, n_shards=16
    )
    rb = spark.read.parquet(out)
    w = W.partitionBy("shard").orderBy(
        F.col("_file").asc(), F.col("_ridx").asc()
    )
    return (
        rb.select(
            "doc_id",
            F.col("shard").cast("int").alias("shard"),
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_ridx"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    chunks AS (
      SELECT doc_id, CAST(r.k AS INT) AS chunk_idx,
             list_slice(toks, 1 + 24 * CAST(r.k AS INT), 1 + 24 * CAST(r.k AS INT) + 31) AS c
      FROM t JOIN range(0, 1000000) r(k)
        ON 1 + 24 * r.k <= GREATEST(len(toks), 1)
    )
    SELECT doc_id, chunk_idx,
           array_to_string(c, ' ') AS chunk_text,
           CAST(len(c) AS INT) AS n_tokens
    FROM chunks
    """,
    doc="Context-window chunking: split each doc into 32-token windows "
    "with stride 24 (8-token overlap) — the training-prep pass that "
    "turns documents into model-sized pieces. Pure map-side "
    "posexplode over per-row start offsets; no shuffle at any corpus "
    "size.",
    tags=("text", "pipeline", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("_toks"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("_toks"), F.lit(1)), F.lit(24))
    return (
        toks.select("doc_id", "_toks", F.posexplode(starts).alias("chunk_idx", "_start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_start"), 32)).alias("chunk_text"),
            F.size(F.slice(F.col("_toks"), F.col("_start"), 32)).cast("int").alias("n_tokens"),
        )
    )


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    chunks AS (
      SELECT doc_id, CAST(r.k AS INT) AS chunk_idx,
             CAST(len(list_slice(toks, 1 + 24 * CAST(r.k AS INT), 1 + 24 * CAST(r.k AS INT) + 31)) AS BIGINT) AS n_tokens
      FROM t JOIN range(0, 1000000) r(k)
        ON 1 + 24 * r.k <= GREATEST(len(toks), 1)
    ),
    assigned AS (
      SELECT doc_id, chunk_idx, n_tokens,
        CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 64.0) AS BIGINT) AS pack_id
      FROM chunks
    )
    SELECT doc_id, pack_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
      CAST(SUM(n_tokens) AS DOUBLE) / 64.0 AS fill_ratio
    FROM assigned GROUP BY doc_id, pack_id
    """,
    doc="Sequence packing: the 32/24 context-window chunks are packed "
    "into 64-token training sequences by a per-document running token "
    "sum (pack_id = floor(exclusive-cumsum / budget)), then each pack "
    "reports its chunk count, token total, and fill ratio. The window "
    "partitions by doc_id — never a global ordering — so packing "
    "scales with the corpus; cross-doc pack merging at 100 TB is a "
    "downstream concat of already-sized packs. Exact integer sums; "
    "fill_ratio is one IEEE divide.",
    tags=("pipeline", "chunking", "packing"),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select("doc_id", tokens("text").alias("_toks"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("_toks"), F.lit(1)), F.lit(24))
    chunks = toks.select(
        "doc_id", F.posexplode(starts).alias("chunk_idx", "_start"), F.col("_toks")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(F.slice(F.col("_toks"), F.col("_start"), 32)).cast("bigint").alias("n_tokens"),
    )
    w = W.partitionBy("doc_id").orderBy("chunk_idx").rowsBetween(W.unboundedPreceding, 0)
    assigned = chunks.select(
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 64.0).cast("bigint").alias("pack_id"),
    )
    return assigned.groupBy("doc_id", "pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        (F.sum("n_tokens").cast("double") / 64.0).alias("fill_ratio"),
    )


_MIX_TARGETS = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}


@query(
    "sample_mixture_weights",
    oracle=f"""
    WITH per AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per)
    SELECT lang, n_docs,
      CAST(n_docs AS DOUBLE) / total AS actual_share,
      CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS.items())} ELSE 0.0 END AS target_share,
      (CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS.items())} ELSE 0.0 END)
        / (CAST(n_docs AS DOUBLE) / total) AS weight
    FROM per, tot
    ORDER BY lang
    """,
    doc="Domain-mixture reweighting: per-language corpus share vs a "
    "target mixture, and the per-doc sampling weight (target/actual) "
    "a weighted sampler would apply. Exact integer counts; shares and "
    "weights are single IEEE divides, bit-identical across engines.",
    tags=("sampling", "pipeline", "mixture"),
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _docs(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").cast("bigint").alias("total"))
    target = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_TARGETS.items()],
        F.lit(0.0),
    )
    actual = F.col("n_docs").cast("double") / F.col("total")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            actual.alias("actual_share"),
            target.alias("target_share"),
            (target / actual).alias("weight"),
        )
        .orderBy("lang")
    )


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT lang, doc_id,
             GREATEST(CAST(n_chars AS DOUBLE), 1.0) AS w,
             ln({uniform_from_id_sql('doc_id')})
               / GREATEST(CAST(n_chars AS DOUBLE), 1.0) AS k
      FROM documents
    )
    SELECT lang, doc_id, CAST(w AS BIGINT) AS weight, CAST(rank AS INT) AS rank
    FROM (
      SELECT lang, doc_id, w,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS rank
      FROM keyed
    ) WHERE rank <= 20
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis "
    "reservoir top-k): 20 docs per language drawn with probability "
    "proportional to document length — the training-data mixture "
    "sampler. Map-side key (deterministic 32-bit mixer -> ln(u)/w), "
    "one per-stratum window whose rank<=k filter pushes a "
    "WindowGroupLimit below the exchange, so tasks forward at most k "
    "rows per language; no corpus-wide sort or full shuffle.",
    tags=("sampling", "pipeline", "reservoir", "weighted"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample_topk

    return weighted_sample_topk(
        _docs(spark, sf_dir), k=20, weight_col="n_chars", stratum_col="lang"
    )


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


@query(
    "corpus_split_report",
    oracle=f"""
    SELECT lang,
           {split_assign_sql_case(_SPLIT_WEIGHTS, 'doc_id')} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1, 2
    """,
    doc="Deterministic hash-based train/val/test split (90/5/5) with a "
    "per-language audit report: each doc's split depends only on its "
    "own id (the same 32-bit mixer as the weighted reservoir), so "
    "assignments survive re-runs, repartitioning and corpus growth. "
    "The assignment itself is a pure map-side CASE; the report is one "
    "small (lang, split) agg.",
    tags=("sampling", "pipeline", "split", "training-data"),
)
def corpus_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import split_assign

    docs = split_assign(_docs(spark, sf_dir), _SPLIT_WEIGHTS)
    return docs.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


@query(
    "corpus_e2e_prep",
    # Round-8 recomposition: the chain now exercises the CURRENT best
    # pipeline — quality gate -> exact dedup -> Bloom-prefiltered
    # decontamination vs the src0 eval set -> near-dup clusters ->
    # best-per-cluster -> DSIR selection toward the src0 target ->
    # duplicated-span surgery on the selected set -> deterministic
    # shuffle into training shards. Each fragment below is the same
    # SQL its standalone query ships (corpus_decontaminate_bloom,
    # corpus_dsir_select, dedup_remove_spans/dedup_span_coverage,
    # corpus_shuffle_shards), composed end to end. Every CTE is
    # MATERIALIZED: DuckDB otherwise inlines a CTE at each reference,
    # and this chain reads most of its CTEs more than once (inlined,
    # the sf0.001 replay took ~257 s).
    oracle=f"""
    WITH RECURSIVE {_CONTAM_SHINGLE_CTE.replace(" AS (", " AS MATERIALIZED (")},
    q AS MATERIALIZED ({_QUALITY_SQL}),
    kept AS MATERIALIZED (
      SELECT q.doc_id, q.quality FROM q
      JOIN documents d ON q.doc_id = d.doc_id
      WHERE d.source <> 'src0'
        AND q.n_tokens >= 16 AND q.a_ratio >= 0.5 AND q.stop_ratio >= 0.05
    ),
    surv AS MATERIALIZED (
      SELECT d.doc_id, k.quality,
             trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nrm
      FROM documents d JOIN kept k USING (doc_id)
    ),
    uniq AS MATERIALIZED (
      SELECT doc_id, quality FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nrm ORDER BY doc_id) AS rn FROM surv
      ) WHERE rn = 1
    ),
    cpairs AS MATERIALIZED (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS shared
      FROM sh t JOIN sh e ON t.shingle = e.shingle
      WHERE t.source <> 'src0' AND e.source = 'src0'
      GROUP BY 1, 2
    ),
    contam AS MATERIALIZED (
      SELECT DISTINCT train_id AS doc_id FROM cpairs
      JOIN sizes ts ON train_id = ts.doc_id
      JOIN sizes es ON eval_id = es.doc_id
      WHERE CAST(shared AS DOUBLE) / (ts.n_sh + es.n_sh - shared) >= 0.5
    ),
    clean AS MATERIALIZED (
      SELECT u.doc_id, u.quality FROM uniq u
      LEFT JOIN contam c USING (doc_id) WHERE c.doc_id IS NULL
    ),
    sh2 AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh s JOIN clean c USING (doc_id)),
    prs AS MATERIALIZED (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    nd AS MATERIALIZED (
      SELECT d1, d2 FROM prs
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(shared AS DOUBLE) / (s1.n_sh + s2.n_sh - shared) >= 0.8
    ),
    edges AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM nd UNION SELECT d2, d1 FROM nd),
    walk(node, reach) AS MATERIALIZED (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    labels AS MATERIALIZED (SELECT node AS doc_id, MIN(reach) AS comp FROM walk GROUP BY node),
    winners AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY COALESCE(l.comp, c.doc_id)
                 ORDER BY COALESCE(c.quality, -1.0) DESC, c.doc_id ASC
               ) AS rw
        FROM clean c LEFT JOIN labels l USING (doc_id)
      ) WHERE rw = 1
    ),
    dn AS MATERIALIZED (
      SELECT d.doc_id, d.source, {_TOKS} AS toks FROM documents d
      WHERE d.source = 'src0' OR d.doc_id IN (SELECT doc_id FROM winners)
    ),
    f AS MATERIALIZED (
      SELECT doc_id, source, unnest(toks) AS ng FROM dn
      UNION ALL
      SELECT doc_id, source,
             concat_ws(' ', toks[CAST(r.i AS INT)], toks[CAST(r.i AS INT)+1]) AS ng
      FROM dn JOIN range(1, 1000000) r(i) ON r.i <= len(toks) - 1
    ),
    bk AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(CONCAT('0x', SUBSTR(md5(ng), 1, 8)) AS BIGINT) % 1024 AS b
      FROM f
    ),
    tc AS MATERIALIZED (SELECT b, COUNT(*) AS ct FROM bk WHERE source = 'src0' GROUP BY b),
    rf AS MATERIALIZED (SELECT doc_id, b FROM bk WHERE source <> 'src0'),
    rc AS MATERIALIZED (SELECT b, COUNT(*) AS cr FROM rf GROUP BY b),
    ntc AS MATERIALIZED (SELECT COUNT(*) AS nt FROM bk WHERE source = 'src0'),
    nrc AS MATERIALIZED (SELECT COUNT(*) AS nr FROM rf),
    sc AS MATERIALIZED (
      SELECT rc.b,
             CAST(FLOOR((ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE))
                       - ln(CAST(ntc.nt + 1024 AS DOUBLE))
                       - ln(CAST(rc.cr + 1 AS DOUBLE))
                       + ln(CAST(nrc.nr + 1024 AS DOUBLE))) * 1000000.0) AS BIGINT) AS r_fp
      FROM rc LEFT JOIN tc USING (b) CROSS JOIN ntc CROSS JOIN nrc
    ),
    pd AS MATERIALIZED (
      SELECT doc_id, SUM(c * r_fp) AS w_fp FROM (
        SELECT doc_id, b, COUNT(*) AS c FROM rf GROUP BY 1, 2
      ) dc JOIN sc USING (b) GROUP BY doc_id
    ),
    dk AS MATERIALIZED (
      SELECT w.doc_id,
             CAST(COALESCE(pd.w_fp, 0) AS DOUBLE) / 1000000.0
               - ln(-ln({uniform_from_id_sql('w.doc_id')})) AS key
      FROM winners w LEFT JOIN pd USING (doc_id)
    ),
    sel AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS rnk
        FROM dk
      ) WHERE rnk <= 100
    ),
    g8 AS MATERIALIZED (
      SELECT n.doc_id, CAST(r.i - 1 AS BIGINT) AS pos,
             concat_ws(' ', n.toks[CAST(r.i AS INT)], n.toks[CAST(r.i AS INT)+1],
                            n.toks[CAST(r.i AS INT)+2], n.toks[CAST(r.i AS INT)+3],
                            n.toks[CAST(r.i AS INT)+4], n.toks[CAST(r.i AS INT)+5],
                            n.toks[CAST(r.i AS INT)+6], n.toks[CAST(r.i AS INT)+7]) AS ngram
      FROM norm n JOIN sel USING (doc_id)
      JOIN range(1, 1000000) r(i) ON r.i <= len(n.toks) - 7
    ),
    dup8 AS MATERIALIZED (
      SELECT doc_id, pos, pos + 7 AS e FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY ngram) AS mn,
                  MAX(doc_id) OVER (PARTITION BY ngram) AS mx
        FROM g8
      ) WHERE mn <> mx
    ),
    i8 AS MATERIALIZED (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS nw
      FROM dup8
    ),
    i82 AS MATERIALIZED (
      SELECT doc_id, pos, e,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM i8
    ),
    cov AS MATERIALIZED (
      SELECT doc_id, CAST(SUM(l) AS BIGINT) AS n_covered FROM (
        SELECT doc_id, island, MAX(e) - MIN(pos) + 1 AS l FROM i82 GROUP BY 1, 2
      ) GROUP BY 1
    ),
    ct AS MATERIALIZED (
      SELECT s.doc_id,
             CAST(q.n_tokens - COALESCE(c.n_covered, 0) AS BIGINT) AS n_tokens_clean
      FROM sel s JOIN q ON s.doc_id = q.doc_id LEFT JOIN cov c ON s.doc_id = c.doc_id
    ),
    shx AS MATERIALIZED (
      SELECT doc_id, n_tokens_clean, {uniform_from_id_sql('doc_id')} AS u FROM ct
    )
    SELECT doc_id,
           CAST(LEAST(FLOOR(u * 4), 3) AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY LEAST(FLOOR(u * 4), 3) ORDER BY u ASC, doc_id ASC
           ) AS BIGINT) AS pos,
           n_tokens_clean
    FROM shx
    """,
    doc="The WHOLE training-corpus prep as ONE lazy plan, exercising "
    "the engine's current best pipeline end to end: quality gate -> "
    "exact dedup (lowest id per normalized text) -> Bloom-prefiltered "
    "decontamination against the src0 eval set (zero false negatives, "
    "exact-Jaccard verification) -> near-dup clusters (exact-Jaccard "
    "pairs -> connected components) -> highest-quality doc per "
    "cluster -> DSIR selection of the 100 docs closest to the src0 "
    "target domain (Gumbel-top-k on fixed-point importance weights) "
    "-> duplicated-span surgery on the selected set (clean token "
    "counts) -> deterministic shuffle into 4 training shards with "
    "within-shard positions. Every stage is an individually "
    "oracle-checked operator; this registration proves they COMPOSE — "
    "no driver-side loop beyond the components iteration, and the "
    "DuckDB oracle replays the full chain bit-for-bit (100-row full "
    "value oracle: doc_id, shard, pos, clean tokens). Scale budget is "
    "the sum of its parts: one norm-text window, the Bloom-pruned "
    "contamination join, the pair join, O(log^2 n) component rounds, "
    "one cluster window, the bucket-table DSIR join + TakeOrdered "
    "top-k, span windows over only the selected docs, and the "
    "writer-per-shard position window.",
    tags=("pipeline", "dedup", "quality", "dsir", "sharding", "e2e"),
)
def corpus_e2e_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text_funcs import normalize_text
    from ..operators.dedup import cross_corpus_overlap_bloom, remove_dup_spans
    from ..operators.sampling import dsir_select, shuffle_into_shards

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    q = _quality_cols(train)
    kept = q.filter(
        (F.col("n_tokens") >= 16)
        & (F.col("a_ratio") >= 0.5)
        & (F.col("stop_ratio") >= 0.05)
    ).select("doc_id", "quality")
    survivors = train.select("doc_id", "text").join(kept, "doc_id")
    w_exact = W.partitionBy(normalize_text("text")).orderBy("doc_id")
    uniq = (
        survivors.withColumn("_rn", F.row_number().over(w_exact))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    contam = (
        cross_corpus_overlap_bloom(
            uniq, eval_set, threshold=0.5, cache_key=(sf_dir, "src0")
        )
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    clean = uniq.join(contam, "doc_id", "left_anti")
    pairs = ngram_jaccard_pairs_prefix(clean, threshold=0.8)
    cc = connected_components(pairs, src="d1", dst="d2")
    labeled = clean.join(
        cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).withColumn("cluster_id", F.coalesce("component", "doc_id"))
    w_rank = W.partitionBy("cluster_id").orderBy(
        F.coalesce(F.col("quality"), F.lit(-1.0)).desc(), F.col("doc_id").asc()
    )
    winners = (
        labeled.withColumn("_rw", F.row_number().over(w_rank))
        .filter(F.col("_rw") == 1)
        .select("doc_id", "text")
    )
    sel = dsir_select(winners, eval_set, k=100, n_buckets=1024).select("doc_id")
    cleaned = remove_dup_spans(winners.join(sel, "doc_id"))
    sized = cleaned.select(
        "doc_id",
        (F.col("n_tokens") - F.col("n_removed")).cast("bigint").alias("n_tokens_clean"),
    )
    return shuffle_into_shards(
        sized, n_shards=4, carry=("n_tokens_clean",)
    ).select("doc_id", "shard", "pos", "n_tokens_clean")


@query(
    "corpus_source_overlap",
    oracle=f"""
    WITH {_CONTAM_SHINGLE_CTE},
    ssh AS (SELECT DISTINCT source, shingle FROM sh),
    p AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
      FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.source <= b.source
      GROUP BY 1, 2
    ),
    m AS (
      SELECT src_a, src_b, shared,
             MAX(CASE WHEN src_a = src_b THEN shared END)
               OVER (PARTITION BY src_a) AS n_a,
             MAX(CASE WHEN src_a = src_b THEN shared END)
               OVER (PARTITION BY src_b) AS n_b
      FROM p
    )
    SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) AS jaccard
    FROM m WHERE src_a <> src_b
    """,
    doc="Data-mixing diagnostic: the pairwise word-3-gram Jaccard "
    "matrix BETWEEN SOURCES — which corpora in a training mixture "
    "overlap, and by how much, computed before mixture weights are "
    "assigned (the corpus-level complement of the per-document dedup "
    "family). One shuffle keyed on the shingle; the per-shingle "
    "source set is bounded by the source catalog, pairs expand "
    "map-side from the sorted set, and the output is a tiny "
    "C(n_sources, 2) matrix at any corpus size "
    "(operators/dedup.py source_overlap_matrix).",
    tags=("pipeline", "dedup", "mixing", "scale"),
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir))
