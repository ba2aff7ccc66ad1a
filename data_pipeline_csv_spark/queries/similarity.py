"""Similarity-search query registrations over ``embeddings``.

The brute-force paths are exact (decimal dot products -> bit-identical
cosines) and carry full DuckDB oracles built on
unnest/generate_subscripts. The IVF ANN path is approximate by
construction -> rows-only check here; its recall against brute force
is asserted in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..artifacts import build_once
from ..operators.similarity import (
    ann_ivf_topk,
    cosine_topk,
    embedding_cosine_neardup,
    embedding_cosine_neardup_clustered,
)
from ..sources.tables import (
    balanced,
    load_table,
    read_parquet_cached,
    table_version,
)
from .registry import query

QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]


def _exact_topk(spark: SparkSession, sf_dir: str, q_ids, k: int):
    """The exact brute-force top-``k`` of ``q_ids`` over the embeddings
    corpus as a pandas frame of ``(q_id, vec_id)`` rows: the ground
    truth the ANN audits measure recall against. It is a pure function
    of (corpus version, query ids, k), so it is built once per corpus
    version and held in memory. The key starts with ``table_version``,
    never a bare ``sf_dir``, so a rewritten corpus gets a fresh truth.
    Queries whose answer IS ``cosine_topk`` (similarity_cosine_topk,
    similarity_label_knn, contrastive_hard_negatives) run it per call."""
    q_ids = tuple(q_ids)

    def build(_path):
        corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
        return cosine_topk(corpus, list(q_ids), k=k).select("q_id", "vec_id").toPandas()

    ver = table_version(sf_dir, "embeddings")
    return build_once("ann_exact_truth", (*ver, q_ids, k), build)


def _recall_vs_truth(
    spark: SparkSession, sf_dir: str, q_ids, approx: DataFrame
) -> DataFrame:
    """A lazy one-row audit of ``approx``'s ``(q_id, vec_id)`` rows
    against the exact top-10 of ``q_ids``: ``n_queries`` and
    ``n_truth`` (the truth's size, known on the driver) and
    ``recall_ok`` (recall@10 >= 0.75). The plan joins a driver-built
    frame of the cached truth, so no corpus scan runs for it."""
    from pyspark.sql import functions as F

    truth = _exact_topk(spark, sf_dir, q_ids, k=10)
    hits = (
        spark.createDataFrame(truth, "q_id long, vec_id long")
        .join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"], "leftsemi")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    return hits.select(
        F.lit(truth["q_id"].nunique()).cast("bigint").alias("n_queries"),
        F.lit(len(truth)).cast("bigint").alias("n_truth"),
        (F.col("_n_hit") >= F.lit(0.75 * len(truth))).alias("recall_ok"),
    )


# Fixed-point product term (see functions.vector.DOT_SCALE): IEEE double
# multiply -> floor -> BIGINT, exact to sum in any order in any engine.
_PROD = "CAST(floor(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE) * 1e14) AS BIGINT)"

# element streams + exact fixed-point norms, shared by both oracles
_VEC_CTE = f"""
    ce AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SUM({_PROD.format(a='x', b='x')}) AS nrm
      FROM ce GROUP BY vec_id
    )
"""


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 8),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT q_id, dots.vec_id AS vec_id,
             CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
      FROM dots
      JOIN norms nq ON dots.q_id = nq.vec_id
      JOIN norms nc ON dots.vec_id = nc.vec_id
    )
    SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="Brute-force cosine top-10 for 8 query vectors: broadcast queries, one corpus pass, window top-k.",
    tags=("similarity", "topk"),
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(balanced(spark, load_table(spark, sf_dir, "embeddings")), QUERY_IDS, k=10)


_NEARDUP_ORACLE = f"""
    WITH {_VEC_CTE},
    dots AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             SUM({_PROD.format(a='a.x', b='b.x')}) AS dxy
      FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(dxy AS DOUBLE) / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) AS cosine
    FROM dots
    JOIN norms n1 ON d1 = n1.vec_id
    JOIN norms n2 ON d2 = n2.vec_id
    WHERE CAST(dxy AS DOUBLE) / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) >= 0.45
    """


@query(
    "similarity_embedding_neardup",
    oracle=_NEARDUP_ORACLE,
    doc="Embedding-cosine near-duplicate pairs (cosine >= 0.45), exact pair join.",
    tags=("similarity", "dedup"),
)
def similarity_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_neardup(balanced(spark, load_table(spark, sf_dir, "embeddings")), threshold=0.45)


@query(
    "similarity_neardup_clustered",
    # Bounds-oracle (round 5, replacing the r4 exact-pair oracle): the
    # clustered mode's recall is an EMPIRICAL property of the corpus —
    # 1.0 at sf0.01 but measured 136/144 = 0.944 at sf0.1 (eight true
    # pairs sit just above t=0.45 with endpoints split across probed
    # cells) — so asserting set equality against the exact oracle
    # breaks on any corpus/scale change (the failure mode the r4
    # advice predicted; the sf0.1 sweep confirmed it). The audit emits
    # the exact/approx comparison instead: DuckDB replays the exact
    # pair count and TRUE flags; the hash matches only if the approx
    # side produced zero false pairs (precision 1 by exact fixed-point
    # re-score, structural) and recall >= 0.9 (empirical, bounded).
    oracle=f"""
    WITH {_VEC_CTE},
    dots AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             SUM({_PROD.format(a='a.x', b='b.x')}) AS dxy
      FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS n_false_pairs,
           TRUE AS recall_ok
    FROM dots
    JOIN norms n1 ON d1 = n1.vec_id
    JOIN norms n2 ON d2 = n2.vec_id
    WHERE CAST(dxy AS DOUBLE) / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) >= 0.45
    """,
    doc="Cluster-blocked approximate near-dup (trained k-means cells, "
    "nprobe=4 of 16) audited against the exact blocked-GEMM answer "
    "under the driver gate: zero false pairs (precision 1 by exact "
    "fixed-point re-score) and recall >= 0.9. The approximate plan is "
    "the 100 TB path — map-side cell assignment (broadcast centroid "
    "matrix), ONE groupBy(cell) shuffle, per-cell triangular GEMM, "
    "pair-once ownership (plan pinned on the operator by "
    "tests/test_plans.py); the pruning economics are driven by "
    "similarity_neardup_pruned at t=0.9.",
    tags=("similarity", "dedup", "ann", "scale", "audit"),
)
def similarity_neardup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.clustering import kmeans_centroids_df

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    ver = table_version(sf_dir, "embeddings")
    # cache_key: steady state trains the cell index once per corpus
    # version and reuses it across runs (bit-identical either way).
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(*ver, "embeddings")
    )
    approx = embedding_cosine_neardup_clustered(
        corpus, cents, threshold=0.45, nprobe=4
    ).select("d1", "d2")
    exact = embedding_cosine_neardup(corpus, threshold=0.45).select("d1", "d2")
    # single-row aggregates composed by audit.scalar_audit (the
    # scalar-subquery pattern: each side broadcasts one row); false
    # pairs via anti-join are approx \ exact, so matched =
    # n_approx - n_false.
    from .audit import scalar_audit

    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_a = approx.agg(F.count(F.lit(1)).alias("n_approx"))
    n_f = approx.join(exact, ["d1", "d2"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_false")
    )
    return scalar_audit(n_e, n_a, n_f).select(
        F.col("n_exact").cast("bigint").alias("n_exact_pairs"),
        F.col("n_false").cast("bigint").alias("n_false_pairs"),
        (
            (F.col("n_exact") == 0)
            | (
                (F.col("n_approx") - F.col("n_false")).cast("double")
                / F.col("n_exact").cast("double")
                >= 0.9
            )
        ).alias("recall_ok"),
    )


@query(
    "similarity_label_knn",
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 32),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 10
    ),
    votes AS (
      SELECT t.q_id, e.label AS pred_label, CAST(COUNT(*) AS BIGINT) AS votes
      FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id
      GROUP BY 1, 2
    ),
    best AS (
      SELECT q_id, pred_label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, pred_label ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT b.q_id, e.label AS true_label, b.pred_label, b.votes,
           e.label = b.pred_label AS agree
    FROM best b JOIN embeddings e ON b.q_id = e.vec_id
    """,
    doc="kNN majority-vote labeling (the weak-supervision / "
    "auto-labeling op): each of 32 query vectors takes the majority "
    "label of its exact cosine top-10 neighbors (ties to the smaller "
    "label), compared against its own label. Composition of the "
    "broadcast top-k (one corpus pass) with two tiny keyed aggs — at "
    "scale the corpus side still moves only top-k candidate rows into "
    "the vote shuffle.",
    tags=("similarity", "knn", "pipeline", "labeling"),
)
def similarity_label_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    topk = cosine_topk(corpus, list(range(32)), k=10)
    labels = corpus.select("vec_id", "label")
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("q_id", F.col("label").alias("pred_label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("pred_label").asc())
    best = votes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    own = corpus.select(F.col("vec_id").alias("q_id"), F.col("label").alias("true_label"))
    return best.join(own, "q_id").select(
        "q_id",
        "true_label",
        "pred_label",
        "votes",
        (F.col("true_label") == F.col("pred_label")).alias("agree"),
    )


@query(
    "contrastive_hard_negatives",
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 32),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id, cosine FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 20
    ),
    eligible AS (
      SELECT t.q_id, t.vec_id AS neg_id, t.cosine
      FROM topk t
      JOIN embeddings eq ON t.q_id = eq.vec_id
      JOIN embeddings en ON t.vec_id = en.vec_id
      WHERE en.label <> eq.label AND t.cosine < 0.45
    )
    SELECT q_id, neg_id, cosine, CAST(neg_rank AS INT) AS neg_rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neg_id ASC) AS neg_rank
      FROM eligible
    ) WHERE neg_rank <= 5
    """,
    doc="Hard-negative mining for contrastive training: per anchor "
    "(32 query vectors), the 5 MOST similar corpus vectors that are "
    "neither near-duplicates (cosine >= 0.45, the dedup threshold) "
    "nor same-label (presumed positives) — exactly the negatives "
    "that maximize training signal. Composition: broadcast exact "
    "top-20 (one corpus pass), two broadcast label joins, windowed "
    "re-rank; only top-k candidate rows ever reach a shuffle.",
    tags=("similarity", "contrastive", "pipeline", "training-data"),
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    topk = cosine_topk(corpus, list(range(32)), k=20)
    labels = corpus.select("vec_id", "label")
    anchor_lab = labels.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    neigh_lab = labels.select(
        F.col("vec_id").alias("vec_id"), F.col("label").alias("n_label")
    )
    eligible = (
        topk.join(F.broadcast(anchor_lab), "q_id")
        .join(neigh_lab, "vec_id")
        .filter((F.col("n_label") != F.col("q_label")) & (F.col("cosine") < 0.45))
        .select("q_id", F.col("vec_id").alias("neg_id"), "cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neg_id").asc())
    return (
        eligible.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select("q_id", "neg_id", "cosine", "neg_rank")
    )


@query(
    "similarity_ann_recall_audit",
    # Bounds-oracle pattern (see queries/sketches.py): the IVF result
    # itself is approximate, but its RECALL against the exact top-k is
    # deterministic (trained centroids + stable tie-breaks), so the
    # oracle recomputes the exact side in SQL and the Spark side
    # hash-matches only if IVF recall@10 over the 8 query vectors is
    # >= 0.75 (measured 0.85 at both sf0.001 and sf0.01 with k=16
    # cells, nprobe=4).
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 8),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 10
    )
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok
    FROM topk
    """,
    doc="ANN quality audit under the driver gate: run the exact "
    "brute-force top-10 AND the IVF probe (trained k-means cells, "
    "nprobe=4 of 16) side by side, and emit the truth size plus a "
    "recall >= 0.75 flag. Converts the ANN family from rows-only to "
    "bounds-oracled (the rows-only similarity_ann_ivf registration "
    "was retired in its favor in r7).",
    tags=("similarity", "ann", "audit"),
)
def similarity_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_centroids_df

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    ver = table_version(sf_dir, "embeddings")
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(*ver, "embeddings")
    )
    approx = ann_ivf_topk(corpus, QUERY_IDS, k=10, nprobe=4, centroids=cents)
    return _recall_vs_truth(spark, sf_dir, QUERY_IDS, approx)


@query(
    "similarity_neardup_pruned",
    # Bounds-oracle: DuckDB computes the exact near-dup pair count at
    # t=0.9 over the PLANTED corpus (embeddings + a perturbed twin of
    # each vec_id < 16) and emits TRUE flags; the Spark side
    # hash-matches only if the clustered mode's recall >= 0.9 AND the
    # per-cell GEMM scanned < half of all pairs. This drives the
    # pruning claim the t=0.45 registration cannot (no angular gap
    # there -> ~100% of pair work for recall 1): at production
    # thresholds one probe suffices and the scanned fraction collapses
    # to ~1/k.
    oracle=f"""
    WITH tw AS (
      SELECT vec_id + 10000000 AS vec_id,
             generate_subscripts(embedding, 1) AS i,
             unnest(embedding) AS xf
      FROM embeddings WHERE vec_id < 16
    ),
    ce AS (
      SELECT vec_id, i, CAST(x AS DOUBLE) AS x FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               unnest(embedding) AS x
        FROM embeddings
      )
      UNION ALL
      SELECT vec_id, i,
             CAST(xf AS DOUBLE) + CASE WHEN i = 1 THEN 0.05 ELSE 0.0 END
      FROM tw
    ),
    norms AS (
      SELECT vec_id, SUM({_PROD.format(a='x', b='x')}) AS nrm
      FROM ce GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             SUM({_PROD.format(a='a.x', b='b.x')}) AS dxy
      FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok,
           TRUE AS pruned_ok
    FROM dots
    JOIN norms n1 ON d1 = n1.vec_id
    JOIN norms n2 ON d2 = n2.vec_id
    WHERE CAST(dxy AS DOUBLE) / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) >= 0.9
    """,
    doc="High-threshold (0.9) cluster-blocked near-dup on a planted-twin "
    "corpus, auditing BOTH quality and cost under the driver gate: "
    "recall vs the exact blocked-GEMM answer >= 0.9, and the per-cell "
    "pair work (sum over cells of C(|cell|,2), measured from the "
    "actual assignment) < 50% of all pairs — the pruning that the "
    "registered t=0.45 config cannot exhibit on this corpus. "
    "nprobe=1 of 16 trained cells; near-identical vectors co-assign "
    "with near-certainty at this threshold.",
    tags=("similarity", "dedup", "ann", "scale", "audit"),
)
def similarity_neardup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import (
        clustered_cell_assignment,
        embedding_cosine_neardup,
        embedding_cosine_neardup_clustered,
    )

    base = balanced(spark, load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = base.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == F.lit(0), F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    aug = base.unionByName(twins)
    ver = table_version(sf_dir, "embeddings")
    cents = kmeans_centroids_df(
        spark, aug, k=16, iters=2, cache_key=(*ver, "embeddings_aug16")
    )
    exact = embedding_cosine_neardup(aug, threshold=0.9).select("d1", "d2")
    approx = embedding_cosine_neardup_clustered(
        aug, cents, threshold=0.9, nprobe=1
    ).select("d1", "d2")

    truth = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    hits = exact.join(approx, ["d1", "d2"], "leftsemi").agg(
        F.count(F.lit(1)).alias("_n_hit")
    )
    sizes = clustered_cell_assignment(aug, cents, nprobe=1).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")
    )
    scanned = sizes.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("_scanned"),
        F.sum("n").alias("_n_rows"),
    )
    return (
        truth.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(scanned))
        .select(
            "n_truth",
            (F.col("_n_hit") >= F.lit(0.9) * F.col("n_truth")).alias("recall_ok"),
            (
                F.col("_scanned")
                < F.lit(0.5) * F.col("_n_rows") * (F.col("_n_rows") - 1) / 2
            ).alias("pruned_ok"),
        )
    )


@query(
    "similarity_ann_ivf_ondisk",
    # Bounds-oracle (pattern of similarity_ann_recall_audit): the
    # oracle recomputes the exact top-10 side in SQL and emits TRUE
    # flags; the Spark side hash-matches only if (a) IVF recall@10
    # from the PARTITION-PRUNED on-disk probe is >= 0.75 and (b) the
    # probe genuinely pruned (probed lists < total lists; measured 12
    # of 16 at sf0.001/0.01/0.1).
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 4),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 10
    )
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok,
           TRUE AS pruned_ok
    FROM topk
    """,
    doc="ANN against the MATERIALIZED IVF layout: the corpus is written "
    "list-ordered under the versioned commit log, with per-file "
    "[min_list_id, max_list_id] manifest intervals and the drift "
    "sidecar + coarse quantizer riding each commit as pool parts "
    "(operators/similarity.py write_ivf_layout — the amortize-once "
    "artifact a 100 TB deployment keeps per corpus version; r14 "
    "moved it onto the same CAS protocol as the stats/bucket "
    "layouts) and the probe plans ONLY the files covering the "
    "probed lists from the pinned commit's manifest "
    "(ann_ivf_probe_ondisk; plan pinned by "
    "tests/test_plans.py::test_ivf_ondisk_probe_prunes_partitions). "
    "The layout is built ONCE per (corpus version, centroids) via "
    "ivf_layout_cached and shared with similarity_ann_pq_rerank — "
    "the serving audit measures probes, not rebuilds. Emits the "
    "exact-truth size plus recall>=0.75 and probed-lists<total-lists "
    "flags.",
    tags=("similarity", "ann", "layout", "audit"),
)
def similarity_ann_ivf_ondisk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import ann_ivf_probe_ondisk, ivf_layout_cached

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    ver = table_version(sf_dir, "embeddings")
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(*ver, "embeddings")
    )
    q_ids = QUERY_IDS[:4]
    layout = ivf_layout_cached(corpus, cents, cache_key=(*ver, "ivf16"))
    queries = corpus.filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx, lists = ann_ivf_probe_ondisk(
        spark, layout, queries, cents, k=10, nprobe=4, return_lists=True
    )
    n_lists = cents.count()
    return _recall_vs_truth(spark, sf_dir, q_ids, approx).withColumn(
        "pruned_ok", F.lit(len(lists) < n_lists)
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH ce AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    am AS (SELECT vec_id, MAX(abs(x)) AS amax FROM ce GROUP BY vec_id)
    SELECT ce.vec_id,
           CAST(ce.i AS INT) AS pos,
           CAST(CASE WHEN am.amax = 0 THEN 0
                     ELSE round(ce.x * 127.0 / am.amax) END AS TINYINT) AS qval,
           am.amax AS amax
    FROM ce JOIN am ON ce.vec_id = am.vec_id
    """,
    doc="Symmetric per-vector int8 quantization of the embedding corpus "
    "(round(x*127/absmax) per element) — the 4x storage/shuffle "
    "reduction step before writing a training shard. Pure map-side "
    "projection (absmax via one array fold, no shuffle, no UDF); "
    "emitted long-form (vec_id, pos, qval, amax) under a FULL value "
    "oracle — DuckDB recomputes every quantized byte.",
    tags=("similarity", "embedding", "quantization", "storage"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.vector import absmax, quantize_int8

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    with_amax = corpus.select(
        "vec_id", F.col("embedding").alias("_e"), absmax(F.col("embedding")).alias("amax")
    )
    exploded = with_amax.select(
        "vec_id", "amax", F.posexplode("_e").alias("_pos0", "_x")
    )
    return exploded.select(
        "vec_id",
        (F.col("_pos0") + 1).cast("int").alias("pos"),
        quantize_int8(F.col("_x"), F.col("amax")).alias("qval"),
        "amax",
    )


# The rows-only "similarity_ann_ivf" registration (the registry's one
# oracle-less entry, last driver row r01) was RETIRED in r7: its
# neighbor-list behavior is covered strictly better by the audited
# family — similarity_ann_recall_audit (in-memory IVF vs exact truth)
# and similarity_ann_ivf_ondisk (the same probe against the
# partition-pruned layout, whose parity with ann_ivf_topk is pinned by
# tests/test_plans.py::test_ivf_ondisk_probe_prunes_partitions). The
# ann_ivf_topk operator itself stays, exercised by those audits and
# tests/test_similarity.py.


@query(
    "similarity_ann_pq_rerank",
    # Bounds-oracle like the IVF audit: DuckDB emits the exact-side
    # constants (8 queries x top-10 = 80 rows; 8 x 100-candidate
    # shortlists = 800 reranked rows) and TRUE flags; the Spark side
    # hash-matches only if the measured recall of the full
    # PQ-shortlist -> exact-rerank pipeline is >= 0.65 (measured
    # 0.89 / 0.94 / 0.75 at sf0.001 / 0.01 / 0.1 — the sf0.1 floor is
    # a 2% scan of a 5000-vector corpus).
    oracle="""
    SELECT CAST(80 AS BIGINT) AS n_exact_rows,
           CAST(800 AS BIGINT) AS n_reranked,
           TRUE AS recall_ok
    """,
    doc="PQ ANN with exact rerank (the faiss-style ADC pipeline, "
    "completing the IVF + int8 + PQ triad): 64-dim vectors compress "
    "to m=8 one-byte codes (8x vs float32, 64 bits/vector); each "
    "query scores the WHOLE corpus from two broadcast lookup tables "
    "over the codes (fixed-point sums -> deterministic), keeps a "
    "100-candidate shortlist, exact-rescoring only those (2% of the "
    "sf0.1 corpus) with the fixed-point cosine, then audits final "
    "top-10 recall against the exact answer. The shortlist "
    "(|queries| x 100 rows) is collected to the driver ONCE: the "
    "probed lists and the reranked count come from those rows, and "
    "the rerank joins a driver-built frame of them, so the ADC pass "
    "runs once per call with nothing cached. Driver-built frames "
    "(query vectors, shortlist, ADC lookup table) come from pandas "
    "and take the JVM-side Arrow path, not a pickling Python-worker "
    "job. The shortlist vector fetch is a POINT LOOKUP against the "
    "materialized IVF layout: codes carry their list_id (pq_encode "
    "carry), so the rerank reads only the files whose manifest "
    "interval covers the shortlist's lists via read_ivf_lists' "
    "manifest-planned scan (test_pq_rerank_fetch_prunes_partitions) "
    "— at 100 TB the shortlist pass moves m narrow rows per vector "
    "and the rerank never re-scans the embedding table "
    "(operators/similarity.py pq_train / pq_encode / pq_adc_topk / "
    "read_ivf_lists). The final top-10 (|queries| x 10 = 80 rows) is "
    "collected once and audited on the driver against the exact "
    "top-10, which is built once per corpus version (_exact_topk, "
    "keyed by the embeddings file's fingerprint, so a rewritten corpus "
    "gets a fresh truth); the one-row audit is a frame built from "
    "pandas, so the call never re-runs the brute-force scan. The "
    "layout comes from ivf_layout_cached and the codes table from "
    "pq_codes_cached (both built once per corpus version — the "
    "layout shared with similarity_ann_ivf_ondisk), so the "
    "registered query bills serving cost, not a per-call rebuild; "
    "its job budget is pinned by "
    "tests/test_plans.py::test_pq_rerank_job_budget.",
    tags=("similarity", "ann", "pq", "scale", "audit"),
)
def similarity_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..functions.vector import cosine_from_parts, dot_exact, norm_sq_exact
    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import (
        ivf_layout_cached,
        pq_adc_topk,
        pq_codes_cached,
        pq_train,
        read_ivf_lists,
    )

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    ver = table_version(sf_dir, "embeddings")
    books = pq_train(
        spark, corpus, dim=64, m=8, k=16, iters=2, cache_key=(*ver, "pq8")
    )
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(*ver, "embeddings")
    )
    # the plain scan, not ``corpus``: the filter reaches the parquet
    # reader and no round-robin shuffle runs, so this is one job
    qrows = [
        (r["vec_id"], r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .collect()
    ]
    # layout built ONCE per corpus version (shared with
    # similarity_ann_ivf_ondisk — same corpus, same centroids): the
    # audit measures the SERVING path, not a per-call rebuild
    layout = ivf_layout_cached(corpus, cents, cache_key=(*ver, "ivf16"))
    # codes are encoded FROM the IVF layout so every code row carries
    # its vector's list_id — the key the rerank fetch prunes on; the
    # encode is part of the build artifact (pq_codes_cached, once per
    # corpus version), so serving reads the m-bytes-per-vector codes
    # table instead of re-encoding
    codes = read_parquet_cached(
        spark,
        pq_codes_cached(spark, layout, books, m=8, cache_key=(*ver, "pq8-ivf16"))
    )
    # the shortlist is |queries| x 100 rows: collected once, it gives
    # the probed lists and the reranked count, and the rerank joins it
    # back as a local frame, so the ADC pass runs once and nothing is
    # left cached
    short = (
        pq_adc_topk(codes, books, qrows, k=100, carry="list_id")
        .select("q_id", "vec_id", "list_id")
        .toPandas()
    )
    short_df = spark.createDataFrame(
        short[["q_id", "vec_id"]], "q_id long, vec_id long"
    )
    qdf = spark.createDataFrame(
        pd.DataFrame(qrows, columns=["q_id", "q_emb"]),
        "q_id long, q_emb array<double>",
    )
    # exact rerank of shortlist candidates only, vectors served by the
    # layout's partition-pruned point lookup (never a corpus re-scan)
    cand = (
        short_df.join(
            read_ivf_lists(spark, layout, short["list_id"]).select("vec_id", "embedding"),
            "vec_id",
        )
        .join(F.broadcast(qdf), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine_from_parts(
                dot_exact(F.col("embedding"), F.col("q_emb")),
                norm_sq_exact(F.col("embedding")),
                norm_sq_exact(F.col("q_emb")),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    # the final top-10 is |queries| x 10 rows: collected once, it is
    # audited on the driver against the build-once exact truth
    final = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "vec_id")
        .toPandas()
    )
    truth = _exact_topk(spark, sf_dir, QUERY_IDS, k=10)
    exact = set(zip(truth["q_id"], truth["vec_id"]))
    n_matched = sum(pair in exact for pair in zip(final["q_id"], final["vec_id"]))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "n_exact_rows": [len(truth)],
                "n_reranked": [len(short)],
                "recall_ok": [n_matched / len(truth) >= 0.65],
            }
        ),
        "n_exact_rows long, n_reranked long, recall_ok boolean",
    )


def _pca_vt_chain(dim: int, iters: int) -> str:
    """Unrolled SQL replay of the deterministic power iteration
    (operators/pca.py power_iteration_top), same fixed-point-fold
    style as the kmeans oracle chain: element stream ``p``, uniform
    unit init ``v0``, then per iteration t a row-dot CTE ``c{t}``
    (BIGINT fold at 1e14), an aggregated-direction CTE ``w{t}``
    (BIGINT fold at 1e12), the squared-norm fold ``n{t}`` (1e4) and
    the normalized direction ``v{t}``. Every float step is a single
    IEEE op on BIGINT-cast inputs, mirroring the Spark/driver math
    literally."""
    sql = f"""p AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    v0 AS (SELECT DISTINCT pos, 1.0 / sqrt({float(dim)}) AS val FROM p)"""
    for t in range(1, iters + 1):
        sql += f""",
    c{t} AS (
      SELECT p.vec_id,
             SUM(CAST(FLOOR(p.x * v.val * 1e14) AS BIGINT)) AS cfix
      FROM p JOIN v{t - 1} v USING (pos) GROUP BY 1
    ),
    w{t} AS (
      SELECT p.pos,
             SUM(CAST(FLOOR(p.x * (CAST(c.cfix AS DOUBLE) / 1e14) * 1e12) AS BIGINT)) AS wfix
      FROM p JOIN c{t} c USING (vec_id) GROUP BY 1
    ),
    n{t} AS (
      SELECT SUM(CAST(FLOOR((CAST(wfix AS DOUBLE) / 1e12) * (CAST(wfix AS DOUBLE) / 1e12) * 1e4) AS BIGINT)) AS nfix
      FROM w{t}
    ),
    v{t} AS (
      SELECT pos,
             (CAST(wfix AS DOUBLE) / 1e12) / sqrt(CAST(nfix AS DOUBLE) / 1e4) AS val
      FROM w{t}, n{t}
    )"""
    return sql


_PCA_ITERS = 3


@query(
    "embedding_pca_project",
    oracle=f"""
    WITH {_pca_vt_chain(64, _PCA_ITERS)}
    SELECT p.vec_id,
           CAST(SUM(CAST(FLOOR(p.x * v.val * 1e14) AS BIGINT)) AS DOUBLE) / 1e14 AS proj
    FROM p JOIN v{_PCA_ITERS} v USING (pos)
    GROUP BY 1
    """,
    doc="Distributed PCA: every embedding projected onto the corpus's "
    "top principal direction, trained by 3 deterministic power "
    "iterations on the Gram matrix (operators/pca.py). Plan shape per "
    "iteration: ONE corpus scan with a 64-column partially-aggregated "
    "fixed-point sum (map-side combine collapses each partition to a "
    "single row before the exchange) — the d x d covariance matrix is "
    "never formed and driver traffic is 64 BIGINTs per iteration; the "
    "projection pass is map-side only, zero shuffles. The whole "
    "train-and-project chain is replayed bit-exactly by the oracle "
    "(integer fixed-point folds + single IEEE float ops, the "
    "determinism contract of the kmeans oracle).",
    tags=("similarity", "embeddings", "pca", "scale", "iterative"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import power_iteration_top, project_onto

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    v, _ = power_iteration_top(corpus, dim=64, iters=_PCA_ITERS)
    return project_onto(corpus, v)


def _ivf_append_demo_cached(spark: SparkSession, sf_dir: str, ver: tuple):
    """Build-once scaffolding for similarity_ivf_append: an IVF layout
    over the BASE 80% of the corpus (vec_id % 5 != 0), then ONE
    ivf_append of the remaining 20% — the continuously-ingesting-corpus
    scenario. Built once per corpus version (the audit measures serving
    against the merged index, not rebuilds); the untouched-partition
    file check runs at append time, when 'before' is observable, and
    rides the artifact. Returns (layout_path, drift_report,
    untouched_ok). ``ver`` is the caller's ``table_version``."""
    from pyspark.sql import functions as F

    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import ivf_append, write_ivf_layout

    def build(layout):
        corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
        base = corpus.filter(F.col("vec_id") % 5 != 0)
        new = corpus.filter(F.col("vec_id") % 5 == 0)
        cents = kmeans_centroids_df(
            spark, base, k=16, iters=2, cache_key=(*ver, "ivf_append_base")
        )
        write_ivf_layout(base, cents, layout)
        before = _data_file_sizes(layout)
        rep = ivf_append(new, cents, layout)
        after = _data_file_sizes(layout)
        # commit-log immutability (r14): an append only ADDS b<tag>-
        # files — every pre-append data file must still be present
        # byte-identical and every new file must carry the batch prefix,
        # so standing lists are untouched BY CONSTRUCTION (snapshot
        # isolation for readers)
        untouched_ok = all(after.get(f) == sz for f, sz in before.items()) and all(
            f.startswith("b") for f in set(after) - set(before)
        )
        return layout, rep, untouched_ok

    return build_once("ivf_append_demo", ver, build)


def _data_file_sizes(layout: str) -> dict:
    """{file name: size} of the parquet files under ``layout/data``."""
    import os

    ddir = os.path.join(layout, "data")
    return {
        f: os.path.getsize(os.path.join(ddir, f))
        for f in os.listdir(ddir)
        if f.endswith(".parquet")
    }


@query(
    "similarity_ivf_append",
    # Bounds-oracle (pattern of similarity_ann_ivf_ondisk): the oracle
    # recomputes the exact top-10 side in SQL and emits TRUE flags; the
    # Spark side hash-matches only if (a) probe recall@10 against the
    # APPENDED merged index is >= 0.75 (measured 0.85 at sf0.001/0.01/
    # 0.1 with nprobe=6), (b) the append created files only under the
    # appended lists' partition dirs (every other list byte-untouched),
    # and (c) the drift ratio — appended vectors landing outside their
    # cell's build-time edge, the retrain signal — stays under 0.5
    # (measured 0.15/0.36/0.045).
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 4),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 10
    )
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok,
           TRUE AS append_isolated_ok,
           TRUE AS drift_ok
    FROM topk
    """,
    doc="INCREMENTAL IVF maintenance audit: an IVF layout built on 80% "
    "of the corpus ingests the remaining 20% via ivf_append — new "
    "vectors routed into the existing lists with the frozen coarse "
    "quantizer, files created ONLY under the appended lists' "
    "partitions (operators/similarity.py ivf_append; isolation pinned "
    "by tests/test_similarity.py::test_ivf_append_touches_only_"
    "appended_lists), the per-list stats sidecar merged for exact "
    "drift accounting across appends. The probe then serves top-10 "
    "from the MERGED on-disk index (partition-pruned, nprobe=6) and "
    "must keep recall >= 0.75 against exact brute force over the full "
    "corpus; the drift ratio (appended vectors outside their cell's "
    "build-time min-cosine edge — the when-to-retrain signal) must "
    "stay < 0.5. What a continuously-ingesting ANN corpus runs "
    "between retrains.",
    tags=("similarity", "ann", "incremental", "layout", "audit"),
)
def similarity_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import ann_ivf_probe_ondisk

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    ver = table_version(sf_dir, "embeddings")
    cents = kmeans_centroids_df(
        spark, base, k=16, iters=2, cache_key=(*ver, "ivf_append_base")
    )
    layout, rep, untouched_ok = _ivf_append_demo_cached(spark, sf_dir, ver)
    q_ids = QUERY_IDS[:4]
    queries = corpus.filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx = ann_ivf_probe_ondisk(spark, layout, queries, cents, k=10, nprobe=6)
    return _recall_vs_truth(spark, sf_dir, q_ids, approx).select(
        "*",
        F.lit(bool(untouched_ok)).alias("append_isolated_ok"),
        F.lit(rep["drift_ratio"] < 0.5).alias("drift_ok"),
    )


@query(
    "similarity_ann_filtered",
    # Bounds-oracle (pattern of similarity_ann_ivf_ondisk): the exact
    # FILTERED top-10 side replayed in SQL + TRUE flags. The Spark
    # side hash-matches only if (a) filtered recall@10 >= 0.5
    # (measured 0.575/0.75/0.85 at sf0.001/0.01/0.1 with nprobe=8 —
    # filtered ANN needs more probes than unfiltered search because
    # the ~10%-selectivity predicate thins every list; at deployment
    # nlists is thousands and nprobe/nlists stays tiny) and (b) the
    # probe still pruned lists.
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 4),
    lab AS (SELECT vec_id FROM embeddings WHERE label = 3),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe
      JOIN ce ON qe.i = ce.i AND ce.vec_id != qe.vec_id
      JOIN lab ON ce.vec_id = lab.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 10
    )
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok,
           TRUE AS pruned_ok
    FROM topk
    """,
    doc="FILTERED ANN — metadata-constrained vector search (the "
    "vector-database staple: 'nearest neighbors WHERE label = 3'): "
    "the layout carries the metadata column AND partitions by "
    "(list_id, label), so the predicate lands as a STATIC partition "
    "filter next to the probed-list INSET — the scan opens only "
    "(probed list, matching label) directories, never re-touching "
    "the corpus for metadata (plan pinned by tests/test_plans.py::"
    "test_filtered_ann_label_is_partition_filter). Audit: filtered "
    "recall@10 vs exact brute force over the label-restricted corpus "
    ">= 0.5 at nprobe=8 plus a genuinely-pruned flag. The honest "
    "trade documented in-code: selectivity thins lists, so filtered "
    "search probes more lists than unfiltered — at deployment scale "
    "(thousands of lists) nprobe/nlists stays tiny, and hard tenant/"
    "language splits become their own partition dimension exactly as "
    "here.",
    tags=("similarity", "ann", "filtered", "layout", "audit", "scale"),
)
def similarity_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.vector import cosine_from_parts, dot_exact, norm_sq_exact
    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import ann_ivf_probe_ondisk, ivf_layout_cached

    def _cos(a, b):
        return cosine_from_parts(dot_exact(a, b), norm_sq_exact(a), norm_sq_exact(b))

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    ver = table_version(sf_dir, "embeddings")
    cents = kmeans_centroids_df(
        spark, corpus, k=16, iters=2, cache_key=(*ver, "embeddings")
    )
    layout = ivf_layout_cached(
        corpus, cents, cache_key=(*ver, "ivf16_labeled"),
        carry=("label",), partition_cols=("list_id", "label"),
    )
    q_ids = QUERY_IDS[:4]
    queries = corpus.filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx, lists = ann_ivf_probe_ondisk(
        spark, layout, queries, cents, k=10, nprobe=8,
        return_lists=True, where=(F.col("label") == 3),
    )
    n_lists = cents.count()
    exact = (
        corpus.filter(F.col("label") == 3).alias("c")
        .join(F.broadcast(queries).alias("q"), F.col("c.vec_id") != F.col("q.q_id"))
        .select(
            F.col("q.q_id").alias("q_id"),
            F.col("c.vec_id").alias("vec_id"),
            _cos(F.col("q.q_emb"), F.col("c.embedding")).alias("_cos"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("_cos").desc(), F.col("vec_id").asc())
    exact_top = (
        exact.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 10)
        .select("q_id", "vec_id")
    )
    truth = exact_top.agg(
        F.countDistinct("q_id").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
    )
    hits = exact_top.join(
        approx.select("q_id", "vec_id"), ["q_id", "vec_id"], "leftsemi"
    ).agg(F.count(F.lit(1)).alias("_n_hit"))
    return truth.crossJoin(F.broadcast(hits)).select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        "n_truth",
        (F.col("_n_hit") >= F.lit(0.5) * F.col("n_truth")).alias("recall_ok"),
        F.lit(len(lists) < n_lists).alias("pruned_ok"),
    )


def _ivf_retrain_demo_cached(spark: SparkSession, sf_dir: str):
    """Build-once scaffolding for similarity_ivf_retrain, with HEAVY
    PLANTED DRIFT: the coarse quantizer is trained ONLY on the label<5
    half of the corpus, the layout built over it, and the label>=5
    half — five whole clusters the quantizer never saw — ingested via
    ivf_append. Nearly every appended vector lands below its cell's
    build-time edge, so the sidecar's per-list n_drift crosses the
    retrain threshold and :func:`~..operators.similarity.ivf_retrain`
    refits exactly those cells. The untouched-list byte-identity check
    runs at retrain time, when 'before' is observable, and rides the
    artifact. Returns (layout, new_centroids, retrain_report,
    untouched_ok, append_report)."""
    from pyspark.sql import functions as F

    from ..operators.clustering import kmeans_centroids_df
    from ..operators.similarity import ivf_append, ivf_retrain, write_ivf_layout

    ver = table_version(sf_dir, "embeddings")

    def build(layout):
        corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
        base = corpus.filter(F.col("label") < 5).select("vec_id", "embedding")
        incoming = corpus.filter(F.col("label") >= 5).select("vec_id", "embedding")
        cents = kmeans_centroids_df(
            spark, base, k=16, iters=2, cache_key=(*ver, "ivf_retrain_biased")
        )
        write_ivf_layout(base, cents, layout)
        rep_append = ivf_append(incoming, cents, layout, batch_id="drift-batch-1")
        before = _data_file_sizes(layout)
        # threshold 0.05: the min-cosine edge LOOSENS as cells grow (the
        # weakest build-time member sets it), so per-list drift ratios
        # shrink with corpus size for the same planted shift — measured
        # max per-list ratio 0.66/0.59/0.16 at sf0.001/0.01/0.1; 0.05
        # selects a strict subset of lists at every SF (never all, never
        # none), which is what makes the untouched-byte-identity check
        # meaningful.
        new_cents, rep = ivf_retrain(spark, layout, cents, drift_threshold=0.05, iters=2)
        after = _data_file_sizes(layout)
        # commit-log immutability (r14): the retrain's copy-on-write
        # rewrite only ADDS files — every pre-retrain file is still
        # present byte-identical (referenced by retained versions until
        # GC), so pinned readers survive the retrain and untouched lists'
        # files are trivially unchanged; the rewrite itself is scoped to
        # the files whose list run intersects the drifted set
        untouched_ok = all(after.get(f) == sz for f, sz in before.items())
        return layout, new_cents, rep, untouched_ok, rep_append

    return build_once("ivf_retrain_demo", ver, build)


@query(
    "similarity_ivf_retrain",
    # Bounds-oracle (pattern of similarity_ivf_append): the exact
    # top-10 side replayed in SQL + TRUE flags. The Spark side
    # hash-matches only if (a) the planted drift actually triggered
    # cell refits, (b) Lloyd's warm-started iterations did not
    # increase the refitted cells' exact fixed-point L2 distortion
    # (the trainer's own monotone objective), (c) probe recall@10
    # against the RETRAINED layout with the UPDATED centroids is
    # >= 0.75 (all four flags measured TRUE at sf0.001/0.01/0.1 with
    # nprobe=8; retrained subset strict at every SF: 13/15/6 of 16
    # lists), and (d) every non-retrained list's files are
    # byte-identical.
    oracle=f"""
    WITH {_VEC_CTE},
    qe AS (SELECT * FROM ce WHERE vec_id < 4),
    dots AS (
      SELECT qe.vec_id AS q_id, ce.vec_id AS vec_id,
             SUM({_PROD.format(a='qe.x', b='ce.x')}) AS dxy
      FROM qe JOIN ce ON qe.i = ce.i AND qe.vec_id != ce.vec_id
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, dots.vec_id AS vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                 CAST(dxy AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) DESC,
                 dots.vec_id ASC) AS rank
        FROM dots
        JOIN norms nq ON dots.q_id = nq.vec_id
        JOIN norms nc ON dots.vec_id = nc.vec_id
      ) WHERE rank <= 10
    )
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           TRUE AS drift_detected_ok,
           TRUE AS distortion_ok,
           TRUE AS recall_ok,
           TRUE AS untouched_ok
    FROM topk
    """,
    doc="ANN RETRAIN from the drift signal — what ivf_append's report "
    "exists FOR (closes the index-maintenance loop: append -> drift "
    "accounting -> targeted retrain): cells whose sidecar drift ratio "
    "crosses the threshold are refitted with warm-started Lloyd "
    "iterations (init = their CURRENT centroids; <= k rows to the "
    "driver per iteration), their members re-assigned among the "
    "refitted cells, and ONLY those partition dirs swapped — every "
    "clean list byte-untouched, cell ids preserved so probes stay "
    "consistent (operators/similarity.py ivf_retrain). Audit plants "
    "heavy drift (quantizer trained on half the label space, the "
    "other half appended), then checks drift fired, the refit's exact "
    "fixed-point L2 distortion did not increase (Lloyd's monotone "
    "objective), recall@10 >= 0.75 on the retrained index, and "
    "untouched-list byte-identity.",
    tags=("similarity", "ann", "incremental", "maintenance", "audit"),
)
def similarity_ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.similarity import ann_ivf_probe_ondisk

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    layout, new_cents, rep, untouched_ok, _rep_append = _ivf_retrain_demo_cached(
        spark, sf_dir
    )
    q_ids = QUERY_IDS[:4]
    queries = corpus.filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx = ann_ivf_probe_ondisk(spark, layout, queries, new_cents, k=10, nprobe=8)
    return _recall_vs_truth(spark, sf_dir, q_ids, approx).select(
        "n_queries",
        "n_truth",
        F.lit(len(rep["retrained_lists"]) > 0).alias("drift_detected_ok"),
        F.lit(
            rep["distortion_fp_after"] <= rep["distortion_fp_before"]
        ).alias("distortion_ok"),
        "recall_ok",
        F.lit(bool(untouched_ok)).alias("untouched_ok"),
    )
