"""K-means (Lloyd's) over an embedding column — the iterative-algorithm
pattern on Spark, and the production centroid trainer for the IVF index
(operators/similarity.py ann_ivf_topk docstring: "swap in k-means
centroids for production").

Execution shape (MLlib's own design, re-expressed on the DataFrame
API):

- centroids live on the DRIVER (k x dim doubles — bytes, not data) and
  are broadcast into each iteration's task closure;
- one ``mapInPandas`` pass per iteration assigns every vector to its
  nearest centroid with a vectorized numpy distance and emits PER-BATCH
  PARTIAL SUMS (cluster, count, elementwise fixed-point sum) — k rows
  per Arrow batch, the map-side-combine shape;
- a Spark-side ``groupBy("cluster")`` reduces the partials (integer
  sums, order-invariant) so the driver collects AT MOST k rows per
  iteration — collect traffic is O(k * dim) regardless of corpus size
  and task count. No iteration materializes an assignment table; the
  corpus is scanned ``iters`` times from the persisted input.

Determinism contract (what makes an ITERATIVE algorithm oracle-checkable
against DuckDB SQL): every arithmetic step is either an IEEE-754 double
op both engines perform identically on identical inputs, or an
order-invariant integer sum.

- distances: sum of FLOOR((v - c)^2 * 2^20) per dimension — int64, any
  summation order;
- means: int64 sum of FLOOR(v * 2^20), divided once as
  double(sum) / (n * 2^20) — one rounding, same everywhere (the scale
  is a power of two, so the product v * 2^20 was exact);
- ties: argmin breaks to the lowest cluster id on both sides.

So k-means with fixed init and a fixed iteration count has ONE correct
answer, and the DuckDB oracle (queries/clustering.py) reproduces it as
a chain of join/window/agg CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..artifacts import build_once

# Power-of-two fixed-point scale: v * SCALE is an exact double product,
# so FLOOR of it is engine-independent.
SCALE = 1 << 20


def _np_pd():
    import numpy as np
    import pandas as pd

    return np, pd


def kmeans_fit(corpus: DataFrame, k: int = 8, iters: int = 2):
    """Run ``iters`` Lloyd iterations; return (centroids, sizes, alive).

    ``corpus`` needs (vec_id, embedding). Init = the raw vectors of the
    ``k`` lowest vec_ids (deterministic, reproducible). Returns the
    final centroid matrix (k x dim float64), the final assignment
    counts (len-k int64), and the alive mask (clusters that still own
    points). Empty clusters drop out of the distance computation, like
    their rows vanish from the oracle's per-cluster aggregates.
    """
    np, _ = _np_pd()
    vecs = corpus.select("vec_id", "embedding").persist()
    try:
        init_rows = vecs.orderBy("vec_id").limit(k).collect()
        C = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in init_rows])
        alive = np.ones(len(C), dtype=bool)
        sizes = np.zeros(len(C), dtype=np.int64)
        for _ in range(iters):
            reduced = _reduce_partials(vecs, C, alive)
            cnt = np.zeros(len(C), dtype=np.int64)
            S = np.zeros_like(C, dtype=np.int64)
            for r in reduced:
                cnt[r["cluster"]] += r["n"]
                S[r["cluster"]] += np.asarray(r["s"], dtype=np.int64)
            alive = cnt > 0
            C = np.where(
                alive[:, None],
                S.astype(np.float64) / np.maximum(cnt, 1)[:, None] / float(SCALE),
                C,
            )
            sizes = cnt
        return C, sizes, alive
    finally:
        vecs.unpersist()


def _reduce_partials(vecs: DataFrame, C, alive) -> list:
    """One assignment pass + Spark-side second-level reduction.

    The mapInPandas stage emits per-Arrow-batch partial sums; the
    ``groupBy("cluster")`` merges them executor-side (partial_sum then
    one k-row exchange), so ``collect()`` returns at most k rows —
    never O(k * n_batches) — no matter how many tasks scanned the
    corpus. Every merged quantity is an int64 sum, so the reduction is
    order-invariant and the resulting centroids are bit-identical to a
    driver-side merge (pinned by test_kmeans_matches_numpy_reference_
    bitwise / test_kmeans_repartition_invariant).
    """
    from pyspark.sql import functions as F

    dim = C.shape[1]
    partials = vecs.mapInPandas(
        _make_partials(C, alive), "cluster int, n long, s array<long>"
    )
    return (
        partials.groupBy("cluster")
        .agg(
            F.sum("n").alias("n"),
            F.array(*[F.sum(F.col("s").getItem(i)) for i in range(dim)]).alias("s"),
        )
        .collect()
    )


def _make_partials(C, alive):
    """Per-batch: assign to nearest alive centroid, emit partial sums."""
    np, pd = _np_pd()
    C = C.copy()
    alive_ids = np.flatnonzero(alive)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            D = np.empty((len(M), len(alive_ids)), dtype=np.int64)
            for jj, j in enumerate(alive_ids):
                diff = M - C[j]
                D[:, jj] = np.floor((diff * diff) * SCALE).astype(np.int64).sum(axis=1)
            assign = alive_ids[D.argmin(axis=1)]  # ties -> lowest cluster id
            Vfp = np.floor(M * SCALE).astype(np.int64)
            out = []
            for j in np.unique(assign):
                sel = assign == j
                out.append((int(j), int(sel.sum()), Vfp[sel].sum(axis=0).tolist()))
            yield pd.DataFrame(out, columns=["cluster", "n", "s"])

    return gen


def kmeans_flat(spark, corpus: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Driver-contract shape: (cluster, pos, centroid, n_points) rows.

    One row per surviving cluster per dimension (pos is 1-based to
    match SQL generate_subscripts); scalars only, so the result is
    hashable by the driver canonicalizer.
    """
    _, pd = _np_pd()
    C, sizes, alive = kmeans_fit(corpus, k=k, iters=iters)
    rows = []
    for j in range(len(C)):
        if not alive[j]:
            continue
        for pos in range(C.shape[1]):
            rows.append((j, pos + 1, float(C[j, pos]), int(sizes[j])))
    pdf = pd.DataFrame(rows, columns=["cluster", "pos", "centroid", "n_points"])
    return spark.createDataFrame(pdf, "cluster long, pos long, centroid double, n_points long")


def kmeans_centroids_df(
    spark, corpus: DataFrame, k: int = 16, iters: int = 2, cache_key=None
) -> DataFrame:
    """Trained centroids as (c_id, c_emb) — the drop-in ``centroids``
    input for ann_ivf_topk's inverted lists and the clustered near-dup
    cells. Training is built once per (cache_key, k, iters) — the
    production shape: train the index once per corpus version, reuse
    it across every ANN probe and near-dup run. The fixed-point trainer
    is deterministic, so cached and fresh centroids are bit-identical
    (test_clustering.py pins reproducibility). Opt-in: callers pass an
    explicit ``cache_key`` naming the corpus version (e.g. its sf_dir);
    no key, no caching — a key derived implicitly from the plan could
    collide across different filters of the same files."""
    _, pd = _np_pd()

    def train(_dir):
        C, _, alive = kmeans_fit(corpus, k=k, iters=iters)
        return C, alive

    if cache_key is None:
        C, alive = train(None)
    else:
        C, alive = build_once("kmeans_centroids", (cache_key, k, iters), train)
    pdf = pd.DataFrame(
        {
            "c_id": [int(j) for j in range(len(C)) if alive[j]],
            "c_emb": [C[j].tolist() for j in range(len(C)) if alive[j]],
        }
    )
    return spark.createDataFrame(pdf, "c_id long, c_emb array<double>")
