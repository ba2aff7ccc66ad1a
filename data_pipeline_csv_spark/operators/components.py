"""Distributed connected components over an edge list.

Turns near-duplicate PAIRS (from MinHash-LSH / SimHash / Jaccard) into
CLUSTERS so a dedup pipeline can keep one canonical document per
component — pairs alone under-delete whenever duplicates are
transitive (a~b, b~c but a!~b threshold-wise).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log^2 n) rounds on any graph (O(log n) in practice), each round two
shuffles (a groupBy per star step). This is the scale-correct choice:
naive label propagation needs O(diameter) rounds, and duplicate-cluster
chains (boilerplate families) can have large diameters.

Every round is pure DataFrame ops (groupBy + min + join); per-round
``localCheckpoint`` truncates lineage so the plan does not grow
exponentially across iterations. Convergence is detected with an O(1)
aggregate fingerprint (count + sum of row hashes) rather than a
set-difference join.

The reference (kiurchevihor/data_pipeline_csv) has no graph or dedup
surface at all (SURVEY.md §2.2); this operator is part of the
training-data-pipeline extension family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbrs = _symmetrize(e)
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u to min(N(u) ∪ {u})."""
    # orient each edge from its larger endpoint to its smaller one
    oriented = _symmetrize(e).filter(F.col("v") < F.col("u"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(m, "u")
    to_min = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = m.select("u", F.col("m").alias("v"))
    return (
        to_min.union(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free under ANSI mode (rows are
    # distinct, so xor cancellation can't mask a real change vs count).
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


# Edge sets at or under this size are solved ON THE DRIVER (union-find)
# instead of via the distributed star loop. Measured at the bound, on a
# 4 vCPU / 15 GB host: 200k disjoint edges (400k nodes, the most nodes
# an edge set this size can have) raised the Python driver's peak RSS
# by 73 MB (138 -> 211 MB) and took 1.5 s to solve and build the
# labeling frame. The star loop costs 2 Spark jobs per round for
# O(log n) rounds instead, pure job-launch latency on a small graph
# (measured: the incremental fold's contracted batch graph ran ~13
# rounds = ~26 jobs over a few hundred edges). Larger edge sets take the distributed loop unchanged, so the
# switch is scale-adaptive the same way AQE's broadcast conversion is.
_DRIVER_SOLVE_MAX_EDGES = 200_000


def _driver_components(e: DataFrame) -> DataFrame:
    """Exact min-id components of a SMALL edge set via driver-side
    union-find — bit-identical to the star loop's labeling: union by
    MIN id keeps every tree's root equal to the minimum node id of its
    set (inductively: both roots are their trees' minima, the new root
    is the smaller), so find(n) is the component's min id — exactly
    the label the large-star/small-star fixpoint assigns, and
    insertion-order-independent (the min of a set does not depend on
    how the set was unioned together)."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    pdf = e.toPandas()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    ut = e.schema["u"].dataType
    schema = StructType(
        [StructField("node", ut), StructField("component", ut)]
    )
    # a pandas frame takes the JVM-side Arrow path; a list of tuples
    # would be pickled through a Python-worker job
    nodes = list(parent)
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "component": [find(n) for n in nodes]}),
        schema,
    )


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min id.

    ``edges`` is an undirected edge list (either orientation, self-loops
    and duplicates tolerated). Isolated nodes don't appear in an edge
    list — callers wanting them map absent ids to themselves.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    fp = _fingerprint(e)
    if fp[0] <= _DRIVER_SOLVE_MAX_EDGES:
        # small graph: finish on the driver (exact same labels — see
        # _driver_components) instead of paying 2 jobs/round for
        # O(log n) star rounds; the fingerprint above already knows n
        return _driver_components(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        new_fp = _fingerprint(e)
        if new_fp == fp:
            break
        fp = new_fp
    # converged edge set is a star per component: (member, root). Roots
    # appear only on the right; label them with themselves.
    sym = _symmetrize(e)
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 25,
) -> DataFrame:
    """Fold a batch of NEW edges into an existing component labeling
    WITHOUT re-solving the full graph — the maintenance loop of a
    continuously-growing dedup cluster index (every arriving batch
    produces new near-dup pairs; recomputing components over all
    historical pairs is O(corpus) per batch and the thing this
    operator avoids).

    The standard contraction argument: components of (old graph ∪ new
    edges) equal components of the CONTRACTED graph where every old
    component collapses to its representative — because old components
    stay internally connected, only the new edges can merge them. So:

    1. map each new edge endpoint through the old labeling (absent
       nodes, i.e. first-seen documents, label themselves) — O(batch)
       join work against the (node, component) table;
    2. run large-star/small-star on the CONTRACTED edge set — a graph
       with one node per TOUCHED old component, not per document
       (O(batch) edges, O(log) rounds);
    3. propagate: every old label maps through the contracted
       solution with one final join; min-id labels compose (the
       contracted solution's representative of a merged group is the
       min over its member components' min ids, which is the min over
       their union's nodes — the same label the one-shot solve picks,
       so incremental ≡ one-shot exactly, pinned by
       tests/test_incremental.py::test_incremental_components_equals_oneshot).

    ``labels``: (node, component) from :func:`connected_components`
    (or a previous call of this). ``new_edges``: the batch. Returns
    the updated (node, component) covering every previously-labeled
    node and every node of the new edges.
    """
    e_new = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    lab_u = labels.select(F.col("node").alias("u"), F.col("component").alias("_cu"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("component").alias("_cv"))
    contracted = (
        e_new.join(lab_u, "u", "left")
        .join(lab_v, "v", "left")
        .select(
            F.coalesce(F.col("_cu"), F.col("u")).alias("u"),
            F.coalesce(F.col("_cv"), F.col("v")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    merged = connected_components(contracted, max_iter=max_iter)
    # old labels re-route through the contracted solution; untouched
    # components (absent from it) keep their label. New nodes appear
    # either in the contracted solution directly (their edge merged
    # nothing) or via their labeled endpoint.
    remap = merged.select(
        F.col("node").alias("_old"), F.col("component").alias("_new")
    )
    updated_old = (
        labels.join(remap, labels["component"] == F.col("_old"), "left")
        .select(
            "node", F.coalesce(F.col("_new"), F.col("component")).alias("component")
        )
    )
    known = labels.select("node")
    new_nodes = (
        e_new.select(F.col("u").alias("node"))
        .unionByName(e_new.select(F.col("v").alias("node")))
        .distinct()
        .join(known, "node", "left_anti")
    )
    resolved_new = (
        new_nodes.join(remap, new_nodes["node"] == F.col("_old"), "left")
        .select(
            "node", F.coalesce(F.col("_new"), F.col("node")).alias("component")
        )
    )
    return updated_old.unionByName(resolved_new)
