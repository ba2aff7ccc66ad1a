"""Graph analytics: PageRank over the supplier<->part supply graph.

The graph: one node per supplier and per part (parts offset by 1e7 to
disambiguate key spaces), an undirected edge wherever a supplier ships
a part (distinct (l_suppkey, l_partkey) pairs, symmetrized). Two
fixed-point Lloyd-style iterations of PageRank — an ITERATIVE
algorithm under the full hash-oracle gate, like
cluster_kmeans_embeddings: the DuckDB oracle replays both rounds as
unrolled CTE stages and must match bit-for-bit
(operators/graph.py for the determinism design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import build_once
from ..operators.graph import PR_SCALE, pagerank
from ..sources.tables import load_table, read_parquet_cached, table_version
from .registry import query

_PART_OFFSET = 10_000_000
_ITERS = 2

# one PageRank round as unrolled SQL; rank literals are CAST to DOUBLE
# because bare 0.85/1.0 are DECIMAL in DuckDB, and (1.0 - 0.85) must
# be the same IEEE subtraction Spark's driver computes
_ROUND = """
    s{i} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(floor(r.rank / CAST(d.outdeg AS DOUBLE) * {scale}) AS BIGINT)) AS DOUBLE) / {scale}.0 AS mass
      FROM edges e
      JOIN r{prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(n AS DOUBLE)
             + CAST(0.85 AS DOUBLE) * mass AS rank
      FROM s{i}, nn
    )
"""


def _oracle() -> str:
    rounds = ",".join(
        _ROUND.format(i=i, prev=i - 1, scale=PR_SCALE)
        for i in range(1, _ITERS + 1)
    )
    return f"""
    WITH eu AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
             CAST(l_partkey + {_PART_OFFSET} AS BIGINT) AS b
      FROM lineitem
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM eu
      UNION ALL
      SELECT b AS src, a AS dst FROM eu
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS rank
      FROM nodes, nn
    ),
    {rounds}
    SELECT node, rank FROM r{_ITERS}
    """


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_suppkey").cast("bigint").alias("a"),
        (F.col("l_partkey") + _PART_OFFSET).cast("bigint").alias("b"),
    ).distinct()
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))


@query(
    "graph_pagerank_suppliers",
    oracle=_oracle(),
    doc="Two PageRank iterations on the symmetrized supplier-part "
    "supply graph (distinct ship pairs). Per round: one edge->rank "
    "join + one fixed-point mass aggregation — the Pregel "
    "message-passing shape as DataFrame ops, partition-invariant by "
    "int64 quantization, oracle-replayed as unrolled DuckDB CTEs "
    "(operators/graph.py).",
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint the edge list: pagerank references it from
    # several jobs (the up-front stats collect + the rank computation)
    # and from several subtrees per round; materializing the distinct
    # ship pairs once was measured 0.63x at sf0.1 (r14-opt — the
    # operator's old note about persist() being slower predates AQE
    # runtime exchange reuse and used the cache manager, not
    # checkpoint blocks). The edge list is distinct (suppkey, partkey)
    # pairs — ~|catalog| rows, far below the corpus scale, so the
    # materialization is bounded at any SF.
    ranks = pagerank(_edges(spark, sf_dir).localCheckpoint(), iterations=_ITERS)
    return ranks.select(F.col("node").cast("bigint").alias("node"), "rank")


# one FULL-PageRank round (dangling term included) as unrolled SQL:
# s{i} = incoming fixed-point mass, dg{i} = the round's dangling mass
# (total fixed-point rank of out-degree-0 nodes), and every node —
# sources and sinks alike — gets base + damping * (mass + equal
# dangling share), the share floor-quantized like the contributions
_ROUND_DANGLING = """
    s{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(floor(r.rank / CAST(d.outdeg AS DOUBLE) * {scale}) AS BIGINT)) AS m
      FROM edges e
      JOIN r{prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    dg{i} AS (
      SELECT COALESCE(SUM(CAST(floor(r.rank * {scale}) AS BIGINT)), 0) AS d_fp
      FROM r{prev} r LEFT JOIN deg d ON r.node = d.src
      WHERE d.src IS NULL
    ),
    r{i} AS (
      SELECT nd.node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(nn.n AS DOUBLE)
             + CAST(0.85 AS DOUBLE) * (
                 CAST(COALESCE(s.m, 0)
                      + CAST(FLOOR(CAST(dg.d_fp AS DOUBLE) / nn.n) AS BIGINT) AS DOUBLE)
                 / {scale}.0
               ) AS rank
      FROM nodes nd
      CROSS JOIN nn
      CROSS JOIN dg{i} dg
      LEFT JOIN s{i} s ON nd.node = s.node
    )
"""


def _oracle_dangling() -> str:
    rounds = ",".join(
        _ROUND_DANGLING.format(i=i, prev=i - 1, scale=PR_SCALE)
        for i in range(1, _ITERS + 1)
    )
    return f"""
    WITH edges AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
             CAST(l_partkey + {_PART_OFFSET} AS BIGINT) AS dst
      FROM lineitem
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS rank
      FROM nodes, nn
    ),
    {rounds}
    SELECT node, rank FROM r{_ITERS}
    """


@query(
    "graph_pagerank_dangling",
    oracle=_oracle_dangling(),
    doc="FULL PageRank (dangling-mass term) on the DIRECTED "
    "supplier->part ship graph — every part node is a sink, so ~80% "
    "of the graph dangles: each round the sinks' total fixed-point "
    "rank is summed by one extra 1-row aggregate (broadcast into the "
    "rank update, never collected) and shared equally by all nodes, "
    "share floor-quantized so the unrolled DuckDB replay matches "
    "bit-for-bit; supplier sources keep their base+dangling rank "
    "instead of dropping out (operators/graph.py pagerank with "
    "redistribute_dangling=True — the option that lifts "
    "graph_pagerank_suppliers' symmetrize-first precondition).",
    tags=("graph", "pagerank", "iterative", "dangling"),
)
def graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("bigint").alias("src"),
        (F.col("l_partkey") + _PART_OFFSET).cast("bigint").alias("dst"),
    ).distinct()
    # same caller-side materialization as graph_pagerank_suppliers —
    # the dangling variant references the edge list even more often
    # (out-degree agg, node set, per-round contribs AND the per-round
    # dangling anti-join)
    edges = edges.localCheckpoint()
    ranks = pagerank(edges, iterations=_ITERS, redistribute_dangling=True)
    return ranks.select(F.col("node").cast("bigint").alias("node"), "rank")


_LPA_ITERS = 2

_LPA_ROUND = """
    c{i} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS cnt
      FROM edges e JOIN l{prev} l ON e.src = l.node
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )
"""


def _lpa_oracle() -> str:
    rounds = ",".join(
        _LPA_ROUND.format(i=i, prev=i - 1) for i in range(1, _LPA_ITERS + 1)
    )
    return f"""
    WITH eu AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
             CAST(l_partkey + {_PART_OFFSET} AS BIGINT) AS b
      FROM lineitem
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM eu
      UNION ALL
      SELECT b AS src, a AS dst FROM eu
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes),
    {rounds}
    SELECT node, label AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM l{_LPA_ITERS}
    """


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="Community detection on the symmetrized supplier<->part "
    "supply graph: 2 synchronous label-propagation rounds (Raghavan "
    "et al. 2007), deterministic min-label tie-break. Pure integer "
    "message passing, so the unrolled CTE replay is exact with NO "
    "fixed-point quantization — and unlike the other iterative "
    "operators the whole thing is ONE lazy plan with zero driver "
    "traffic. Per round: message join + (node, label) count + "
    "per-node window argmax, all keyed on graph keys "
    "(operators/graph.py label_propagation).",
    tags=("graph", "iterative", "clustering", "scale"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    return label_propagation(_edges(spark, sf_dir), iterations=_LPA_ITERS)


# FULL value oracle shared by the one-shot AND incremental triangle
# queries: the exact fixed-point cosine pair join rebuilds the
# similarity edges over the WHOLE corpus, a 3-way self-join counts
# every triangle, wedges come from the degree aggregate, and the
# clustering coefficient is the same floor-1e6 fixed point. For the
# incremental query this is deliberately the ONE-SHOT answer — the
# hash match is the incremental == one-shot proof on real data (the
# dedup_cc_incremental precedent).
_TRI_ORACLE = """
    WITH ce AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id,
             SUM(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e14) AS BIGINT)) AS nrm
      FROM ce GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             SUM(CAST(floor(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE) * 1e14) AS BIGINT)) AS dxy
      FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    e AS (
      SELECT d1 AS u, d2 AS v FROM dots
      JOIN norms n1 ON d1 = n1.vec_id
      JOIN norms n2 ON d2 = n2.vec_id
      WHERE CAST(dxy AS DOUBLE) / sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) >= 0.25
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    agg AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        (SELECT CAST(COALESCE(SUM((d * (d - 1)) // 2), 0) AS BIGINT) FROM deg) AS n_wedges,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM e e1 JOIN e e2 ON e1.v = e2.u
                   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    )
    SELECT n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN CAST((3000000 * n_triangles) // n_wedges AS BIGINT)
                ELSE 0 END AS clustering_fp
    FROM agg
    """


@query(
    "graph_triangle_count",
    oracle=_TRI_ORACLE,
    doc="TRIANGLE COUNT + global clustering coefficient over the "
    "semantic-similarity graph (edges = exact fixed-point cosine >= "
    "0.25 pairs — a local-density diagnostic for embedding corpora: "
    "high clustering marks redundant content families, near-zero "
    "marks background). Degree-oriented node-iterator counting "
    "(Schank-Wagner 2005 / Suri-Vassilvitskii WWW 2011): every edge "
    "directed from its lower-(degree, id) endpoint, so each triangle "
    "is generated by exactly ONE wedge at its lowest-ranked vertex "
    "and per-node wedge work is bounded O(sqrt(m)) — the celebrity-"
    "hub mitigation that makes the self-join survive skewed degree "
    "distributions at 100 TB (operators/graph.py triangle_stats; "
    "orientation equivalence pinned by tests/test_graph.py).",
    tags=("graph", "similarity", "triangles", "scale"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_stats
    from ..operators.similarity import embedding_cosine_neardup
    from ..sources.tables import balanced

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    edges = embedding_cosine_neardup(corpus, threshold=0.25).select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    )
    return triangle_stats(edges)


def _tri_base_index_cached(spark: SparkSession, sf_dir: str) -> tuple:
    """Build-once STANDING triangle index of the base (80%) similarity
    graph: a production graph index is built once and then MAINTAINED,
    so the registered incremental audit bills the per-batch fold, not
    the one-shot solve. Three persisted artifacts per corpus version: the
    canonical base EDGE set (the semi-join target — at scale, bucketed
    by its key), its DEGREE sidecar, and the standing one-row COUNTS.
    Returns (edges, degrees, counts) DataFrames read back from
    parquet."""
    import os

    from ..operators.graph import graph_degrees, triangle_stats
    from ..operators.similarity import embedding_cosine_neardup
    from ..sources.tables import balanced

    def build(path):
        corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
        old = corpus.filter(F.col("vec_id") % 5 != 0)
        edges = embedding_cosine_neardup(old, threshold=0.25).select(
            F.col("d1").alias("u"), F.col("d2").alias("v")
        )
        edges.write.mode("overwrite").parquet(os.path.join(path, "edges"))
        edges_rb = read_parquet_cached(spark, os.path.join(path, "edges"))
        graph_degrees(edges_rb).write.mode("overwrite").parquet(
            os.path.join(path, "degrees")
        )
        triangle_stats(edges_rb).write.mode("overwrite").parquet(
            os.path.join(path, "counts")
        )
        return path

    path = build_once("tri_base_index", table_version(sf_dir, "embeddings"), build)
    return (
        read_parquet_cached(spark, os.path.join(path, "edges")),
        read_parquet_cached(spark, os.path.join(path, "degrees")),
        read_parquet_cached(spark, os.path.join(path, "counts")),
    )


@query(
    "graph_triangle_incremental",
    oracle=_TRI_ORACLE,
    doc="INCREMENTAL triangle maintenance — the vertex-arrival member "
    "of the incremental matrix (image/video/audio probes, LSH batch, "
    "IVF append, z-order append, connected components): a batch of "
    "arriving vectors (20% of the corpus) folds into the standing "
    "triangle index of the base similarity graph. The batch's edges "
    "(exact blocked-GEMM cross pairs old x new + within-batch pairs, "
    "both fixed-point-rescored) update the counts via disjoint "
    "generation by number-of-new-vertices — cross-edge wedges closed "
    "by a semi-join INTO the standing edge index, new-new edges "
    "closed by the batch's own cross edges, all-new triangles counted "
    "one-shot on the tiny batch graph — and the wedge total updates "
    "from the degree sidecar alone (touched nodes only, keyed join). "
    "O(batch adjacency) work, never a recount; incremental == "
    "one-shot EXACTLY in the same pure-bigint arithmetic, and the "
    "oracle IS the one-shot recount over the whole corpus, so the "
    "hash match is the equality proof on real data "
    "(operators/graph.py incremental_triangle_stats; equality pinned "
    "by tests/test_graph.py::test_incremental_triangles_equal_oneshot).",
    tags=("graph", "triangles", "incremental", "scale"),
)
def graph_triangle_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import incremental_triangle_stats
    from ..operators.similarity import (
        embedding_cosine_cross_pairs,
        embedding_cosine_neardup,
    )
    from ..sources.tables import balanced

    corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
    old = corpus.filter(F.col("vec_id") % 5 != 0)
    new = corpus.filter(F.col("vec_id") % 5 == 0)
    base_edges, base_degrees, base_counts = _tri_base_index_cached(spark, sf_dir)
    # r15 (the r14 pagerank lever, missed here): the fold references
    # the batch's edge lists from SIX subtrees spread over the five
    # broadcast-scalar subquery jobs (t1/t2/t3, wedge delta, edge
    # delta) — without a call-local materialization each job re-runs
    # the blocked-GEMM pairing from the embedding scan. Checkpoint the
    # bounded edge lists (similarity pairs, not corpus rows) so the
    # GEMM runs once per call; a fresh call still recomputes (eager,
    # call-local — NOT a persist, which would leak across bench
    # iterations). Probe (local[8], sf0.1, back-to-back): fold
    # 5.4-9.4 s -> see OPTIMIZATION_r15.md.
    cross = embedding_cosine_cross_pairs(old, new, threshold=0.25).select(
        F.col("d1").alias("a"), F.col("d2").alias("x")
    ).localCheckpoint()
    nn = embedding_cosine_neardup(new, threshold=0.25).select(
        F.col("d1").alias("x"), F.col("d2").alias("y")
    ).localCheckpoint()
    return incremental_triangle_stats(base_edges, base_degrees, base_counts, cross, nn)


def _tri_edge_batch_pred():
    """The deterministic edge split both the builder and the query use:
    ~1/8 of the similarity edges 'arrive' as the batch (pmod over a
    simple linear mix of the canonical endpoint ids — any stable split
    works; the oracle is independent of it)."""
    return F.pmod(F.col("u") * F.lit(31) + F.col("v"), F.lit(8)) == 0


def _tri_edge_base_index_cached(spark: SparkSession, sf_dir: str) -> tuple:
    """Build-once STANDING triangle index for the EDGE-arrival audit
    (the _tri_base_index_cached shape, split by EDGES instead of
    vertices): the full similarity edge set is materialized once per
    corpus version (in production the pairing pipeline emits it), the
    base 7/8 of edges become the standing index (edges + degree
    sidecar + one-row counts, all persisted), and the remaining 1/8
    replays as the arriving batch. Returns (all_edges, base_edges,
    base_degrees, base_counts) read back from parquet."""
    import os

    from ..operators.graph import graph_degrees, triangle_stats
    from ..operators.similarity import embedding_cosine_neardup
    from ..sources.tables import balanced

    def build(path):
        corpus = balanced(spark, load_table(spark, sf_dir, "embeddings"))
        edges = embedding_cosine_neardup(corpus, threshold=0.25).select(
            F.col("d1").alias("u"), F.col("d2").alias("v")
        )
        edges.write.mode("overwrite").parquet(os.path.join(path, "edges"))
        all_rb = read_parquet_cached(spark, os.path.join(path, "edges"))
        all_rb.filter(~_tri_edge_batch_pred()).write.mode("overwrite").parquet(
            os.path.join(path, "base")
        )
        base_rb = read_parquet_cached(spark, os.path.join(path, "base"))
        graph_degrees(base_rb).write.mode("overwrite").parquet(
            os.path.join(path, "degrees")
        )
        triangle_stats(base_rb).write.mode("overwrite").parquet(
            os.path.join(path, "counts")
        )
        return path

    path = build_once("tri_edge_index", table_version(sf_dir, "embeddings"), build)
    return (
        read_parquet_cached(spark, os.path.join(path, "edges")),
        read_parquet_cached(spark, os.path.join(path, "base")),
        read_parquet_cached(spark, os.path.join(path, "degrees")),
        read_parquet_cached(spark, os.path.join(path, "counts")),
    )


@query(
    "graph_triangle_edge_incremental",
    oracle=_TRI_ORACLE,
    doc="EDGE-ARRIVAL incremental triangle maintenance (r12; r11 "
    "VERDICT missing #1) — the case the vertex-arrival fold cannot "
    "express and the one a similarity pipeline actually hits: NEW "
    "similarity pairs landing between EXISTING documents. A batch of "
    "1/8 of the similarity edges folds into the standing index of "
    "the other 7/8: triangles are generated exactly once by their "
    "BATCH-edge count (1: common standing neighbors of the edge, "
    "expanded from the lower-degree endpoint — the edge-iterator "
    "bound, min(deg u, deg v) candidates even against a celebrity "
    "hub — and closed by a semi-join into the standing edge index; "
    "2: the batch's own wedge self-join closed against the base; 3: "
    "one-shot on the tiny batch graph), wedges update from the "
    "degree sidecar alone, duplicate/already-present arrivals are "
    "dropped on entry so re-delivery cannot double-count. O(batch "
    "adjacency) work, never a recount; the oracle IS the one-shot "
    "recount over the whole corpus, so the hash match is the "
    "incremental == one-shot proof on real data (operators/graph.py "
    "edge_incremental_triangle_stats; equality across random/hub/"
    "new-vertex/overlap/empty cases pinned by tests/test_graph.py::"
    "test_edge_incremental_triangles_equal_oneshot).",
    tags=("graph", "triangles", "incremental", "scale"),
)
def graph_triangle_edge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import edge_incremental_triangle_stats

    all_edges, base_edges, base_degrees, base_counts = _tri_edge_base_index_cached(
        spark, sf_dir
    )
    # r15: the fold references the batch from ~6 subtrees across its
    # five broadcast-scalar subquery jobs; checkpoint the (tiny,
    # 1/8-of-edges) batch so each job reads the materialized rows
    # instead of re-scanning the edge parquet (same lever as
    # graph_triangle_incremental's cross/nn; call-local, not a persist)
    batch = all_edges.filter(_tri_edge_batch_pred()).localCheckpoint()
    return edge_incremental_triangle_stats(
        base_edges, base_degrees, base_counts, batch
    )
