"""Similarity search over an embedding column (array<float>).

- :func:`cosine_topk` — brute-force top-k: broadcast the (small) query
  set against the corpus scan; one pass over the corpus computes all
  query dot products (no shuffle until the final per-query top-k,
  which is a window over k*|queries| candidate rows after a
  partition-local prune). Exact-decimal math so the DuckDB oracle
  matches bit-for-bit.

- :func:`ann_ivf_topk` — IVF-style approximate search: a deterministic
  centroid subset partitions the corpus into inverted lists; queries
  probe the ``nprobe`` nearest centroids and re-rank only those lists.
  At 100 TB the corpus lives on disk as a list-ordered layout governed
  by the versioned commit log (:func:`write_ivf_layout`) and a probe
  plans ONLY the files whose [min_list_id, max_list_id] manifest run
  intersects the probed lists (:func:`ann_ivf_probe_ondisk` via
  :func:`read_ivf_lists`, pinned by
  tests/test_plans.py::test_ivf_ondisk_probe_prunes_partitions);
  the in-memory form expresses the same pruning as a join.

Scale notes: brute force is O(|corpus| * |queries| * dim) map-side —
the right baseline when |queries| is small and broadcastable. IVF cuts
the scanned fraction to ~nprobe/nlists. Skewed lists are split by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..artifacts import build_once
from ..functions.vector import cosine_from_parts, cosine_fast, norm_sq_exact, dot_exact


def _with_queries(corpus: DataFrame, query_ids: list[int]) -> tuple[DataFrame, DataFrame]:
    queries = corpus.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return corpus, queries


def cosine_topk(corpus: DataFrame, query_ids: list[int], k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k of corpus vectors per query vector.

    Excludes the query vector itself; ties broken by vec_id.
    Returns (q_id, vec_id, cosine, rank).
    """
    corpus, queries = _with_queries(corpus, query_ids)
    corpus_n = corpus.select(
        "vec_id", "embedding", norm_sq_exact(F.col("embedding")).alias("nrm")
    )
    queries_n = queries.select(
        "q_id", "q_emb", norm_sq_exact(F.col("q_emb")).alias("q_nrm")
    )
    scored = (
        corpus_n.join(F.broadcast(queries_n), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_from_parts(
                dot_exact(F.col("q_emb"), F.col("embedding")),
                F.col("q_nrm"),
                F.col("nrm"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def ann_ivf_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nlists: int = 16,
    nprobe: int = 4,
    centroid_stride: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate cosine top-k.

    Default centroids are a deterministic corpus subset (every
    ``centroid_stride``-th vec_id) — cheap and reproducible; pass
    ``centroids=kmeans_centroids_df(...)`` (operators/clustering.py)
    for trained lists, which tighten the probe/recall trade-off on
    clustered corpora. Each corpus vector joins its nearest centroid
    (broadcast); each query probes its ``nprobe`` nearest lists and
    re-ranks only those lists with the fast double cosine. Returns
    (q_id, vec_id, rank) — approximate by construction.

    One of ``centroids`` / ``centroid_stride`` is required: deriving a
    stride here would need the corpus row count, and an eager
    ``count()`` at query-construction time is a full extra scan per
    call. Callers reading the driver testdata get the count for free
    from parquet footer metadata (sources.tables.table_num_rows).
    """
    corpus = corpus.select("vec_id", "embedding")
    if centroids is None:
        if centroid_stride is None:
            raise ValueError(
                "ann_ivf_topk needs centroid_stride or centroids: pass "
                "centroid_stride=max(1, n_rows // nlists) (cheap n_rows: "
                "sources.tables.table_num_rows) or trained centroids "
                "(operators.clustering.kmeans_centroids_df)"
            )
        stride = max(1, centroid_stride)
        centroids = corpus.filter((F.col("vec_id") % stride) == 0).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
        )

    assigned = ivf_assign_lists(corpus, centroids)
    queries = corpus.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probes = ivf_probe_lists(queries, centroids, nprobe)
    return _ivf_rerank(probes, assigned, k)


def ivf_assign_lists(
    corpus: DataFrame, centroids: DataFrame, carry: tuple = ()
) -> DataFrame:
    """(vec_id, embedding, *carry, list_id): nearest centroid per
    corpus vector (one broadcast join; ties to the lowest c_id).
    ``carry`` names metadata columns to keep alongside the vector —
    the filtered-ANN path stores them IN the layout so a predicate
    pushes into the pruned scan instead of re-touching the corpus."""
    w_assign = W.partitionBy("vec_id").orderBy(F.col("_cs").desc(), F.col("c_id").asc())
    return (
        corpus.join(F.broadcast(centroids), how="cross")
        .withColumn("_cs", cosine_fast(F.col("embedding"), F.col("c_emb")))
        .withColumn("_rn", F.row_number().over(w_assign))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", *carry, F.col("c_id").alias("list_id"))
    )


def ivf_probe_lists(queries: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """(q_id, q_emb, list_id): each query's ``nprobe`` nearest lists
    (same tie-break as assignment, so a vector always probes its own
    list first)."""
    w_probe = W.partitionBy("q_id").orderBy(F.col("_cs").desc(), F.col("c_id").asc())
    return (
        queries.join(F.broadcast(centroids), how="cross")
        .withColumn("_cs", cosine_fast(F.col("q_emb"), F.col("c_emb")))
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "q_emb", F.col("c_id").alias("list_id"))
    )


def _ivf_rerank(probes: DataFrame, assigned: DataFrame, k: int) -> DataFrame:
    """Re-rank only vectors in probed lists (list-pruned join)."""
    w_rank = W.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("vec_id").asc())
    return (
        probes.join(assigned, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("_sim", cosine_fast(F.col("q_emb"), F.col("embedding")))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


def assign_nearest_centroid_fp(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, cluster, dist_fp): nearest centroid by the
    k-means trainer's FIXED-POINT squared L2 distance (per-dimension
    floor((v-c)^2 * 2^20) summed as int64 — order-invariant, ties to
    the lower c_id), i.e. exactly the d/a CTE step of the kmeans SQL
    oracle. Unlike ivf_assign_lists' float cosine assignment, this one
    is bit-replayable by DuckDB, which is what lets a whole
    clustering-derived pipeline (SemDeDup) sit under a FULL value
    oracle. One broadcast cross join + per-vec argmin window; no
    corpus shuffle beyond the window's vec_id partitioning."""
    from ..operators.clustering import SCALE

    def _sq(x, c):
        d = x.cast("double") - c.cast("double")
        return F.floor(d * d * F.lit(float(SCALE))).cast("bigint")

    dist = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("c_emb"), _sq),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy("vec_id").orderBy(F.col("_d").asc(), F.col("c_id").asc())
    return (
        corpus.join(F.broadcast(centroids), how="cross")
        .withColumn("_d", dist)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "vec_id", "embedding",
            F.col("c_id").alias("cluster"), F.col("_d").alias("dist_fp"),
        )
    )


def semdedup_verdicts(
    corpus: DataFrame, centroids: DataFrame, eps: float = 0.45
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    deduplication of an embedding corpus — cluster, then WITHIN each
    cluster drop every vector that has a semantic duplicate
    (cosine >= eps) of higher keep-priority, where priority follows
    the paper's rule of keeping LOW-centroid-similarity examples
    (here: rank by fixed-point centroid distance DESC, ties to the
    lower vec_id). Returns one verdict row per vector:
    (vec_id, cluster, keep).

    This is the embedding-space complement of the text near-dup
    family: it catches paraphrases and re-renderings that share no
    n-grams. Cost shape is SemDeDup's own: pairwise work is
    sum-over-clusters C(|cell|, 2), never corpus-quadratic, and the
    pair join is partitioned by cluster. Every step — fixed-point
    assignment (:func:`assign_nearest_centroid_fp`), rank window,
    fixed-point pairwise cosine — is engine-exact, so the registered
    audit (queries/clustering.py dedup_semantic_semdedup) runs under
    a FULL value oracle: DuckDB replays training, assignment, ranking
    and every pairwise verdict bit-for-bit. Drop rule: ANY
    better-ranked clustermate above eps suppresses — whether or not
    that clustermate was itself dropped — i.e. the released SemDeDup
    code's upper-triangular similarity-matrix procedure, pinned by
    tests/test_similarity.py::test_semdedup_triu_chain_semantics.
    """
    # the ranked assignment feeds THREE consumers (both pairwise join
    # sides + the verdict join) — pin it so the corpus x centroids
    # assignment pass runs once, not three times. r15: localCheckpoint,
    # not persist — the r8-era cache entry was never unpersisted, so it
    # leaked across calls in one session (the bench's later iterations
    # read iteration 1's cache); the call-local checkpoint materializes
    # once per call and every fresh call honestly recomputes.
    ranked = assign_nearest_centroid_fp(corpus, centroids).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("cluster").orderBy(
                F.col("dist_fp").desc(), F.col("vec_id").asc()
            )
        ),
    ).localCheckpoint()
    x = ranked.select(
        "cluster",
        F.col("vec_id").alias("x_id"),
        F.col("embedding").alias("x_emb"),
        F.col("rank").alias("x_rank"),
    )
    y = ranked.select(
        "cluster",
        F.col("vec_id").alias("y_id"),
        F.col("embedding").alias("y_emb"),
        F.col("rank").alias("y_rank"),
    )
    dropped = (
        x.join(y, "cluster")
        .filter(F.col("y_rank") < F.col("x_rank"))
        .filter(
            cosine_from_parts(
                dot_exact(F.col("x_emb"), F.col("y_emb")),
                norm_sq_exact(F.col("x_emb")),
                norm_sq_exact(F.col("y_emb")),
            )
            >= eps
        )
        .select(F.col("x_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        ranked.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("_dropped").isNull().alias("keep"),
        )
    )


def write_ivf_layout(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    carry: tuple = (),
    partition_cols: tuple = ("list_id",),
    n_files: int | None = None,
) -> None:
    """Materialize the IVF index AS a storage layout GOVERNED BY THE
    VERSIONED COMMIT LOG (r14 — the same protocol the stats and bucket
    layouts run; r13 VERDICT next #5 retired the journaled-swap +
    advisory-lock + generation-sidecar machinery this replaced): the
    corpus is assigned to its inverted lists (the only full-corpus
    pass), written as flat parquet ordered by the partition columns so
    every file covers a tight [min_list_id, max_list_id] run recorded
    in the commit's manifest part, and the per-list stats sidecar
    (n_vec / min_sim / build_min_sim / n_drift — the drift-accounting
    artifact every append reads) plus the COARSE QUANTIZER itself
    (the centroids that define what ``list_id`` means) become pool
    parquets referenced by the commit's ``stats_part`` /
    ``centroids_part`` keys, so index data, file manifest, drift
    state AND quantizer version TOGETHER: readers get snapshot
    isolation, any number of maintainers race through the CAS (an
    append that loses to a retrain re-assigns against the winner's
    committed centroids — no desync is expressible), and the index
    inherits time travel / DESCRIBE HISTORY / RESTORE from the shared
    payload shape, centroids rolling back with the data. Default one
    file per list (``n_files = nlists``) keeps probe read
    amplification at the dir-per-list protocol's level.

    This is the amortize-once artifact a 100 TB ANN deployment keeps
    per corpus version: every probe afterwards plans the ``nprobe``
    matching files from the broadcast-sized manifest
    (:func:`read_ivf_lists`) instead of scanning the corpus.
    """
    import os
    import shutil
    import uuid

    from .layout import (
        _cas_commit,
        _manifest_pool_dir,
        _manifest_rows,
        _nullable_schema,
        _skip_data_dir,
        _stage_manifest_part,
    )

    spark = corpus.sparkSession
    pcols = list(partition_cols)
    if n_files is None:
        n_files = centroids.count()
    assigned = ivf_assign_lists(
        corpus.select("vec_id", "embedding", *carry), centroids, carry=carry
    )
    shutil.rmtree(path, ignore_errors=True)
    data_dir = _skip_data_dir(path)
    (
        assigned.repartitionByRange(int(n_files), *[F.col(c) for c in pcols])
        .sortWithinPartitions(*pcols)
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    data_schema = _nullable_schema(spark.read.parquet(data_dir).schema)
    missing = [c for c in pcols if c not in data_schema.names]
    if missing:
        raise ValueError(f"write_ivf_layout: partition column(s) {missing} not in data")
    tag = f"init-{uuid.uuid4().hex[:12]}"
    staging = os.path.join(path, "_staging", tag)
    members = spark.read.schema(data_schema).parquet(data_dir)
    part = _stage_manifest_part(
        _manifest_rows(members, pcols),
        staging,
        _manifest_pool_dir(path),
        f"{tag}.parquet",
    )
    stats_part = _stage_manifest_part(
        _ivf_list_stats(members, centroids),
        os.path.join(staging, "stats"),
        _manifest_pool_dir(path),
        f"{tag}-stats.parquet",
    )
    # The coarse quantizer is COMMITTED STATE (r14 review: centroids
    # are what list_id means — leaving them caller-side let a racing
    # retrain silently desync assignment from the index). Every later
    # op assigns/probes against the centroids of the commit it plans.
    cents_part = _stage_manifest_part(
        centroids.select(
            F.col("c_id").cast("long"), F.col("c_emb").cast("array<double>")
        ),
        os.path.join(staging, "cents"),
        _manifest_pool_dir(path),
        f"{tag}-cents.parquet",
    )
    new_files = sorted(fn for fn in os.listdir(data_dir) if fn.endswith(".parquet"))
    payload = {
        "op": "init",
        "tag": tag,
        "parts": [part],
        "new_files": new_files,
        "replaced": [],
        "skip_cols": pcols,
        "data_schema": data_schema.jsonValue(),
        "stats_part": stats_part,
        "centroids_part": cents_part,
    }
    ok = _cas_commit(path, 1, payload)
    shutil.rmtree(staging, ignore_errors=True)
    if not ok:
        raise RuntimeError(f"write_ivf_layout: {path} was initialized concurrently")


# The per-list stats sidecar's fixed shape (explicit-schema reads, no
# footer inference at plan time — the layout.py discipline).
_IVF_STATS_SCHEMA = (
    "list_id long, n_vec long, min_sim double,"
    " build_min_sim double, n_drift long"
)


def _read_ivf_stats(spark, layout_path: str, payload: dict | None = None):
    """The committed per-list stats sidecar of ``payload`` (default:
    the latest commit) — one small pool parquet named by the commit's
    ``stats_part`` key, so stats version WITH the index (r14; the
    generation-symlink sidecar and its crash/GC protocol are gone).
    Returns the (list_id, n_vec, min_sim, build_min_sim, n_drift)
    DataFrame; ``build_min_sim`` is the FROZEN drift edge (set only at
    build/retrain — r10 VERDICT: a min-merged edge ratchets down and
    mutes sustained drift). Lists FIRST POPULATED BY AN APPEND persist
    a NULL frozen edge (there was no build to freeze); the read
    re-establishes the invariant the old sidecar protocol kept —
    NULL falls back to the list's observed min — so later appends of
    equally-close vectors don't count 100% drifted against the 1.0
    no-stats fallback (r14 review)."""
    import os

    from .layout import _load_version, _manifest_pool_dir

    if payload is None:
        _v, payload = _load_version(layout_path)
    return spark.read.schema(_IVF_STATS_SCHEMA).parquet(
        os.path.join(_manifest_pool_dir(layout_path), payload["stats_part"])
    ).select(
        "list_id",
        "n_vec",
        "min_sim",
        F.coalesce("build_min_sim", "min_sim").alias("build_min_sim"),
        "n_drift",
    )


def _ivf_list_stats(members: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-list build stats: (list_id, n_vec, min_sim, build_min_sim,
    n_drift) — each cell's population, its observed min cosine to the
    cell centroid, the FROZEN build-time edge drift is measured
    against, and the count of appended members below that edge (0 at
    build/retrain). nlists rows from one broadcast join + agg."""
    return (
        members.join(
            F.broadcast(centroids), members["list_id"] == centroids["c_id"]
        )
        .select(
            "list_id", cosine_fast(F.col("embedding"), F.col("c_emb")).alias("_s")
        )
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vec"),
            F.min("_s").alias("min_sim"),
            F.min("_s").alias("build_min_sim"),
            F.lit(0).cast("long").alias("n_drift"),
        )
        .select(
            F.col("list_id").cast("long"),
            "n_vec",
            "min_sim",
            "build_min_sim",
            "n_drift",
        )
    )


_IVF_CENTS_SCHEMA = "c_id long, c_emb array<double>"


def _read_ivf_centroids(spark, layout_path: str, payload: dict | None = None):
    """The COMMITTED coarse quantizer of ``payload`` (default: the
    latest commit) — the ``centroids_part`` pool parquet. This is what
    assignment and probing use: ``list_id`` is only meaningful
    relative to these centroids, so they version with the index (r14
    review — caller-supplied centroids could silently desync from a
    racing retrain's commit)."""
    import os

    from .layout import _load_version, _manifest_pool_dir

    if payload is None:
        _v, payload = _load_version(layout_path)
    return spark.read.schema(_IVF_CENTS_SCHEMA).parquet(
        os.path.join(_manifest_pool_dir(layout_path), payload["centroids_part"])
    )


def _lists_intersect(sorted_ids: list, lo, hi) -> bool:
    """Does the sorted probed/drifted id set intersect a file's
    [lo, hi] list_id run? One bisect over the driver-side set — the
    single manifest-planning predicate shared by the probe read
    (:func:`read_ivf_lists`) and the retrain's affected-file plan, so
    the two planners cannot drift apart. None stats (an all-NULL
    file) never match: such a file holds no probed list."""
    import bisect

    if lo is None or hi is None:
        return False
    i = bisect.bisect_left(sorted_ids, lo)
    return i < len(sorted_ids) and sorted_ids[i] <= hi


def _safe_batch_tag(batch_id: str) -> str:
    # [alnum_] only: "-" is the marker terminator in b<tag>- artifact
    # names, so a tag containing it would prefix-match a longer tag's
    # files (r14 review #2 — the layout.py _safe_tag rule)
    import hashlib

    if all(c.isalnum() or c == "_" for c in batch_id) and 0 < len(batch_id) <= 48:
        return batch_id
    return hashlib.sha256(batch_id.encode()).hexdigest()[:16]


def ivf_append(
    new_corpus: DataFrame,
    centroids: DataFrame | None,
    layout_path: str,
    batch_id: str | None = None,
    carry: tuple = (),
) -> dict:
    """Incremental IVF maintenance on the commit log (r14): route NEW
    vectors into an existing :func:`write_ivf_layout` corpus without
    rebuilding it. The batch is assigned with the COMMITTED centroids
    of the version this op plans (``centroids_part`` — probes stay
    consistent by construction: ``centroids`` the argument is
    accepted for API continuity but the committed quantizer is
    authoritative, so a caller holding stale centroids cannot desync
    assignment from the index), staged as list-ordered files (one per
    touched list, the dir-per-list protocol's read amplification
    kept), moved in under a ``b<tag>-`` prefix (invisible until the
    CAS), and committed as parts = parent's + one O(batch) manifest
    part with the MERGED stats sidecar riding the same commit — index
    data, manifest and drift state land atomically together, which
    the old protocol could only approximate with its generation
    symlink.

    MULTI-WRITER: a CAS loser whose winner kept the quantizer
    (another append, a compaction) reuses its staged files and
    manifest part verbatim and only re-derives the merged sidecar
    against the winner's frozen edges; a loser whose winner CHANGED
    the quantizer (a retrain — its commit carries a new
    ``centroids_part``) RE-ASSIGNS the batch against the winner's
    committed centroids and restages, because rows list-assigned by
    the old quantizer would sit in lists the new one would not probe
    (r14 review — drift counted against re-frozen edges with
    stale-centroid similarities was metric-inconsistent). Any number
    of appenders and retrainers race safely, replacing the advisory
    heal lock wholesale. EXACTLY-ONCE per ``batch_id`` via the
    ``_batches/<tag>`` record + commit-log tag recovery (the TRUE
    drift report rides the commit's ``result``); a retry arriving
    after a later retrain replaced its files fails loud.

    Returns the drift report that tells the owner WHEN to retrain:
    an appended vector has "drifted" if its cosine to its assigned
    centroid falls below that cell's FROZEN build-time edge.
    ``{"n_appended", "n_drifted", "drift_ratio", "lists_touched",
    "batch_id", "replayed"}``.
    """
    import os
    import shutil
    import uuid

    from .layout import (
        _cas_commit,
        _data_schema,
        _load_version,
        _manifest_pool_dir,
        _manifest_rows,
        _read_data_files,
        _read_record,
        _retention_gc,
        _rm_f,
        _skip_data_dir,
        _stage_manifest_part,
        _sweep_own_tag,
        _tag_recovery_state,
        _write_record,
    )

    spark = new_corpus.sparkSession
    if batch_id is None:
        batch_id = uuid.uuid4().hex[:16]
    tag = _safe_batch_tag(batch_id)
    staging = os.path.join(layout_path, "_staging", f"batch-{tag}")
    rec = _read_record(layout_path, "_batches", tag)
    if rec is not None:  # committed replay: short-circuit (dropping a
        # crashed earlier attempt's staging dir, r14 review)
        shutil.rmtree(staging, ignore_errors=True)
        return {**rec, "replayed": True}
    committed, part_ref, files_rep = _tag_recovery_state(
        layout_path, "append", "b", tag
    )
    if committed is not None:  # crashed between CAS and record: the
        # TRUE report rides the commit payload (r12 ADVICE #3)
        out = {**committed["result"], "replayed": True}
        _write_record(layout_path, "_batches", tag, committed["result"])
        shutil.rmtree(staging, ignore_errors=True)
        return out
    if part_ref or files_rep:
        raise RuntimeError(
            f"ivf_append: batch {batch_id!r} committed at {layout_path} but "
            f"its record and commit entry expired from retention — the "
            f"append IS applied (its drift report is unrecoverable); "
            f"retries are expected within the retention window"
        )

    v, cur = _load_version(layout_path)
    pcols = list(cur["skip_cols"])
    if "list_id" not in pcols:
        raise ValueError(f"not an IVF layout (partitions {pcols}): {layout_path}")
    live_cols = set(_data_schema(cur).names)
    batch_cols = {"vec_id", "embedding", "list_id", *carry}
    if not set(pcols) <= batch_cols:
        raise ValueError(
            f"layout partitioned by {pcols} but append carries only {sorted(carry)}"
        )
    if live_cols != batch_cols:
        raise ValueError(
            f"append schema {sorted(batch_cols)} != layout schema {sorted(live_cols)}"
        )
    # fail FAST on type drift too (e.g. an array<double> batch into an
    # array<float> layout): the staged files would otherwise be
    # unreadable under the layout's committed schema and the append
    # would die mid-fold with a parquet type-mismatch (r14 review)
    live_types = {f.name: f.dataType.simpleString() for f in _data_schema(cur).fields}
    batch_types = {
        f.name: f.dataType.simpleString()
        for f in new_corpus.schema.fields
        if f.name in live_types
    }
    drift_cols = {
        c: (batch_types[c], live_types[c])
        for c in batch_types
        if batch_types[c] != live_types[c]
    }
    if drift_cols:
        raise ValueError(
            f"append column types {drift_cols} do not match the layout's "
            f"committed schema (batch type, layout type); cast the batch first"
        )

    sdata = os.path.join(staging, "data")
    data_dir = _skip_data_dir(layout_path)

    def _stage(cents):
        """Assign the batch against ``cents`` (the COMMITTED quantizer
        of the version being planned) and stage it: list-ordered
        files moved in under the ``b<tag>-`` prefix + one O(batch)
        manifest part. Re-run wholesale when a retrain wins the CAS —
        sweeping this attempt's own artifacts first."""
        _sweep_own_tag(layout_path, "b", tag)
        shutil.rmtree(sdata, ignore_errors=True)
        assigned = ivf_assign_lists(
            new_corpus.select("vec_id", "embedding", *carry), cents, carry=carry
        ).persist()
        try:
            lists_touched = sorted(
                int(r["list_id"])
                for r in assigned.select("list_id").distinct().collect()
            )
            (
                assigned.repartitionByRange(
                    max(1, len(lists_touched)), *[F.col(c) for c in pcols]
                )
                .sortWithinPartitions(*pcols)
                .write.mode("overwrite")
                .parquet(sdata)
            )
        finally:
            assigned.unpersist()
        moved = []
        for fn in sorted(os.listdir(sdata)):
            if fn.endswith(".parquet"):
                dst = f"b{tag}-{fn}"
                os.rename(os.path.join(sdata, fn), os.path.join(data_dir, dst))
                moved.append(dst)
        staged = _read_data_files(
            spark, cur, [os.path.join(data_dir, fn) for fn in moved]
        )
        part = _stage_manifest_part(
            _manifest_rows(staged, pcols),
            os.path.join(staging, "manifest"),
            _manifest_pool_dir(layout_path),
            f"b{tag}-{uuid.uuid4().hex[:8]}.parquet",
        )
        return moved, part, staged, lists_touched

    def _fold_against(base_payload, cents, staged, lists_touched):
        """(report, merged-stats pool name) against ``base_payload``'s
        sidecar, with similarities measured against ``cents`` — the
        SAME committed centroids the sidecar's edges are frozen on
        (metric consistency; r14 review)."""
        stats = _read_ivf_stats(spark, layout_path, base_payload)
        sim = staged.join(
            F.broadcast(cents), staged["list_id"] == cents["c_id"]
        ).select(
            "list_id",
            cosine_fast(F.col("embedding"), F.col("c_emb")).alias("_sim"),
        )
        rep_row = (
            sim.join(F.broadcast(stats), "list_id", "left")
            .select(
                (
                    F.col("_sim") < F.coalesce(F.col("build_min_sim"), F.lit(1.0))
                ).alias("_drift")
            )
            .agg(
                F.count(F.lit(1)).alias("n_appended"),
                F.sum(F.col("_drift").cast("int")).alias("n_drifted"),
            )
            .collect()[0]
        )
        batch_stats = (
            sim.join(
                F.broadcast(stats.select("list_id", "build_min_sim")),
                "list_id",
                "left",
            )
            .groupBy("list_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vec"),
                F.min("_sim").alias("min_sim"),
                F.max(F.lit(None).cast("double")).alias("build_min_sim"),
                F.sum(
                    (
                        F.col("_sim")
                        < F.coalesce(F.col("build_min_sim"), F.lit(1.0))
                    ).cast("long")
                ).alias("n_drift"),
            )
            .select(
                F.col("list_id").cast("long"),
                "n_vec",
                "min_sim",
                "build_min_sim",
                "n_drift",
            )
        )
        merged = (
            stats.unionByName(batch_stats)
            .groupBy("list_id")
            .agg(
                F.sum("n_vec").cast("long").alias("n_vec"),
                F.min("min_sim").alias("min_sim"),
                # max over {frozen value, null} = the frozen value: the
                # build-time edge survives every merge unchanged (r10
                # VERDICT: a min-merge here ratcheted the goalpost down)
                F.max("build_min_sim").alias("build_min_sim"),
                F.sum("n_drift").cast("long").alias("n_drift"),
            )
            .select("list_id", "n_vec", "min_sim", "build_min_sim", "n_drift")
        )
        sp = _stage_manifest_part(
            merged,
            os.path.join(staging, f"stats-{uuid.uuid4().hex[:6]}"),
            _manifest_pool_dir(layout_path),
            f"b{tag}-stats-{uuid.uuid4().hex[:8]}.parquet",
        )
        n_app = int(rep_row["n_appended"])
        n_drift = int(rep_row["n_drifted"] or 0)
        report = {
            "n_appended": n_app,
            "n_drifted": n_drift,
            "drift_ratio": (n_drift / n_app) if n_app else 0.0,
            "lists_touched": lists_touched,
            "batch_id": batch_id,
            "replayed": False,
        }
        return report, sp

    cents = _read_ivf_centroids(spark, layout_path, cur)
    moved, part, staged, lists_touched = _stage(cents)
    report, sp = _fold_against(cur, cents, staged, lists_touched)
    while True:
        payload = {
            "op": "append",
            "tag": tag,
            "parts": cur["parts"] + [part],
            "new_files": moved,
            "replaced": [],
            "skip_cols": pcols,
            "data_schema": cur["data_schema"],
            "stats_part": sp,
            "centroids_part": cur["centroids_part"],
            "result": report,
        }
        if _cas_commit(layout_path, v + 1, payload):
            break
        nv, ncur = _load_version(layout_path)
        _rm_f(os.path.join(_manifest_pool_dir(layout_path), sp))
        if ncur.get("centroids_part") != cur.get("centroids_part"):
            # a RETRAIN won: the staged rows are assigned by a
            # quantizer that no longer exists — re-assign against the
            # winner's committed centroids and restage (r14 review;
            # probes planned with the new centroids would otherwise
            # never find these rows)
            v, cur = nv, ncur
            cents = _read_ivf_centroids(spark, layout_path, cur)
            moved, part, staged, lists_touched = _stage(cents)
        else:
            # an append/compaction won: quantizer unchanged, so data
            # files + manifest part are reused verbatim; only the
            # sidecar fold re-derives against the winner
            v, cur = nv, ncur
        report, sp = _fold_against(cur, cents, staged, lists_touched)
    _write_record(layout_path, "_batches", tag, report)
    _retention_gc(layout_path)
    shutil.rmtree(staging, ignore_errors=True)
    return report


def _distortion_fp(sub: DataFrame, cents: DataFrame) -> int:
    """Total fixed-point squared-L2 distortion of ``sub`` against its
    nearest centroid in ``cents`` — the exact int64 quantity Lloyd
    iterations monotonically decrease (same metric as the trainer;
    order-invariant sum, so DuckDB-replayable). One O(|sub|) job, one
    row to the driver."""
    return int(
        assign_nearest_centroid_fp(sub, cents)
        .agg(F.sum("dist_fp").alias("j"))
        .collect()[0]["j"]
        or 0
    )


def ivf_retrain(
    spark,
    layout_path: str,
    centroids: DataFrame | None = None,
    drift_threshold: float = 0.2,
    iters: int = 2,
) -> tuple:
    """Consume :func:`ivf_append`'s drift signal on the commit log
    (r14): refit ONLY the drifted cells, committed as one
    copy-on-write version through the shared :func:`_commit_rewrite`
    body — crash windows, CAS-loser re-plan, retention and snapshot
    isolation all inherited, retiring the swap journal, the roll-
    back/-forward recovery and the advisory heal lock wholesale.

    1. pick the drifted cells from the committed sidecar (nlists rows
       — no corpus scan decides anything);
    2. plan the AFFECTED FILES from the manifest — files whose
       [min_list_id, max_list_id] run intersects the drifted set;
       rows of clean lists sharing those files PASS THROUGH unchanged
       (file granularity replaces the old dir granularity);
    3. run ``iters`` warm-started Lloyd iterations over the drifted
       rows (same fixed-point trainer), re-assign them among the
       refitted cells, and stage passthrough + reassigned rows
       list-ordered;
    4. commit {data files, manifest part, RE-FROZEN sidecar, NEW
       QUANTIZER} in one CAS (``extra={"stats_part": ...,
       "centroids_part": ...}``): n_drift resets, build_min_sim
       re-freezes, and the committed centroids change for exactly the
       retrained cells — a racing append that loses to this commit
       sees the new ``centroids_part`` and re-assigns its batch
       against it (r14 review). A racing append WINNING makes this op
       lose its CAS and RE-PLAN — the appended rows then count into
       the refit (retrain never adopts; its plan is defined BY the
       head's files, sidecar and quantizer, all re-read per attempt —
       so retrain-vs-retrain losers also warm-start from the winner's
       centroids, never the caller's stale ones).

    The warm start and every similarity is computed against the
    COMMITTED quantizer of the attempt's planned version; the
    ``centroids`` argument is accepted for API continuity only.
    Returns ``(new_centroids_df, report)``; untouched cells'
    centroids ride through verbatim, and the report carries the exact
    fixed-point L2 distortion before/after (Lloyd non-increase, the
    auditable invariant).
    """
    import os
    import shutil
    import uuid

    import numpy as np

    from .clustering import SCALE, _reduce_partials
    from .layout import (
        _commit_rewrite,
        _load_version,
        _manifest_pool_dir,
        _read_data_files,
        _read_manifest,
        _retention_gc,
        _rm_f,
        _stage_manifest_part,
    )

    no_op = {
        "retrained_lists": [],
        "n_vec_rewritten": 0,
        "iters": iters,
        "distortion_fp_before": 0,
        "distortion_fp_after": 0,
    }
    tag = f"rt{uuid.uuid4().hex[:10]}"
    while True:
        v, cur = _load_version(layout_path)
        stats = _read_ivf_stats(spark, layout_path, cur)
        committed_cents = _read_ivf_centroids(spark, layout_path, cur)
        srows = {int(r["list_id"]): r for r in stats.collect()}
        drifted = sorted(
            lid
            for lid, r in srows.items()
            if int(r["n_vec"]) > 0
            and int(r["n_drift"] or 0) / int(r["n_vec"]) > drift_threshold
        )
        if not drifted:
            return committed_cents, no_op
        pcols = list(cur["skip_cols"])
        if not pcols or pcols[0] != "list_id":
            raise ValueError(
                f"retrain needs a list_id-first partitioned layout, got {pcols}"
            )
        man = _read_manifest(spark, layout_path, cur)
        mrows = man.collect()
        affected = [
            r
            for r in mrows
            if _lists_intersect(drifted, r["min_list_id"], r["max_list_id"])
        ]
        sub_all = _read_data_files(
            spark, cur, [r["file"] for r in affected]
        ).persist()
        try:
            sub = sub_all.filter(F.col("list_id").isin(drifted))
            passthrough = sub_all.filter(~F.col("list_id").isin(drifted))
            cent_rows = {
                int(r["c_id"]): r["c_emb"] for r in committed_cents.collect()
            }
            dim = len(next(iter(cent_rows.values())))
            size = max(cent_rows) + 1
            C = np.zeros((size, dim), dtype=np.float64)
            alive = np.zeros(size, dtype=bool)
            for cid, emb in cent_rows.items():
                C[cid] = np.asarray(emb, dtype=np.float64)
            alive[drifted] = True  # Lloyd runs over the drifted cells only

            old_cents = committed_cents.filter(F.col("c_id").isin(drifted))
            j_before = _distortion_fp(sub, old_cents)
            vecs = sub.select("vec_id", "embedding")
            for _ in range(iters):
                reduced = _reduce_partials(vecs, C, alive)
                cnt = np.zeros(size, dtype=np.int64)
                S = np.zeros_like(C, dtype=np.int64)
                for r in reduced:
                    cnt[r["cluster"]] += r["n"]
                    S[r["cluster"]] += np.asarray(r["s"], dtype=np.int64)
                upd = (cnt > 0) & alive
                C = np.where(
                    upd[:, None],
                    S.astype(np.float64) / np.maximum(cnt, 1)[:, None] / float(SCALE),
                    C,
                )

            import pandas as pd

            new_cents = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "c_id": sorted(cent_rows),
                        "c_emb": [C[cid].tolist() for cid in sorted(cent_rows)],
                    }
                ),
                "c_id long, c_emb array<double>",
            )
            retr_cents = new_cents.filter(F.col("c_id").isin(drifted))
            j_after = _distortion_fp(sub, retr_cents)

            carry = tuple(
                c
                for c in sub_all.columns
                if c not in ("vec_id", "embedding", "list_id")
            )
            reassigned = ivf_assign_lists(
                sub.select("vec_id", "embedding", *carry), retr_cents, carry=carry
            )
            rewrite = passthrough.unionByName(
                reassigned.select(*passthrough.columns)
            )
            n_out = max(1, len(affected))
            staged = rewrite.repartitionByRange(
                n_out, *[F.col(c) for c in pcols]
            ).sortWithinPartitions(*pcols)
            n_rewritten = int(sub.count())

            # RE-FROZEN sidecar for the retrained cells rides the same
            # commit: fresh edges from the reassigned rows, drift reset;
            # untouched rows carried verbatim
            fresh = _ivf_list_stats(
                reassigned.select("vec_id", "embedding", "list_id"), retr_cents
            )
            kept = stats.filter(~F.col("list_id").isin(drifted))
            side_staging = os.path.join(
                layout_path, "_staging", f"retrain-{tag}-{uuid.uuid4().hex[:8]}"
            )
            sp = _stage_manifest_part(
                kept.unionByName(fresh),
                os.path.join(side_staging, "stats"),
                _manifest_pool_dir(layout_path),
                f"w{tag}-stats-{uuid.uuid4().hex[:8]}.parquet",
            )
            # the NEW quantizer rides the same commit: a racing
            # append's loser sees centroids_part change and re-assigns
            cp = _stage_manifest_part(
                new_cents,
                os.path.join(side_staging, "cents"),
                _manifest_pool_dir(layout_path),
                f"w{tag}-cents-{uuid.uuid4().hex[:8]}.parquet",
            )
            shutil.rmtree(side_staging, ignore_errors=True)
            payload = _commit_rewrite(
                spark, layout_path, tag, "w", "retrain", v, cur, affected,
                staged, n_out=n_out, repartition=False,
                extra={"stats_part": sp, "centroids_part": cp},
            )
        finally:
            sub_all.unpersist()
        if payload is not None:
            _retention_gc(layout_path)
            report = {
                "retrained_lists": drifted,
                "n_vec_rewritten": n_rewritten,
                "iters": iters,
                "distortion_fp_before": j_before,
                "distortion_fp_after": j_after,
            }
            return new_cents, report
        # lost the CAS (e.g. a racing append): drop the staged side
        # parts and RE-PLAN from the winner — the new rows join the
        # refit, warm-started from the winner's committed centroids
        _rm_f(os.path.join(_manifest_pool_dir(layout_path), sp))
        _rm_f(os.path.join(_manifest_pool_dir(layout_path), cp))


def ivf_layout_cached(
    corpus: DataFrame,
    centroids: DataFrame,
    cache_key,
    carry: tuple = (),
    partition_cols: tuple = ("list_id",),
) -> str:
    """Build-once :func:`write_ivf_layout` — returns the layout path,
    memoizing the full-corpus assignment+write per ``cache_key`` (the
    corpus version, e.g. its sf_dir) for the life of the process, the
    same once-per-corpus-version contract as pq_train /
    kmeans_centroids_df. A real ANN deployment builds the layout once
    and serves every probe from it; without this cache the registered
    serving audits were re-billing the build on every invocation
    (the r6 similarity_ann_pq_rerank +90% bench regression).
    """
    def build(path):
        write_ivf_layout(
            corpus, centroids, path, carry=carry, partition_cols=partition_cols
        )
        return path

    return build_once("ivf_layout", cache_key, build)


def ann_ivf_probe_ondisk(
    spark,
    layout_path: str,
    queries: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 10,
    nprobe: int = 4,
    return_lists: bool = False,
    where=None,
):
    """IVF top-k against a :func:`write_ivf_layout` corpus — the probe
    reads only the files covering the probed lists.

    The probed list ids are computed from queries x centroids (a
    |queries|*nlists-row job, independent of corpus size);
    :func:`read_ivf_lists` then plans, from the pinned commit's
    broadcast-sized manifest, exactly the files whose
    [min_list_id, max_list_id] run intersects them, with ``list_id
    IN probed`` as a row-group residual inside survivors (plan pinned
    by tests/test_plans.py::test_ivf_ondisk_probe_prunes_partitions).
    ``centroids=None`` probes against the layout's COMMITTED
    quantizer (``centroids_part``) — always assignment-consistent;
    passing centroids is for callers already holding them (e.g. the
    DataFrame :func:`ivf_retrain` returned, identical to the
    committed ones). Results are identical to :func:`ann_ivf_topk`
    with the same centroids: assignment was computed by the same
    operator at write time and the per-query list restriction is
    enforced by the same probes join. Returns (q_id, vec_id, rank);
    with ``return_lists=True``, a (DataFrame, sorted probed list ids)
    pair.
    """
    if centroids is None:
        centroids = _read_ivf_centroids(spark, layout_path)
    probes = ivf_probe_lists(
        queries.select("q_id", "q_emb"), centroids, nprobe
    )
    lists = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    pruned = read_ivf_lists(spark, layout_path, lists)
    if where is not None:
        # FILTERED ANN: the metadata predicate lands on the pruned
        # layout scan itself (PushedFilters — the carry columns live
        # IN the layout), so candidate fetch reads only matching row
        # groups of only the probed lists; the corpus is never
        # re-touched for metadata.
        pruned = pruned.filter(where)
    out = _ivf_rerank(F.broadcast(probes), pruned, k)
    return (out, lists) if return_lists else out


def ivf_scan(spark, layout_path: str, version=None) -> DataFrame:
    """Full read of a committed IVF layout (the latest version, or
    ``version=`` for time travel): the commit's complete file list
    under its explicit schema — what the PQ encode pass and tests use
    now that the root holds protocol state, not Hive partitions."""
    from .layout import _load_version, _read_data_files, _read_manifest

    v, cur = _load_version(layout_path, version)
    man = _read_manifest(spark, layout_path, cur)
    files = sorted(r["file"] for r in man.select("file").collect())
    return _read_data_files(spark, cur, files)


def read_ivf_lists(spark, layout_path: str, lists, version=None) -> DataFrame:
    """Manifest-pruned scan of a committed IVF layout: keep the
    commit's files whose [min_list_id, max_list_id] run contains ANY
    probed list (driver-side sorted-set bisection over the broadcast-
    sized manifest — the Delta add-file planning shape), then apply
    ``list_id IN probed`` as a residual so parquet row-group stats
    prune INSIDE surviving files (rows are list-ordered). This is the
    point-lookup primitive shared by the IVF probe
    (:func:`ann_ivf_probe_ondisk`) and the PQ rerank's shortlist
    fetch: at 100 TB, fetching a few hundred shortlist vectors reads
    the shortlist's lists, never the embedding table. SNAPSHOT
    ISOLATION from the pinned commit (r14): a racing retrain commits
    a NEW version and deletes nothing this plan references within
    retention — the reader-mode healing sweep this replaces is gone."""
    from .layout import _load_version, _read_data_files, _read_manifest

    v, cur = _load_version(layout_path, version)
    man = _read_manifest(spark, layout_path, cur)
    rows = man.select("file", "min_list_id", "max_list_id").collect()
    ls = sorted({int(x) for x in lists})
    files = sorted(
        r["file"]
        for r in rows
        if _lists_intersect(ls, r["min_list_id"], r["max_list_id"])
    )
    return _read_data_files(spark, cur, files).where(F.col("list_id").isin(ls))


def _exact_rescore(corpus2: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Re-score candidate (d1, d2) pairs with the exact fixed-point
    cosine (JVM-side, bit-identical to the DuckDB oracle), which alone
    decides membership. Candidates are a vanishing fraction of pairs,
    so the two embedding joins move only candidate-sized data."""
    e1 = corpus2.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("e1"))
    e2 = corpus2.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("e2"))
    return (
        cand.join(e1, "d1")
        .join(e2, "d2")
        .select(
            "d1",
            "d2",
            cosine_from_parts(
                dot_exact(F.col("e1"), F.col("e2")),
                norm_sq_exact(F.col("e1")),
                norm_sq_exact(F.col("e2")),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_neardup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_blocks: int = 8,
    margin: float = 1e-6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (d1 < d2, cosine >= t).

    Blocked all-pairs GEMM — the EXACT mode (recall 1 by construction);
    :func:`embedding_cosine_neardup_clustered` is the approximate
    scale path that replaces the O(n^2) compute with cell-blocked
    candidate generation. Geometric candidate pruning was measured on
    this corpus and cannot reach recall 1 below ~90% of pairs scanned
    at the registered t=0.45 (near-dups sit against the background with
    no angular gap), so the oracle query keeps the exact O(n^2)
    similarity — but as BLAS matrix products over block pairs, not
    per-pair JVM lambdas:

    1. each vector lands in block ``vec_id % B`` and map-side-emits
       the B block-pair groups its block participates in (the
       standard blocked-GEMM replication, factor B; B is chosen so
       one block pair fits executor memory, which bounds per-task
       state at any corpus size);
    2. one Arrow-batched ``applyInPandas`` per block pair computes the
       full cross (or triangular, on the diagonal) cosine matrix with
       a numpy matmul and emits pairs >= threshold - margin. Cross
       groups emit only cross-block pairs, so every pair is produced
       exactly once (no distinct);
    3. survivors — a vanishing fraction — are re-scored JVM-side with
       the exact fixed-point cosine, which alone decides membership:
       double-vs-fixed-point drift is < 1e-9, far inside ``margin``,
       so the prefilter loses nothing and the output is bit-identical
       to the exact all-pairs plan (and the DuckDB oracle).
    """
    import numpy as np
    import pandas as pd

    corpus2 = corpus.select("vec_id", "embedding")
    rows = corpus2.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
    # Each row emits its own block-pair keys (the B groups whose pair
    # includes its block) — a map-side explode, no join needed for the
    # replication step.
    repl = rows.select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda x: F.struct(
                    F.least(x, F.col("blk")).alias("ba"),
                    F.greatest(x, F.col("blk")).alias("bb"),
                ),
            )
        ).alias("_bp"),
    ).select("vec_id", "embedding", "blk", "_bp.ba", "_bp.bb")

    cut = threshold - margin

    def _score(key, pdf):
        ba, bb = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy()
        M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        if ba == bb:
            S = M @ M.T
            iu = np.triu_indices(len(ids), k=1)
            d1, d2, cs = ids[iu[0]], ids[iu[1]], S[iu]
        else:
            left = pdf["blk"].to_numpy() == ba
            if left.all() or (~left).all():  # one side empty
                return pd.DataFrame({"d1": [], "d2": [], "cos_pre": []}).astype(
                    {"d1": "int64", "d2": "int64", "cos_pre": "float64"}
                )
            S = M[left] @ M[~left].T
            i, j = np.nonzero(S >= cut)
            d1, d2, cs = ids[left][i], ids[~left][j], S[i, j]
        keep = cs >= cut
        d1, d2, cs = d1[keep], d2[keep], cs[keep]
        lo, hi = np.minimum(d1, d2), np.maximum(d1, d2)
        return pd.DataFrame({"d1": lo, "d2": hi, "cos_pre": cs})

    cand = repl.groupBy("ba", "bb").applyInPandas(_score, "d1 long, d2 long, cos_pre double")
    return _exact_rescore(corpus2, cand.select("d1", "d2"), threshold)


def embedding_cosine_cross_pairs(
    old: DataFrame,
    new: DataFrame,
    threshold: float = 0.95,
    n_blocks: int = 8,
    margin: float = 1e-6,
) -> DataFrame:
    """EXACT embedding-cosine pairs BETWEEN a standing corpus and an
    arriving batch (d1=old vec_id, d2=new vec_id, cosine >= t) — the
    cross restriction of :func:`embedding_cosine_neardup`, computed
    without the corpus self-join: the OLD side keeps its single block
    ``vec_id % B`` (no replication), only the (small) batch replicates
    to all B blocks — the broadcast-side role of a map-side cross
    join, expressed as block groups so each block-pair GEMM fits
    executor memory at any corpus size. One Arrow-batched
    ``applyInPandas`` per block computes the old-block x batch cosine
    matrix with a numpy matmul; each old vector lives in exactly one
    block, so every cross pair is produced exactly once. Survivors are
    re-scored with the exact fixed-point cosine (bit-identical to the
    DuckDB oracle), which alone decides membership — same contract as
    the self-join mode. The vec_id spaces must be disjoint."""
    import numpy as np
    import pandas as pd

    old2 = old.select("vec_id", "embedding").withColumn(
        "_side", F.lit(0)
    ).withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
    new2 = (
        new.select("vec_id", "embedding")
        .withColumn("_side", F.lit(1))
        .withColumn(
            "blk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
    )
    both = old2.unionByName(new2)
    cut = threshold - margin

    def _score(key, pdf):
        left = pdf["_side"].to_numpy() == 0
        if left.all() or (~left).all():
            return pd.DataFrame({"d1": [], "d2": []}).astype(
                {"d1": "int64", "d2": "int64"}
            )
        ids = pdf["vec_id"].to_numpy()
        M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        S = M[left] @ M[~left].T
        i, j = np.nonzero(S >= cut)
        return pd.DataFrame(
            {
                "d1": ids[left][i].astype("int64"),
                "d2": ids[~left][j].astype("int64"),
            }
        )

    cand = both.groupBy("blk").applyInPandas(_score, "d1 long, d2 long")
    corpus2 = old.select("vec_id", "embedding").unionByName(
        new.select("vec_id", "embedding")
    )
    return _exact_rescore(corpus2, cand, threshold)


def embedding_cosine_neardup_clustered(
    corpus: DataFrame,
    centroids,
    threshold: float = 0.95,
    nprobe: int = 2,
    margin: float = 1e-6,
) -> DataFrame:
    """Approximate cluster-blocked near-duplicate pairs — the 100 TB
    path that removes the O(n^2) all-pairs compute.

    ``centroids`` is a trained (c_id, c_emb) DataFrame
    (operators/clustering.py kmeans_centroids_df) or a k x dim numpy
    array; k x dim doubles are bytes, so the matrix rides into task
    closures — no centroid join, no assignment shuffle:

    1. one map-side ``mapInPandas`` pass assigns every vector its
       ``nprobe`` nearest cells (vectorized GEMM against the broadcast
       centroid matrix; ties break to the lowest cell id via stable
       argsort) and emits one (cell, vec, cells) row per probed cell —
       replication factor nprobe, vs factor n_blocks in the exact mode;
    2. ONE shuffle groups by cell; per cell an Arrow-batched
       ``applyInPandas`` computes the triangular cosine GEMM among
       members. A surviving pair can appear in up to nprobe shared
       cells, so each pair is OWNED by the lowest shared cell id
       (both rows carry their sorted cell lists) and emitted exactly
       once — no distinct pass;
    3. survivors are re-scored with the exact fixed-point cosine
       (same final stage as the exact mode), so precision is 1 and the
       output is a subset of the exact answer; recall is the fraction
       of true pairs whose endpoints share a probed cell. At production
       thresholds (t >= 0.9, vectors nearly colinear) co-assignment is
       near-certain and the scanned fraction drops to ~nprobe/k of
       pairs; tests/test_similarity.py pins recall >= 0.99 and the
       pruning ratio on a planted-dup corpus.

    Per-cell work is O(|cell|^2) — bound it by training enough
    centroids that cells fit executor memory (AQE splits skewed cells
    across tasks only between groups, so k is the real knob).
    """
    import numpy as np
    import pandas as pd

    corpus2 = corpus.select("vec_id", "embedding")
    cut = threshold - margin
    probed = clustered_cell_assignment(corpus2, centroids, nprobe)

    def _cell_pairs(key, pdf):
        cell = int(key[0])
        ids = pdf["vec_id"].to_numpy()
        M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        S = M @ M.T
        iu = np.triu_indices(len(ids), k=1)
        hit = S[iu] >= cut
        ii, jj = iu[0][hit], iu[1][hit]
        cells = list(pdf["cells"])
        d1, d2 = [], []
        for a, b in zip(ii, jj):
            shared = set(cells[a]) & set(cells[b])
            if shared and min(shared) == cell:
                lo, hi = (ids[a], ids[b]) if ids[a] < ids[b] else (ids[b], ids[a])
                d1.append(lo)
                d2.append(hi)
        return pd.DataFrame({"d1": np.asarray(d1, dtype=np.int64), "d2": np.asarray(d2, dtype=np.int64)})

    cand = probed.groupBy("cell").applyInPandas(_cell_pairs, "d1 long, d2 long")
    return _exact_rescore(corpus2, cand, threshold)


def clustered_cell_assignment(corpus: DataFrame, centroids, nprobe: int) -> DataFrame:
    """Map-side nprobe-nearest-cell assignment for the clustered
    near-dup mode: (cell, vec_id, embedding, cells) with one row per
    probed cell (replication factor nprobe, broadcast centroid matrix,
    no shuffle). Exposed separately so callers can MEASURE the pruning
    — sum over cells of C(|cell|, 2) is exactly the pair work the
    per-cell GEMM performs (see queries/similarity.py
    similarity_neardup_pruned, which emits the scanned-pair fraction
    under the driver gate)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import DataFrame as _DF

    if isinstance(centroids, _DF):
        crows = centroids.select("c_id", "c_emb").collect()
        C = np.stack([np.asarray(r["c_emb"], dtype=np.float64) for r in crows])
        cell_ids = np.asarray([r["c_id"] for r in crows], dtype=np.int64)
    else:
        C = np.asarray(centroids, dtype=np.float64)
        cell_ids = np.arange(len(C), dtype=np.int64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    nprobe = min(nprobe, len(C))

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            sim = Mn @ Cn.T
            # stable argsort on -sim: ties break to the lower centroid
            # INDEX, and cell_ids is emitted sorted by c_id, so ties
            # break to the lowest cell id — deterministic everywhere.
            order = np.argsort(-sim, axis=1, kind="stable")[:, :nprobe]
            cells = np.sort(cell_ids[order], axis=1)
            emb = list(pdf["embedding"])
            yield pd.DataFrame(
                {
                    "cell": cells.ravel(),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "embedding": [emb[i] for i in range(len(emb)) for _ in range(nprobe)],
                    "cells": [cells[i].tolist() for i in range(len(emb)) for _ in range(nprobe)],
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        _assign, "cell long, vec_id long, embedding array<double>, cells array<long>"
    )


# ---------------------------------------------------------------------------
# Product quantization (the faiss-style IVF/SQ8/PQ triad's third member:
# 64-dim float32 vector -> m=4 one-byte codes = 64x compression)
# ---------------------------------------------------------------------------

def pq_train(spark, corpus: DataFrame, dim: int, m: int = 4, k: int = 16,
             iters: int = 2, cache_key=None):
    """Train m per-subspace codebooks with the deterministic k-means
    trainer (operators/clustering.kmeans_fit) on coordinate slices.

    Returns a list of m (code_ids, centroid_matrix) pairs — dead
    clusters are dropped so every code is assignable. Training cost is
    m small k-means runs over (dim/m)-dim slices; memoized per
    (cache_key, dim, m, k, iters) like kmeans_centroids_df, since a
    production system trains codebooks once per corpus version.
    """
    import numpy as np

    from .clustering import kmeans_fit

    if dim % m != 0:
        # Without this, the trailing dim % m coordinates silently drop
        # out of encoding AND ADC scoring while the exact rerank uses
        # full vectors — recall quietly degrades instead of erroring.
        raise ValueError(
            f"pq_train: dim={dim} is not divisible by m={m}; pad the "
            "vectors or pick m | dim so every coordinate is quantized"
        )
    def train(_dir):
        d_sub = dim // m
        books = []
        for s in range(m):
            sliced = corpus.select(
                "vec_id", F.slice("embedding", s * d_sub + 1, d_sub).alias("embedding")
            )
            C, _, alive = kmeans_fit(sliced, k=k, iters=iters)
            ids = np.where(alive)[0].astype(np.int64)
            books.append((ids, np.asarray(C, dtype=np.float64)[alive]))
        return books

    if cache_key is None:
        return train(None)
    return build_once("pq_books", (cache_key, dim, m, k, iters), train)


def pq_encode(corpus: DataFrame, books, m: int = 4, carry: tuple = ()) -> DataFrame:
    """(vec_id, codes array<bigint>) — nearest codebook entry per
    subspace (euclidean, stable ties to the lower code id). One
    Arrow-batched map-side pass, no shuffle at any corpus size.

    ``carry`` names passthrough columns copied onto the code rows —
    e.g. the IVF layout's ``list_id`` when encoding from
    :func:`write_ivf_layout` output, so downstream consumers (the PQ
    rerank fetch) can partition-prune their point lookups without a
    corpus join."""
    import numpy as np
    import pandas as pd

    mats = [B for _, B in books]
    idlists = [ids for ids, _ in books]
    d_sub = mats[0].shape[1]
    carry = tuple(carry)
    by_name = {f.name: f for f in corpus.schema.fields}
    schema = "vec_id long, codes array<bigint>" + "".join(
        f", {c} {by_name[c].dataType.simpleString()}" for c in carry
    )

    def _enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            codes = np.empty((len(M), len(mats)), dtype=np.int64)
            for s, (ids, B) in enumerate(zip(idlists, mats)):
                X = M[:, s * d_sub : (s + 1) * d_sub]
                # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is
                # constant per row -> argmin over (-2 x.c + ||c||^2)
                d2 = -2.0 * (X @ B.T) + (B * B).sum(axis=1)[None, :]
                codes[:, s] = ids[np.argmin(d2, axis=1)]
            out = {"vec_id": pdf["vec_id"], "codes": list(codes)}
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return corpus.select("vec_id", "embedding", *carry).mapInPandas(_enc, schema)


def pq_codes_cached(spark, layout_path: str, books, m: int, cache_key) -> str:
    """Encode-once PQ codes artifact — returns a parquet path of
    (vec_id, codes, list_id) rows encoded FROM a
    :func:`write_ivf_layout` corpus, memoized per ``cache_key`` for
    the life of the process. The codes ARE part of the ANN index a
    deployment builds once per corpus version (faiss persists them in
    the index file); serving then reads this m-bytes-per-vector table
    instead of re-running the full-corpus encode pass per query.
    """
    def build(path):
        codes = pq_encode(
            ivf_scan(spark, layout_path).withColumn(
                "list_id", F.col("list_id").cast("bigint")
            ),
            books,
            m=m,
            carry=("list_id",),
        )
        codes.write.mode("overwrite").parquet(path)
        return path

    return build_once("pq_codes", cache_key, build)


def pq_adc_topk(
    codes_df: DataFrame, books, query_rows, k: int = 10, carry: str | None = None
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, cosine
    against the RECONSTRUCTED vector, computed entirely from two
    broadcast lookup tables (per-subspace dot and squared-norm of each
    codebook entry — subspaces are disjoint coordinates, so norms add).

    LUT values are fixed-point BIGINT (functions/vector.DOT_SCALE), so
    the per-vector sums are exact integers in any order and the final
    score is one deterministic double divide — same determinism recipe
    as the exact cosine path. Plan: posexplode codes (m rows/vec) ->
    broadcast LUT join -> groupBy (q_id, vec_id) with map-side partial
    agg -> WindowGroupLimit top-k. The corpus never moves more than
    m narrow rows per vector; the LUT is m*k*|queries| rows.

    ``carry`` names ONE passthrough column on ``codes_df`` (e.g. the
    IVF layout's list_id, see :func:`pq_encode`) kept on the shortlist
    rows — how the exact rerank serves its shortlist vector fetch from
    :func:`read_ivf_lists`' partition-pruned scan instead of a
    full-corpus join (queries/similarity.similarity_ann_pq_rerank;
    plan pinned by
    tests/test_plans.py::test_pq_rerank_fetch_prunes_partitions).
    """
    import numpy as np
    import pandas as pd

    from ..functions.vector import DOT_SCALE

    d_sub = books[0][1].shape[1]
    lut_rows = []
    for q_id, qv in query_rows:
        if len(qv) != d_sub * len(books):
            # books trained on a different dim than the queries: the
            # slice arithmetic below would silently score a prefix.
            raise ValueError(
                f"pq_adc_topk: query dim {len(qv)} != m*d_sub = "
                f"{d_sub * len(books)} of the trained codebooks"
            )
        q = np.asarray(qv, dtype=np.float64)
        qn = float(np.sqrt((q * q).sum()))
        for s, (ids, B) in enumerate(books):
            dots = B @ q[s * d_sub : (s + 1) * d_sub]
            nrm2 = (B * B).sum(axis=1)
            for code, dv, nv in zip(ids, dots, nrm2):
                lut_rows.append(
                    (int(q_id), int(s), int(code),
                     int(np.floor(dv * DOT_SCALE)),
                     int(np.floor(nv * DOT_SCALE)), qn)
                )
    spark = codes_df.sparkSession
    lut = spark.createDataFrame(
        pd.DataFrame(
            lut_rows, columns=["q_id", "s", "code", "dot_fp", "nrm2_fp", "q_norm"]
        ),
        "q_id long, s long, code long, dot_fp long, nrm2_fp long, q_norm double",
    )
    carry_cols = [carry] if carry else []
    exploded = codes_df.select(
        "vec_id", *carry_cols, F.posexplode("codes").alias("s", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum("dot_fp").alias("_d"),
            F.sum("nrm2_fp").alias("_n"),
            F.first("q_norm").alias("_qn"),
            # constant within the (q_id, vec_id) group: every exploded
            # row of a vector carries the vector's own value
            *[F.first(c).alias(c) for c in carry_cols],
        )
        .select(
            "q_id",
            "vec_id",
            (
                F.col("_d").cast("double")
                / (F.col("_qn") * F.sqrt(F.col("_n").cast("double") * F.lit(DOT_SCALE)))
            ).alias("score_adc"),
            *carry_cols,
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("score_adc").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "vec_id",
            "score_adc",
            F.col("rank").cast("int").alias("rank"),
            *carry_cols,
        )
    )
