"""Streaming sinks: foreachBatch parquet upsert + memory (tests)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint: str, mode: str = "append"
) -> StreamingQuery:
    """Run a stream into parquet via foreachBatch.

    foreachBatch gives exactly-once-per-epoch batch semantics: the
    epoch id makes the write idempotent on retry (overwrite-by-epoch
    partition), and the batch DataFrame accepts any batch writer —
    the escape hatch for sinks with no native streaming support
    (JDBC, upserts).
    """

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode(mode).parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "update",
    name: str | None = None,
) -> DataFrame:
    """Drain a bounded stream into the memory sink; return the result table.

    Test-only: processAllAvailable blocks until every staged file is
    consumed, then the in-memory table holds the full output. With
    output_mode="update" the table may hold multiple versions of a
    key — callers take the latest by a monotonic column when needed.
    """
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# Generation-snapshot commit protocol, shared by state_merge_writer and
# cdc_upsert_writer. Design points (each closes a real crash window):
#
# - The committed epoch is ENCODED IN the `current` symlink's target
#   name (gen-{epoch}-{attempt}) and derived at read time, so the
#   repoint IS the commit record — one atomic os.replace. The previous
#   protocol wrote a separate last_epoch marker AFTER the repoint; a
#   crash in between left committed state with an unrecorded epoch, and
#   the replayed epoch would then re-merge into (and overwrite-write)
#   the very generation dir `current` resolves to, deleting the
#   eagerly-listed input files mid-job and double-counting n_versions.
# - Generation dirs are PER-ATTEMPT unique (gen-{epoch}-{uuid8}), so no
#   retry can ever overwrite a dir any reader resolves to.
# - After each commit, generations other than the new current and its
#   immediate predecessor are garbage-collected (the predecessor stays
#   one commit for the crash window: a reader that resolved `current`
#   just before the repoint may still be listing its files). On-disk
#   state is therefore <= 2 snapshots, not linear in epoch count.
#   Legacy-format dirs (bare gen-{epoch}) and the retired last_epoch
#   marker are swept by the same pass.
_GEN_DIR_RE = None  # compiled lazily (module imports stay cheap)


def _gen_re():
    global _GEN_DIR_RE
    if _GEN_DIR_RE is None:
        import re

        _GEN_DIR_RE = re.compile(r"^gen-(\d+)(-[0-9a-f]{8})?$")
    return _GEN_DIR_RE


def _committed_epoch(cur: str) -> int:
    """Last committed epoch, read from the `current` symlink target
    name (-1 if nothing committed). Atomic with the state it names."""
    import os

    if not os.path.lexists(cur):
        return -1
    m = _gen_re().match(os.path.basename(os.readlink(cur)))
    return int(m.group(1)) if m else -1


def _commit_generation(state_root: str, cur: str, df: DataFrame, epoch_id: int) -> None:
    """Write ``df`` as a per-attempt-unique generation snapshot, commit
    it with one atomic symlink replace, then GC superseded generations
    (keep the new current + its immediate predecessor)."""
    import os
    import shutil
    import uuid

    prev = os.readlink(cur) if os.path.lexists(cur) else None
    gen = os.path.join(state_root, f"gen-{epoch_id}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(gen)
    tmp = f"{cur}.tmp-{epoch_id}"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(gen, tmp)
    os.replace(tmp, cur)  # atomic: repoint + epoch record in one rename
    keep = {os.path.abspath(gen)}
    if prev:
        keep.add(os.path.abspath(os.path.join(state_root, prev)))
    for d in os.listdir(state_root):
        full = os.path.abspath(os.path.join(state_root, d))
        if _gen_re().match(d) and full not in keep:
            shutil.rmtree(full, ignore_errors=True)
    legacy_marker = os.path.join(state_root, "last_epoch")
    if os.path.exists(legacy_marker):
        os.remove(legacy_marker)


def state_merge_writer(state_root: str, keys, sums, mins=(), maxs=()):
    """foreachBatch writer maintaining an incremental MV (parquet state).

    Each epoch: aggregate the micro-batch into mergeable fixed-point
    state (operators/incremental.py), merge with the current MV state,
    write a new generation dir, and atomically repoint the ``current``
    symlink. State size is |distinct keys| — bounded regardless of
    stream length, which is why this MV needs NO watermark: it is the
    streaming twin of batch incremental_mv_refresh, not a windowed agg.

    Exactly-once across retries: the committed epoch id travels IN the
    symlink target name (see :func:`_commit_generation` — commit record
    and repoint are one atomic rename, no marker-lag crash window), and
    generation dirs are per-attempt unique, so a replayed epoch
    (foreachBatch's at-least-once contract) either short-circuits or
    rebuilds into a fresh dir — never the one it is reading. Superseded
    generations are GC'd each commit (current + one predecessor kept).
    Production systems get this from a transactional table format
    (Delta/Iceberg MERGE); this is the same commit protocol on bare
    parquet.
    """
    import os

    from ..operators.incremental import merge_agg_state, partial_agg_state

    cur = os.path.join(state_root, "current")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if _committed_epoch(cur) >= epoch_id:
            return  # epoch replay: already merged
        spark = batch_df.sparkSession
        delta = partial_agg_state(batch_df, keys, sums, dict(mins) or None, dict(maxs) or None)
        if os.path.lexists(cur):
            base = spark.read.parquet(cur)
            merged = merge_agg_state([base, delta], keys, mins=list(mins), maxs=list(maxs))
        else:
            merged = delta
        _commit_generation(state_root, cur, merged, epoch_id)

    return write_epoch


def cdc_upsert_writer(
    state_root: str,
    keys,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
):
    """foreachBatch writer maintaining a keyed UPSERT SNAPSHOT from an
    insert/update/delete change stream — the streaming twin of batch
    operators/cdc.merge_latest_snapshot (what Delta/Iceberg's
    streaming MERGE INTO does), on bare parquet with the same
    generation-snapshot commit protocol as :func:`state_merge_writer`
    (epoch id atomic with the symlink repoint, per-attempt-unique
    generation dirs, superseded generations GC'd — see
    :func:`_commit_generation`; a replayed epoch short-circuits).

    State per key: the WINNING change row so far — INCLUDING delete
    tombstones. Dropping a deleted key from state would let a later
    micro-batch carrying only a lower-seq change resurrect it, so
    deletes are filtered at READ time (:func:`run_streaming_cdc_merge`),
    never from state. The per-epoch merge is the same winner window as
    the batch operator (max seq, op-desc ties) plus a cumulative
    change count; the window's reduction is associative, so the
    drained snapshot equals the one-shot batch merge of the whole log
    for ANY split of the log into epochs and any op/seq mix per batch
    (tests/test_streaming.py::test_cdc_upsert_stream_any_split).
    State size is |keys ever seen| rows — bounded by key cardinality,
    no watermark needed.
    """
    import os

    cur = os.path.join(state_root, "current")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if _committed_epoch(cur) >= epoch_id:
            return  # epoch replay: already merged
        spark = batch_df.sparkSession
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        delta = batch_df.withColumn("n_versions", F.lit(1).cast("bigint"))
        if os.path.lexists(cur):
            un = spark.read.parquet(cur).unionByName(delta)
        else:
            un = delta
        w = W.partitionBy(*keys).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        wk = W.partitionBy(*keys)
        merged = (
            un.withColumn("_rn", F.row_number().over(w))
            .withColumn("_nv", F.sum("n_versions").over(wk))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "n_versions")
            .withColumnRenamed("_nv", "n_versions")
        )
        _commit_generation(state_root, cur, merged, epoch_id)

    return write_epoch


def run_streaming_cdc_merge(
    stream_changes: DataFrame,
    spark: SparkSession,
    state_root: str,
    checkpoint: str,
    keys,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Drain a bounded change stream through :func:`cdc_upsert_writer`;
    return the live snapshot (tombstones filtered at read — see the
    writer's resurrection note)."""
    import os

    os.makedirs(state_root, exist_ok=True)
    q = (
        stream_changes.writeStream.foreachBatch(
            cdc_upsert_writer(state_root, keys, seq_col, op_col, delete_op)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from pyspark.sql import functions as F

    return spark.read.parquet(os.path.join(state_root, "current")).filter(
        F.col(op_col) != delete_op
    )


def run_incremental_mv(
    stream_df: DataFrame,
    spark: SparkSession,
    state_root: str,
    checkpoint: str,
    keys,
    sums,
    mins=(),
    maxs=(),
) -> DataFrame:
    """Drain a bounded stream through :func:`state_merge_writer`;
    return the raw (un-finalized) MV state DataFrame."""
    import os

    os.makedirs(state_root, exist_ok=True)
    q = (
        stream_df.writeStream.foreachBatch(
            state_merge_writer(state_root, keys, sums, mins, maxs)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(os.path.join(state_root, "current"))


def kmv_state_writer(state_root: str, key_col: str, k: int):
    """foreachBatch writer folding a KMV/theta distinct sketch
    (operators/kmv.py) through the generation-snapshot commit protocol
    — the streaming twin of the batch ``kmv_sketch``, completing the
    "every sketch has a streaming twin" pairing CMS got in r8
    (state_merge_writer / streaming_heavy_hitters).

    KMV's merge rule IS a union: the sketch of A ∪ B is the k smallest
    distinct hash values of the two sketches' union, so each epoch
    hashes its micro-batch keys, unions with the ≤k-row current state,
    and keeps the k smallest — which plans as distinct +
    TakeOrderedAndProject, the same driver-free per-partition-k-merge
    shape as the batch build. State is ≤k rows FOREVER, no watermark;
    commit/replay semantics are exactly :func:`_commit_generation`'s
    (epoch id atomic with the symlink repoint, per-attempt dirs, GC).
    """
    import os

    from pyspark.sql import functions as F

    from ..operators.kmv import _hash60

    cur = os.path.join(state_root, "current")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if _committed_epoch(cur) >= epoch_id:
            return  # epoch replay: already folded
        spark = batch_df.sparkSession
        delta = batch_df.select(_hash60(F.col(key_col)).alias("h"))
        if os.path.lexists(cur):
            delta = spark.read.parquet(cur).unionByName(delta)
        merged = delta.distinct().orderBy("h").limit(k)
        _commit_generation(state_root, cur, merged, epoch_id)

    return write_epoch


def run_streaming_kmv(
    stream_df: DataFrame,
    spark: SparkSession,
    state_root: str,
    checkpoint: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """Drain a bounded stream through :func:`kmv_state_writer`; return
    the ≤k-row drained sketch (column ``h``)."""
    import os

    os.makedirs(state_root, exist_ok=True)
    q = (
        stream_df.writeStream.foreachBatch(kmv_state_writer(state_root, key_col, k))
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(os.path.join(state_root, "current"))


def _neardup_paths(state_root: str) -> dict:
    import os

    return {
        "idx": os.path.join(state_root, "lsh_index"),
        "docs": os.path.join(state_root, "seen_docs"),
        "pairs": os.path.join(state_root, "pairs"),
        "cidx": os.path.join(state_root, "compacted_index"),
        "cdocs": os.path.join(state_root, "compacted_docs"),
        "cmark": os.path.join(state_root, "compacted_index_table"),
    }


def _read_neardup_marker(cmark_path: str):
    """(generations, folded_upto) from the compaction marker, or
    ([], -1) when no compaction has committed yet.

    ``generations`` is oldest-first; each is a dict with ``table``
    (bucketed index table name), ``docs`` (parquet dir of that
    generation's documents) and ``rows`` (doc count, used by the
    geometric merge policy; None for migrated legacy generations —
    counted lazily on the next compaction).

    Three on-disk formats are readable, so a state_root written by any
    prior version of this module keeps working after an upgrade:
    v2 JSON (current, multi-generation), the 3-line
    ``table\\ndocs\\nfolded_upto`` single-generation format, and the
    oldest 1-line table-name-only format (docs at the fixed
    ``compacted_docs`` path, no watermark — its tail dirs were always
    deleted synchronously, so ``folded_upto=-1`` cannot double-read)."""
    import json
    import os

    if not os.path.exists(cmark_path):
        return [], -1
    with open(cmark_path) as fh:
        raw = fh.read().strip()
    if raw.startswith("{"):
        doc = json.loads(raw)
        return doc["generations"], int(doc["folded_upto"])
    lines = raw.splitlines()
    if len(lines) == 1:  # legacy v0: table name only
        cdocs = os.path.join(os.path.dirname(cmark_path), "compacted_docs")
        return [{"table": lines[0], "docs": cdocs, "rows": None}], -1
    table, docs_dir, upto = lines
    return [{"table": table, "docs": docs_dir, "rows": None}], int(upto)


def _write_neardup_marker(cmark_path: str, generations: list, folded_upto: int) -> None:
    """Atomically commit the marker (os.replace of a same-dir temp)."""
    import json
    import os

    tmp = f"{cmark_path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps({"v": 2, "folded_upto": folded_upto, "generations": generations}))
    os.replace(tmp, cmark_path)


def _docs_with_shset(df: DataFrame) -> DataFrame:
    """Normalize a docs-state read to ``(doc_id, text, shset)``.

    r15 state format: each doc's DISTINCT shingle array is stored next
    to its text at ingest (computed once, by the same expression the
    exact verification evaluates — operators/dedup.with_shingle_set),
    so no later epoch or compaction ever re-tokenizes a history doc.
    Legacy text-only state rows (pre-r15) fall back to computing the
    column on read — the migration cost disappears at the next
    compaction, which persists the computed sets."""
    from ..operators.dedup import with_shingle_set

    if "shset" in df.columns:
        return df.select("doc_id", "text", "shset")
    return with_shingle_set(df.select("doc_id", "text"))


def _has_data_files(path: str) -> bool:
    """True when ``path`` holds a file Spark would read (its names
    starting with ``_`` or ``.`` are metadata, not data)."""
    import os

    return any(
        not f.startswith(("_", "."))
        for _root, _dirs, files in os.walk(path)
        for f in files
    )


def _read_tail_docs(spark, docs_root: str, batch_dirs: list, cond) -> DataFrame:
    """The visible batch-keyed docs tail, normalized to include
    ``shset``. A tail written across a version upgrade can MIX
    text-only and shingled batch dirs inside one parquet read (whose
    inferred schema would come from an arbitrary footer); the per-dir
    schema probe below (one footer read per visible dir, tail length
    is bounded by compact_every) detects that and falls back to
    recomputing the whole tail's shingle sets — correctness-only
    migration path; an all-new tail takes the zero-cost branch. A dir
    with no data files (an orphaned ``batch=`` dir) has no schema to
    probe and contributes no rows, so the probe skips it."""
    import os

    df = spark.read.parquet(docs_root).where(cond)
    paths = [os.path.join(docs_root, d) for d in batch_dirs]
    if "shset" in df.columns and all(
        "shset" in spark.read.parquet(p).columns for p in paths if _has_data_files(p)
    ):
        return df.select("doc_id", "text", "shset")
    from ..operators.dedup import with_shingle_set

    return with_shingle_set(df.select("doc_id", "text"))


def _neardup_state(spark, state_root: str, epoch_id: int):
    """(seen_docs, index_parts) visible to an epoch, or (None, []).
    ``seen_docs`` carries ``(doc_id, text, shset)`` — shingle sets come
    from the state (computed once at ingest), not from re-tokenizing.

    Tiers: every COMPACTED generation (a bucketed index table + a docs
    dir each, listed oldest-first in the marker — see
    :func:`compact_neardup_state`) plus the batch-keyed tail. The
    index comes back as a LIST of DataFrames, one per tier, instead of
    one union: a union would discard the generations' bucketing and
    every probe against it would shuffle the corpus-sized index, while
    probing each generation separately keeps the index side
    shuffle-free (generation count is logarithmic in corpus size under
    the geometric merge policy, so the per-part probe fan-out is
    bounded). Tail visibility is ``folded_upto < batch != epoch_id``:
    the marker's watermark excludes batches already folded into the
    compacted tiers (so a crash between the marker swap and the tail
    cleanup can never double-read a folded batch), and the epoch's own
    batch={epoch_id} partitions are excluded — a replayed epoch's dirs
    may already exist on disk (failure between the state writes and
    the checkpoint commit), and including them would break
    minhash_lsh_incremental's disjoint-ids precondition and change the
    replayed output.
    """
    import os

    from pyspark.sql import functions as F

    p = _neardup_paths(state_root)
    docs_parts, idx_parts = [], []
    gens, folded_upto = _read_neardup_marker(p["cmark"])
    for g in gens:
        idx_parts.append(
            spark.table(g["table"]).select("doc_id", "band_id", "band_hash")
        )
        docs_parts.append(_docs_with_shset(spark.read.parquet(g["docs"])))
    visible_dirs = [
        d
        for d in (os.listdir(p["docs"]) if os.path.isdir(p["docs"]) else [])
        if d.startswith("batch=")
        and d != f"batch={epoch_id}"
        and int(d.split("=", 1)[1]) > folded_upto
    ]
    if visible_dirs:
        cond = (F.col("batch") != epoch_id) & (F.col("batch") > folded_upto)
        docs_parts.append(_read_tail_docs(spark, p["docs"], visible_dirs, cond))
        idx_parts.append(
            spark.read.parquet(p["idx"])
            .where(cond)
            .select("doc_id", "band_id", "band_hash")
        )
    if not docs_parts:
        return None, []
    seen = docs_parts[0]
    for extra in docs_parts[1:]:
        seen = seen.unionByName(extra)
    return seen, idx_parts


def neardup_epoch_writer(
    spark, state_root: str, threshold: float = 0.8,
    epoch_partitions: int | None = None,
    compact_every: int | None = None,
    index_table: str = "sg_neardup_stream_idx",
    phase_timings: dict | None = None,
):
    """foreachBatch writer for continuous near-dup dedup (module-level
    so replay/compaction behavior is unit-testable without a stream).

    Each epoch (a) finds near-dup pairs WITHIN the batch with the full
    MinHash-LSH pipeline, (b) probes the ACCUMULATED LSH index for
    cross pairs against everything seen so far
    (operators/dedup.py minhash_lsh_incremental — signature work is
    O(batch), the history is touched only through its index and the
    candidate-pruned verification), then (c) appends the batch's band
    entries + docs to the state. Every epoch's writes land in
    batch_id-keyed subdirectories with overwrite semantics, AND the
    state reads exclude the epoch's own batch partition
    (:func:`_neardup_state`) — so a replayed epoch (foreachBatch's
    at-least-once contract) sees exactly the pre-epoch state and
    rewrites identical content — idempotent.

    ``epoch_partitions`` bounds the FILE COUNT of each epoch's state
    writes (coalesce before write). Without it, every epoch inherits
    the session's shuffle-partition count and a small micro-batch
    fans out into that many tiny files per state dir — the small-files
    accretion that slows every later epoch's state read. Size it to
    ~128 MB files for the expected micro-batch volume (None = leave
    the write parallelism alone; compact_neardup_state remains the
    backstop for long feeds either way).

    ``compact_every=N`` compacts IN-STREAM: every Nth epoch (empty or
    not) first folds the committed batch-keyed tail into a new
    bucketed ``index_table`` GENERATION, merging generations
    geometrically (:func:`compact_neardup_state` with ``exclude_epoch``
    — see there for the tiering and why this is replay-safe), so the
    batch-keyed tail never exceeds N dirs and per-compaction rewrite
    work is O(tail), no matter how long the feed runs. After
    compaction the cross-probe's index side is a handful of bucketed
    tables, each probed shuffle-free on the corpus side.

    ``phase_timings`` (bench-only instrumentation, default None =
    zero behavior change): a dict that accumulates per-phase wall
    seconds across epochs under keys ``compact`` / ``signature`` /
    ``candidates`` / ``verify`` / ``write`` plus ``n_epochs``. When
    set, each phase's lazy frontier is force-materialized (persisted
    counts) so the phases are separable — that adds bounded extra
    actions over cached data, which is why the TIMED bench number is
    taken from an uninstrumented run and the breakdown from a
    separate instrumented one.
    """
    import os
    import time as _time

    from pyspark.storagelevel import StorageLevel

    from ..operators.dedup import (
        _verify_candidates,
        lsh_band_entries,
        lsh_bucket_candidates,
        lsh_probe_candidates,
        with_shingle_set,
    )

    p = _neardup_paths(state_root)

    def _mark(phase: str, t0: float) -> float:
        now = _time.perf_counter()
        if phase_timings is not None:
            phase_timings[phase] = round(
                phase_timings.get(phase, 0.0) + (now - t0), 4
            )
        return now

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = _time.perf_counter()
        # Compaction fires BEFORE the empty-batch return: an empty Nth
        # micro-batch (sparse feed) must still fold the tail, or the
        # documented "tail never exceeds N dirs" bound silently slips
        # to the next non-empty multiple of N.
        if compact_every and epoch_id > 0 and epoch_id % compact_every == 0:
            compact_neardup_state(
                spark, state_root, index_table, exclude_epoch=epoch_id
            )
        t0 = _mark("compact", t0)
        if batch_df.isEmpty():
            return
        if phase_timings is not None:
            phase_timings["n_epochs"] = phase_timings.get("n_epochs", 0) + 1
        batch = batch_df.select("doc_id", "text")
        # r15: tokenize + shingle the batch EXACTLY ONCE per epoch. The
        # persisted distinct-shingle arrays feed (a) the signature
        # pipeline, (b) the batch side of the exact verification
        # (which previously re-tokenized its candidate docs), and
        # (c) the docs-state write — the state stores (doc_id, text,
        # shset), so no LATER epoch re-tokenizes this batch's docs
        # when they surface as history candidates either (guide
        # §2.3/§4: the expensive derivation runs once, its result is
        # what travels). Signatures are identical: minhash is
        # multiplicity-invariant, and shset is the same expression
        # the verification always evaluated.
        batch_sh = with_shingle_set(batch).persist()
        # The batch's band entries feed THREE consumers (within-batch
        # bucketing, the cross-probe, the index write); sign once and
        # persist for the epoch instead of recomputing the signature
        # pipeline per consumer (measured ~25% off the per-epoch cost).
        # (r14-opt note: eagerly materializing the cache with a count
        # before the concurrent writes — so the pairs and idx jobs
        # could not both compute it — was measured FLAT in an
        # interleaved A/B at sf0.1: the duplicated first-read compute
        # lands on otherwise-idle cores, so the extra action buys
        # nothing. Left lazy.)
        entries = lsh_band_entries(batch_sh, shingle_col="shset").persist()
        if phase_timings is not None:
            entries.count()
        t0 = _mark("signature", t0)
        cand = None
        pairs = None
        try:
            # Within-batch and cross-history candidates run through ONE
            # exact-Jaccard verification pass (vs one per candidate
            # source): the candidate sets are disjoint by construction
            # (cross pairs always carry one pre-epoch side), so the
            # union verifies each pair once, halves the per-epoch
            # verification stages, and fetches each candidate doc's
            # shingle set once even when a doc shows up in both sets.
            cand = lsh_bucket_candidates(entries)
            seen, idx_parts = _neardup_state(spark, state_root, epoch_id)
            verify_docs = batch_sh.select("doc_id", "shset")
            if seen is not None:
                # d1 = history doc, d2 = batch doc (lsh_probe_candidates
                # orientation) — same orientation minhash_lsh_incremental
                # emits, so the drained union is unchanged. Each index
                # tier is probed SEPARATELY: a pre-probe union would
                # discard the generations' (band_id, band_hash)
                # bucketing and shuffle the corpus-sized index; per-part
                # probes keep every compacted side shuffle-free and the
                # candidate sets are disjoint by construction (a doc
                # lives in exactly one tier).
                for part in idx_parts:
                    cand = cand.unionByName(lsh_probe_candidates(part, entries))
                # verification consumes only (doc_id, shset): the text
                # column is pruned from every history tier's scan, and
                # no tier is ever re-tokenized — the sets were computed
                # once, at each doc's ingest epoch.
                verify_docs = seen.select("doc_id", "shset").unionByName(verify_docs)
            cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
            if phase_timings is not None:
                cand.count()
            t0 = _mark("candidates", t0)
            pairs = _verify_candidates(
                verify_docs, cand, threshold, shingle_col="shset"
            )
            if phase_timings is not None:
                pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
                pairs.count()
            t0 = _mark("verify", t0)

            def sized(df: DataFrame) -> DataFrame:
                return df.coalesce(epoch_partitions) if epoch_partitions else df

            # The epoch's three outputs are INDEPENDENT datasets, so
            # submit them as CONCURRENT Spark jobs (scheduler threads
            # share the persisted entries/cand stages) instead of three
            # sequential driver actions — measured ~15% off the
            # per-epoch wall clock at sf0.1, identical on-disk state.
            # Crash-window note: with concurrent writes a crash can
            # leave ANY single-sided batch dir (idx-only OR docs-only);
            # compact_neardup_state's fold membership is the
            # COMPLETED-epoch intersection of idx+docs dirs, which is
            # symmetric in the two sides, so the replay-safety argument
            # is unchanged (test_compaction_skips_idx_only_partial_epoch).
            # pairs: no coalesce — AQE already coalesces the
            # post-shuffle output to few files, and a coalesce here
            # would collapse the verification pipeline's parallelism
            # (coalesce reaches up through the whole stage; measured
            # 28% slower). entries (cache-backed) and docs (a straight
            # staged-file scan) have no expensive upstream to throttle
            # — capping their file fan-out is pure small-files win.
            from concurrent.futures import ThreadPoolExecutor

            writes = (
                lambda: pairs.write.mode("overwrite").parquet(
                    f"{p['pairs']}/batch={epoch_id}"
                ),
                lambda: sized(entries).write.mode("overwrite").parquet(
                    f"{p['idx']}/batch={epoch_id}"
                ),
                # docs state = (doc_id, text, shset): the shingle sets
                # persist with the docs, so later epochs verify against
                # this batch without re-tokenizing it (r15 state format;
                # readers fall back to computing shset for legacy dirs)
                lambda: sized(batch_sh).write.mode("overwrite").parquet(
                    f"{p['docs']}/batch={epoch_id}"
                ),
            )
            with ThreadPoolExecutor(max_workers=3) as ex:
                for f in [ex.submit(w) for w in writes]:
                    f.result()  # re-raise the first failure
            _mark("write", t0)
        finally:
            batch_sh.unpersist()
            entries.unpersist()
            if cand is not None:
                cand.unpersist()
            if pairs is not None and phase_timings is not None:
                pairs.unpersist()

    return write_epoch


def compact_neardup_state(
    spark, state_root: str, index_table: str, n_buckets: int = 16,
    exclude_epoch: int = -1, merge_ratio: float = 0.5,
) -> None:
    """TIERED (LSM-style) fold of the batch-keyed epoch state into
    bucketed index generations — the maintenance job a long-running
    feed needs, with per-compaction work proportional to the TAIL, not
    to the total accumulated state.

    Without it, state accumulates a subdirectory per epoch and
    partition discovery over thousands of dirs degrades every epoch's
    index read. Each compaction folds ONLY the batch-keyed tail into a
    NEW generation (a catalog table bucketed by (band_id, band_hash) +
    one docs dir), leaving prior generations' bytes untouched
    (tests/test_neardup_state.py::test_tiered_compaction_rewrites_only_tail),
    then applies the geometric merge policy: while the youngest
    generation holds >= ``merge_ratio`` x the rows of the one before
    it, the two merge into one. Generation sizes therefore decrease
    geometrically youngest-first, the generation count stays
    O(log(total/tail)), and total rewrite cost over the feed's life is
    O(n log n) — vs the O(n) PER COMPACTION of a rewrite-the-world
    fold. Probes stay shuffle-free on every generation
    (tests/test_plans.py::test_compacted_lsh_probe_index_side_shuffle_free):
    :func:`_neardup_state` hands the tiers back unmixed precisely so
    each keeps its bucketing.

    Safe to run from two places: (a) while the stream is
    stopped/quiescent (after awaitTermination every drained epoch is
    committed) with the default ``exclude_epoch=-1``, folding
    everything; (b) INSIDE epoch N's foreachBatch before N writes its
    own state, passing ``exclude_epoch=N`` — every batch dir < N is
    checkpoint-committed by the time N runs, and excluding N's own
    (possibly replayed-leftover) partitions keeps the replay-
    idempotency argument of :func:`_neardup_state` intact. This is how
    ``compact_every`` in :func:`neardup_epoch_writer` keeps a long
    feed's state dir count bounded without stopping the stream.

    CRASH-SAFE commit protocol (every window leaves a readable,
    never-double-counted state): all new generations — the tail fold
    and any merges — are written under names the current marker does
    not reference, then the marker (generation list + folded_upto
    watermark) is swapped in atomically via os.replace, and ONLY THEN
    is anything deleted. A crash before the swap leaves the old marker
    + full tail authoritative (the orphaned new tables/dirs are
    garbage-collected by the next successful run); a crash after the
    swap leaves folded tail dirs and retired generations on disk that
    readers already ignore via the marker, so cleanup is resumable. A
    replayed epoch that re-triggers its compaction sees an empty
    visible tail and skips. Markers written by older versions of this
    module (single-generation, see :func:`_read_neardup_marker`) read
    as one legacy generation and their fixed-path docs/index dirs are
    swept here once that generation merges away.
    """
    import os
    import re
    import shutil

    from pyspark.sql import functions as F

    from ..engine import clear_managed_table

    p = _neardup_paths(state_root)
    old_gens, folded_upto = _read_neardup_marker(p["cmark"])

    def _batch_ids(root: str) -> set:
        return {
            int(d.split("=", 1)[1])
            for d in (os.listdir(root) if os.path.isdir(root) else [])
            if d.startswith("batch=")
        }

    # A foldable epoch is one whose state write COMPLETED: the epoch
    # writer commits idx then docs, so an idx-only batch dir is a
    # crash-window partial whose epoch WILL replay (its checkpoint
    # never committed). Folding from the intersection — and bounding
    # the fold reads by isin(tail_ids) below rather than a bare
    # `batch > folded_upto` — keeps such a partial out of the new
    # generation entirely; otherwise its index rows would be folded
    # now AND re-ingested after the replay rewrites the dir, breaking
    # the cross-tier disjointness the per-part probe union relies on.
    tail_ids = sorted(
        b
        for b in _batch_ids(p["idx"]) & _batch_ids(p["docs"])
        if b != exclude_epoch and b > folded_upto
    )
    if not tail_ids:
        # nothing new to fold (e.g. a replayed epoch re-triggering its
        # compaction, or an all-empty window): merges are applied
        # eagerly at fold time, so no pending work can exist either —
        # skip entirely, never drop and rebuild committed generations.
        return

    def _rows(g: dict) -> int:
        # legacy generations carry rows=None; count once, lazily
        if g["rows"] is None:
            g["rows"] = spark.read.parquet(g["docs"]).count()
        return g["rows"]

    def _next_names() -> tuple[str, str]:
        # smallest unused generation id: never collides with live
        # generations (any marker version) or crashed-run orphans
        s = 0
        while True:
            t = f"{index_table}_g{s}"
            d = os.path.join(state_root, f"compacted_docs_g{s}")
            if (
                not spark.catalog.tableExists(t)
                and not os.path.exists(d)
                and t not in {g["table"] for g in gens}
            ):
                return t, d
            s += 1

    def _save(idx_df, docs_df, rows: int | None) -> dict:
        table, docs_dir = _next_names()
        clear_managed_table(spark, table)
        (
            idx_df.write.mode("overwrite")
            .bucketBy(n_buckets, "band_id", "band_hash")
            .sortBy("band_id", "band_hash")
            .format("parquet")
            .saveAsTable(table)
        )
        shutil.rmtree(docs_dir, ignore_errors=True)
        docs_df.write.mode("overwrite").parquet(docs_dir)
        if rows is None:
            rows = spark.read.parquet(docs_dir).count()
        return {"table": table, "docs": docs_dir, "rows": rows}

    gens = list(old_gens)
    # 1. fold ONLY the tail into a new youngest generation — membership
    #    by the completed-epoch id list, never an open-ended watermark
    #    comparison (see tail_ids above)
    cond = F.col("batch").isin(tail_ids)
    # docs carry (doc_id, text, shset) through every fold and merge —
    # legacy text-only rows get their shingle sets computed HERE, once,
    # so the migration cost is paid at compaction instead of on every
    # later epoch's verification read (_docs_with_shset/_read_tail_docs)
    gens.append(
        _save(
            spark.read.parquet(p["idx"]).where(cond).select(
                "doc_id", "band_id", "band_hash"
            ),
            _read_tail_docs(
                spark, p["docs"], [f"batch={b}" for b in tail_ids], cond
            ),
            rows=None,
        )
    )
    # 2. geometric merge: youngest absorbs upward while it has grown to
    #    >= merge_ratio of its elder — each surviving generation is
    #    >= 1/merge_ratio x its junior, so |gens| is logarithmic
    while len(gens) >= 2 and _rows(gens[-1]) >= merge_ratio * _rows(gens[-2]):
        young, elder = gens.pop(), gens.pop()
        merged = _save(
            spark.table(elder["table"])
            .select("doc_id", "band_id", "band_hash")
            .unionByName(
                spark.table(young["table"]).select("doc_id", "band_id", "band_hash")
            ),
            _docs_with_shset(spark.read.parquet(elder["docs"])).unionByName(
                _docs_with_shset(spark.read.parquet(young["docs"]))
            ),
            rows=elder["rows"] + young["rows"],
        )
        gens.append(merged)
    new_upto = max([folded_upto, *tail_ids])
    # 3. COMMIT: atomic marker swap — readers now see the new tiers and
    #    ignore tail batches <= new_upto and retired generations
    _write_neardup_marker(p["cmark"], gens, new_upto)
    # 4. cleanup, all resumable garbage collection: folded tail dirs,
    #    retired/orphaned generations (incl. legacy fixed-path dirs and
    #    crashed-run leftovers)
    live_tables = {g["table"].lower() for g in gens}
    live_docs = {os.path.abspath(g["docs"]) for g in gens}
    for root in (p["idx"], p["docs"]):
        if os.path.isdir(root):
            for d in os.listdir(root):
                if d.startswith("batch=") and int(d.split("=", 1)[1]) <= new_upto:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    for d in os.listdir(state_root):
        full = os.path.abspath(os.path.join(state_root, d))
        if d.startswith("compacted_docs") and full not in live_docs:
            shutil.rmtree(full, ignore_errors=True)
    if os.path.abspath(p["cidx"]) not in live_docs:
        shutil.rmtree(p["cidx"], ignore_errors=True)  # legacy v0 index dir
    retired = {
        g["table"].lower() for g in old_gens if g["table"].lower() not in live_tables
    }
    # Orphan sweep matches EXACTLY this index_table's generation names
    # (^{index_table}_g\d+$) — a bare prefix match would also capture a
    # prefix-overlapping pipeline's LIVE generations sharing the
    # catalog (index_table='idx' matching 'idx_gold_g0').
    orphan = re.compile(re.escape(index_table.lower()) + r"_g\d+$")
    for t in spark.catalog.listTables():
        if t.name in retired or (
            orphan.fullmatch(t.name) and t.name not in live_tables
        ):
            clear_managed_table(spark, t.name)
    shutil.rmtree(os.path.join(state_root, "_compact_staging"), ignore_errors=True)


def run_streaming_neardup(
    stream_docs,
    spark,
    state_root: str,
    checkpoint: str,
    threshold: float = 0.8,
    epoch_partitions: int | None = None,
    compact_every: int | None = None,
    index_table: str = "sg_neardup_stream_idx",
    phase_timings: dict | None = None,
):
    """Continuous near-duplicate dedup over an arriving document feed
    (see :func:`neardup_epoch_writer` for the per-epoch algorithm and
    the idempotency argument).

    Because every pair's two sides either share a batch (within) or
    the later side probes the earlier side's index (cross), the
    accumulated pair set after draining the feed equals the one-shot
    batch LSH over the whole corpus — which is what the driver oracle
    checks. ``compact_every=N`` folds the epoch-keyed tail into a new
    bucketed index generation every Nth epoch IN-STREAM, merging
    generations geometrically (replay-safe, O(tail) rewrite per
    compaction; see :func:`compact_neardup_state`), so per-epoch reads
    stay O(log n) sources on long-running feeds; between feeds the
    same fold can be run manually.

    Returns the accumulated (d1, d2, jaccard) pairs DataFrame.
    """
    import os

    (
        stream_docs.writeStream.foreachBatch(
            neardup_epoch_writer(
                spark, state_root, threshold=threshold,
                epoch_partitions=epoch_partitions,
                compact_every=compact_every, index_table=index_table,
                phase_timings=phase_timings,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(os.path.join(state_root, "pairs")).select(
        "d1", "d2", "jaccard"
    )


def stats_ingest_writer(layout_path: str):
    """foreachBatch writer folding each micro-batch into a
    :func:`~..operators.layout.write_stats_layout` table via
    :func:`~..operators.layout.stats_append`, with the EPOCH ID as the
    append's batch token — the manifest-gated streaming ingest:

    - foreachBatch is at-least-once per epoch; the append protocol's
      committed-replay short-circuit on the stable ``epoch-<id>``
      token turns that into EXACTLY-ONCE (a replayed epoch finds its
      ``_batches/epoch-<id>`` record and returns without touching the
      layout — no generation/symlink machinery needed, the layout's
      own protocol is already a commit log);
    - readers plan files from the manifest, so an epoch becomes
      visible ATOMICALLY when its manifest part lands — a crash
      mid-epoch leaves readers on the exact pre-epoch table and the
      retried epoch sweeps its prefixed partials first.
    """

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.layout import stats_append

        stats_append(batch_df, layout_path, batch_id=f"epoch-{int(epoch_id)}")

    return write_epoch


def run_streaming_stats_ingest(
    stream_df: DataFrame,
    spark,
    layout_path: str,
    checkpoint: str,
) -> None:
    """Drain a bounded stream through :func:`stats_ingest_writer`
    (the layout at ``layout_path`` must already exist — the base
    corpus a continuous feed appends to)."""
    q = (
        stream_df.writeStream.foreachBatch(stats_ingest_writer(layout_path))
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def ivf_ingest_writer(layout_path: str, reports: list | None = None):
    """foreachBatch writer appending each micro-batch of vectors into
    a :func:`~..operators.similarity.write_ivf_layout` index via
    :func:`~..operators.similarity.ivf_append`, with the EPOCH ID as
    the append's batch token — the continuously-ingesting ANN corpus
    (r14; the stats_ingest_writer precedent on the IVF commit log):

    - at-least-once foreachBatch becomes EXACTLY-ONCE through the
      append protocol's committed-replay short-circuit on the stable
      ``epoch-<id>`` token — a replayed epoch returns its recorded
      drift report without touching the index;
    - each batch is assigned with the COMMITTED quantizer of the
      version the epoch plans, so a retrain racing the stream (the
      maintenance loop a live index runs) stays sound: an epoch that
      loses its CAS to a retrain re-assigns against the new
      centroids inside ivf_append, no sink-side logic needed;
    - ``reports``, when supplied, collects each epoch's drift report
      (n_drifted / drift_ratio / replayed) — the owner's retrain
      signal, surfaced from the stream instead of polled.
    """

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.similarity import ivf_append

        rep = ivf_append(
            batch_df, None, layout_path, batch_id=f"epoch-{int(epoch_id)}"
        )
        if reports is not None:
            reports.append({"epoch": int(epoch_id), **rep})

    return write_epoch


def run_streaming_ivf_ingest(
    stream_df: DataFrame,
    spark,
    layout_path: str,
    checkpoint: str,
    reports: list | None = None,
) -> None:
    """Drain a bounded vector stream through :func:`ivf_ingest_writer`
    (the index at ``layout_path`` must already exist — the built
    corpus a continuous embedding feed appends to)."""
    q = (
        stream_df.writeStream.foreachBatch(
            ivf_ingest_writer(layout_path, reports=reports)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def cdc_stats_merge_writer(
    spark: SparkSession,
    layout_path: str,
    key_col: str,
    layout_cols: list,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
):
    """foreachBatch writer folding a CDC change feed into a
    :func:`~..operators.layout.write_stats_layout` table via row-level
    :func:`~..operators.layout.stats_merge` — streaming MERGE INTO on
    the manifest-gated layout (r12 VERDICT next #4):

    - each epoch's micro-batch is COLLAPSED to one winner per key
      (highest ``seq_col``, ties to ``op_col`` desc — the
      merge_latest_snapshot window, inlined here because the sink
      needs the delete winners the snapshot collapser drops): winners
      that are deletes become the merge's ``delete_keys``, the rest
      its ``upserts``;
    - the EPOCH ID is the merge's batch token, so foreachBatch's
      at-least-once epoch retry hits stats_merge's committed-record
      (and commit-log tag) short-circuit — exactly-once through the
      layout's own protocol, no extra state machinery (the
      stats_ingest_writer precedent);
    - an epoch becomes visible ATOMICALLY at the merge's commit-log
      CAS; a crash mid-epoch leaves readers on the exact pre-epoch
      version.

    ORDERING CONTRACT: the feed must be per-key seq-ordered across
    epochs (a key's later change never arrives in an earlier epoch) —
    the standard CDC-connector delivery guarantee (key-partitioned
    log topics), and what stage_changes_dir's seq-ranged staging
    provides. The layout keeps no tombstone memory, so an out-of-order
    late update would resurrect a deleted key; feeds without the
    guarantee should drain through cdc_upsert_writer's tombstone state
    instead and bulk-merge its snapshot.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..operators.layout import stats_merge

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        w = W.partitionBy(key_col).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        # The winner collapse feeds FIVE downstream evaluations inside
        # stats_merge (the two input counts, the distinct-key manifest
        # planning join, and the rewrite union — each a separate job,
        # so ReuseExchange cannot share the window's shuffle across
        # them). Persist the collapsed micro-batch for the epoch: the
        # window runs once and every later pass reads the cached
        # winners (guide §5 — reused AND expensive to recompute; state
        # is micro-batch-sized, never table-sized).
        winners = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        ).persist()
        try:
            ups = winners.filter(F.col(op_col) != delete_op).select(*layout_cols)
            dels = winners.filter(F.col(op_col) == delete_op).select(key_col)
            stats_merge(
                spark, layout_path, ups, dels, key_col,
                batch_id=f"epoch-{int(epoch_id)}",
            )
        finally:
            winners.unpersist()

    return write_epoch


def run_streaming_cdc_stats_merge(
    stream_df: DataFrame,
    spark: SparkSession,
    layout_path: str,
    checkpoint: str,
    key_col: str,
    layout_cols: list,
) -> None:
    """Drain a bounded CDC stream through
    :func:`cdc_stats_merge_writer` (the layout at ``layout_path`` must
    already exist — the base snapshot a continuous change feed merges
    into)."""
    q = (
        stream_df.writeStream.foreachBatch(
            cdc_stats_merge_writer(spark, layout_path, key_col, layout_cols)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
