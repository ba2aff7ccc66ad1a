"""Structured Streaming pipelines vs their batch twins.

Each staged-file stream is bounded, so processAllAvailable drains it
completely; the memory-sink table must then agree with the batch
DataFrame computing the same semantics (reference has no streaming —
SURVEY.md §2.2 — these pin the extension's correctness).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_csv_spark.queries.events import events_hourly_rollup, events_sessionize
from data_pipeline_csv_spark.sources.tables import load_table
from data_pipeline_csv_spark.streaming import (
    attribution_join_stream,
    hourly_rollup_stream,
    read_events_stream,
    run_to_memory,
    session_window_stream,
    sliding_counts_stream,
    stage_events_dir,
    stream_dedup_within_watermark,
    user_running_totals_stream,
)


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream") / "staged")
    stage_events_dir(spark, sf_dir, out, n_files=4)
    return out


def _latest_per_key(df, key_cols, order_col):
    """Memory sink in update mode keeps every version; take the final one."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def test_hourly_rollup_stream_matches_batch(spark, sf_dir, staged):
    stream = hourly_rollup_stream(read_events_stream(spark, staged))
    got = _latest_per_key(run_to_memory(stream, spark), ["bucket", "event_type"], "n_events")

    want = events_hourly_rollup(spark, sf_dir).withColumnRenamed("n_users", "_ignore")
    got_rows = {
        (r["bucket"], r["event_type"]): (r["n_events"], float(r["sum_value"]))
        for r in got.collect()
    }
    want_rows = {
        (r["bucket"], r["event_type"]): (r["n_events"], float(r["sum_value"]))
        for r in want.collect()
    }
    assert got_rows == want_rows


def test_session_window_stream_matches_batch_sessionize(spark, sf_dir, staged, tmp_path):
    # Session windows only support append output: a session is emitted
    # once the watermark passes its end. Stage a copy of the feed plus a
    # far-future sentinel event so the final watermark flushes every
    # real session, then drop the sentinel's own session.
    import shutil

    flushed = str(tmp_path / "staged_flush")
    shutil.copytree(staged, flushed)
    staged_df = spark.read.parquet(staged)
    max_ts = staged_df.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        staged_df.limit(1)
        .withColumn("user_id", F.lit(-1).cast(staged_df.schema["user_id"].dataType))
        .withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 10 DAYS"))
    )
    sentinel.coalesce(1).write.mode("append").parquet(flushed)

    stream = session_window_stream(read_events_stream(spark, flushed), gap="30 minutes")
    got = (
        run_to_memory(stream, spark, output_mode="append")
        .filter(F.col("user_id") >= 0)
    )
    want = events_sessionize(spark, sf_dir)
    # Same number of sessions and same total events per user.
    got_agg = {
        r["user_id"]: (r["n_sessions"], r["total"])
        for r in got.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("total"))
        .collect()
    }
    want_agg = {
        r["user_id"]: (r["n_sessions"], r["total"])
        for r in want.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("total"))
        .collect()
    }
    assert got_agg == want_agg


def test_stream_dedup_keeps_one_row_per_event_id(spark, sf_dir, staged):
    events = load_table(spark, sf_dir, "events")
    stream = stream_dedup_within_watermark(read_events_stream(spark, staged))
    got = run_to_memory(stream, spark, output_mode="append")
    assert got.count() == events.select("event_id").distinct().count()
    assert got.groupBy("event_id").count().filter("count > 1").count() == 0


def test_sliding_counts_total_mass(spark, sf_dir, staged):
    """Each event falls in exactly window/slide sliding buckets."""
    events = load_table(spark, sf_dir, "events")
    stream = sliding_counts_stream(
        read_events_stream(spark, staged), window="1 hour", slide="15 minutes"
    )
    got = _latest_per_key(
        run_to_memory(stream, spark),
        ["window_start", "event_type"],
        "n_events",
    )
    total = got.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count() * 4  # 1h / 15min = 4 buckets per event


def test_user_running_totals_final_state(spark, sf_dir, staged):
    events = load_table(spark, sf_dir, "events")
    stream = user_running_totals_stream(read_events_stream(spark, staged))
    got = _latest_per_key(run_to_memory(stream, spark), ["user_id"], "n_events")
    want = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got_rows = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in got.collect()}
    # Timeout may evict users whose watermark passed before the last file;
    # every user that IS present must carry the exact full-history totals.
    assert got_rows, "stateful operator produced no output"
    mismatches = {
        u: (got_rows[u], want[u]) for u in got_rows if abs(got_rows[u][1] - want[u][1]) > 1e-6 or got_rows[u][0] != want[u][0]
    }
    assert not mismatches, f"running totals diverge: {dict(list(mismatches.items())[:5])}"


def test_enriched_stream_matches_batch_join(spark, sf_dir, staged):
    from data_pipeline_csv_spark.sources.tables import load_table
    from data_pipeline_csv_spark.streaming import enriched_rollup_stream

    dim = load_table(spark, sf_dir, "customer")
    stream = enriched_rollup_stream(read_events_stream(spark, staged), dim)
    got = _latest_per_key(
        run_to_memory(stream, spark), ["c_mktsegment", "event_type"], "n_events"
    )
    events = load_table(spark, sf_dir, "events")
    want = (
        events.join(dim, events.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint")).cast("double") / 1_000_000.0).alias("sum_value"),
        )
    )
    got_rows = {(r["c_mktsegment"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in got.collect()}
    want_rows = {(r["c_mktsegment"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in want.collect()}
    assert got_rows == want_rows


def test_attribution_join_stream_matches_batch_interval_join(spark, sf_dir, staged):
    """Stream-stream interval join drained ≡ batch interval self-join."""
    ev = read_events_stream(spark, staged)
    joined = attribution_join_stream(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )
    got = run_to_memory(joined, spark, output_mode="append")

    events = load_table(spark, sf_dir, "events")
    c = events.filter("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = events.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    want = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL '1 hour'")),
    )
    got_rows = {
        (r["purchase_id"], r["click_ts"]) for r in got.collect()
    }
    want_rows = {(r["pid"], r["cts"]) for r in want.collect()}
    assert got_rows == want_rows and len(got_rows) > 0


@pytest.mark.parametrize(
    "name",
    [
        "streaming_hourly_rollup",
        "streaming_session_windows",
        "streaming_dedup_event_ids",
        "streaming_attribution_join",
        "streaming_enriched_rollup",
        "streaming_incremental_mv",
        "streaming_cdc_upsert",
        "streaming_heavy_hitters",
        "streaming_distinct_kmv",
        "streaming_stats_ingest",
        "streaming_cdc_stats_merge",
    ],
)
def test_streaming_queries_leave_no_cached_rdd(spark, sf_dir, name):
    """Every streaming registry query returns its result uncached:
    after the call and a count of its result, no RDD is persisted that
    was not persisted before. Ids, not counts: the ContextCleaner may
    free unrelated RDDs during the call, which would hide a leak from a
    size comparison."""
    from data_pipeline_csv_spark.queries import REGISTRY

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert REGISTRY[name].fn(spark, sf_dir).count() > 0
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_checkpoint_recovery_processes_each_file_once(spark, sf_dir, tmp_path):
    """Stop a checkpointed stream mid-feed, add more data, restart with the
    same checkpoint: the second run must process ONLY the unseen files
    (no reprocessing, no loss) — the exactly-once file-source contract."""
    from data_pipeline_csv_spark.streaming import read_events_stream, stage_events_dir
    from data_pipeline_csv_spark.streaming.sinks import foreach_batch_parquet

    staged = str(tmp_path / "staged")
    stage_events_dir(spark, sf_dir, staged, n_files=4)
    parts = sorted(
        f for f in __import__("os").listdir(staged)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    held_back = str(tmp_path / parts[-1])
    __import__("shutil").move(f"{staged}/{parts[-1]}", held_back)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    q = foreach_batch_parquet(
        read_events_stream(spark, staged).select("event_id"), out, ckpt
    )
    q.processAllAvailable(); q.stop()
    n_first = spark.read.parquet(out).count()
    assert n_first < total  # held-back file genuinely missing

    __import__("shutil").move(held_back, f"{staged}/{parts[-1]}")
    q2 = foreach_batch_parquet(
        read_events_stream(spark, staged).select("event_id"), out, ckpt
    )
    q2.processAllAvailable(); q2.stop()
    got = spark.read.parquet(out)
    assert got.count() == total                      # nothing lost, nothing duplicated
    assert got.select("event_id").distinct().count() == total


@pytest.mark.slow
def test_streaming_neardup_converges_to_batch_lsh(spark, sf_dir):
    """Draining the id-ordered document feed through the per-epoch
    within-batch + index-probe dedup must yield exactly the one-shot
    batch LSH pair set (same threshold) — the streaming result is the
    batch result, incrementally."""
    from data_pipeline_csv_spark.operators.dedup import minhash_lsh_pairs
    from data_pipeline_csv_spark.queries import REGISTRY
    from data_pipeline_csv_spark.sources.tables import load_table

    got = {
        (r.d1, r.d2, r.jaccard)
        for r in REGISTRY["streaming_dedup_neardup"].fn(spark, sf_dir).collect()
    }
    want = {
        (r.d1, r.d2, r.jaccard)
        for r in minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.8
        ).collect()
    }
    assert got == want


def test_cdc_upsert_stream_any_split(spark, sf_dir, tmp_path):
    """The streaming upsert must fold to the one-shot batch merge for
    an ADVERSARIAL epoch split (key-mod batches: every epoch mixes
    inserts, updates, deletes and seq orders), and a replayed epoch
    must short-circuit to identical state."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.cdc import (
        merge_latest_snapshot,
        synthetic_change_feed,
    )
    from data_pipeline_csv_spark.sources.tables import load_table
    from data_pipeline_csv_spark.streaming.sinks import cdc_upsert_writer

    changes = synthetic_change_feed(load_table(spark, sf_dir, "orders"))
    state = str(tmp_path / "cdc_state")
    os.makedirs(state)
    w = cdc_upsert_writer(state, ["o_orderkey"])
    for i in range(3):
        w(changes.filter(F.col("o_orderkey") % 3 == i), i)
    w(changes.filter(F.col("o_orderkey") % 3 == 1), 1)  # replay: no-op

    got = {
        (r.o_orderkey, r.o_orderstatus, r.o_totalprice, r.seq, r.n_versions)
        for r in spark.read.parquet(os.path.join(state, "current"))
        .filter(F.col("op") != "D")
        .collect()
    }
    want = {
        (r.o_orderkey, r.o_orderstatus, r.o_totalprice, r.seq, r.n_versions)
        for r in merge_latest_snapshot(changes, ["o_orderkey"]).collect()
    }
    assert got == want and want


def test_cdc_upsert_tombstone_blocks_resurrection(spark, tmp_path):
    """A delete arriving in an EARLIER epoch than a lower-seq change
    for the same key must keep the key deleted — the reason state
    retains tombstones instead of dropping deleted keys."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.streaming.sinks import cdc_upsert_writer

    state = str(tmp_path / "cdc_state2")
    os.makedirs(state)
    w = cdc_upsert_writer(state, ["k"])
    schema = "k long, v string, seq int, op string"
    w(spark.createDataFrame([(1, "x", 3, "D"), (2, "a", 1, "I")], schema), 0)
    w(spark.createDataFrame([(1, "old", 1, "I"), (2, "b", 2, "U")], schema), 1)
    live = {
        (r.k, r.v, r.seq, r.n_versions)
        for r in spark.read.parquet(os.path.join(state, "current"))
        .filter(F.col("op") != "D")
        .collect()
    }
    assert live == {(2, "b", 2, 2)}  # key 1 stays deleted, count accrues


def test_cdc_upsert_commit_protocol_gc_and_atomicity(spark, tmp_path):
    """The generation-snapshot commit keeps on-disk state bounded
    (current + one predecessor), records the epoch atomically IN the
    symlink target (no marker-lag crash window), and a replayed
    committed epoch leaves the symlink untouched (no rebuild)."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.streaming.sinks import cdc_upsert_writer

    state = str(tmp_path / "cdc_gc")
    os.makedirs(state)
    w = cdc_upsert_writer(state, ["k"])
    schema = "k long, v string, seq int, op string"
    for i in range(4):
        w(spark.createDataFrame([(1, f"v{i}", i + 1, "U")], schema), i)
    gens = [d for d in os.listdir(state) if d.startswith("gen-")]
    assert len(gens) <= 2, f"superseded generations not GC'd: {gens}"
    assert not os.path.exists(os.path.join(state, "last_epoch"))
    cur = os.path.join(state, "current")
    target = os.readlink(cur)
    assert os.path.basename(target).startswith("gen-3-")
    w(spark.createDataFrame([(1, "stale", 99, "U")], schema), 3)  # replay
    assert os.readlink(cur) == target  # short-circuited, no rebuild
    rows = spark.read.parquet(cur).collect()
    assert [(r.k, r.v, r.seq) for r in rows] == [(1, "v3", 4)]


def test_cdc_upsert_replay_never_writes_the_dir_it_reads(spark, tmp_path):
    """The ADVICE crash scenario: state committed for an epoch whose
    checkpoint never committed, so foreachBatch replays it. The replay
    must short-circuit (epoch id rides the symlink target, atomic with
    the repoint) — and even a NON-short-circuited retry attempt (crash
    BEFORE the repoint, leaving an orphan dir) rebuilds into a fresh
    per-attempt dir, never overwrite-writing what `current` resolves
    to, and the orphan is swept by the next commit."""
    import os

    from data_pipeline_csv_spark.streaming.sinks import cdc_upsert_writer

    state = str(tmp_path / "cdc_crash")
    os.makedirs(state)
    w = cdc_upsert_writer(state, ["k"])
    schema = "k long, v string, seq int, op string"
    w(spark.createDataFrame([(1, "a", 1, "I")], schema), 0)
    # crash before repoint: epoch 1's attempt dir exists, uncommitted
    orphan = os.path.join(state, "gen-1-deadbeef")
    os.makedirs(orphan)
    cur_before = os.readlink(os.path.join(state, "current"))
    w(spark.createDataFrame([(1, "b", 2, "U")], schema), 1)  # the retry
    cur_after = os.readlink(os.path.join(state, "current"))
    assert cur_after != cur_before and cur_after != "gen-1-deadbeef"
    assert not os.path.exists(orphan), "orphan attempt dir not GC'd"
    rows = spark.read.parquet(os.path.join(state, "current")).collect()
    assert [(r.k, r.v, r.seq, r.n_versions) for r in rows] == [(1, "b", 2, 2)]


@pytest.mark.slow
def test_neardup_phase_timings_hook_is_observational(spark, tmp_path, sf_dir):
    """The bench-only phase_timings hook must (a) accumulate every
    phase across epochs and (b) leave the drained pair set identical
    to the uninstrumented run — it is instrumentation, not a mode."""
    from data_pipeline_csv_spark.streaming import (
        read_docs_stream,
        run_streaming_neardup,
        stage_docs_dir,
    )

    def drain(tag, phase_timings=None):
        staged = str(tmp_path / f"staged_{tag}")
        state = str(tmp_path / f"state_{tag}")
        stage_docs_dir(spark, sf_dir, staged, n_files=3)
        out = run_streaming_neardup(
            read_docs_stream(spark, staged), spark, state_root=state,
            checkpoint=f"{state}/_chk", threshold=0.8, compact_every=2,
            index_table=f"sg_nd_phase_{tag}", phase_timings=phase_timings,
        )
        return {(r.d1, r.d2) for r in out.collect()}

    plain = drain("plain")
    phases: dict = {}
    inst = drain("inst", phase_timings=phases)
    assert inst == plain
    assert phases["n_epochs"] == 3
    for key in ("compact", "signature", "candidates", "verify", "write"):
        assert key in phases and phases[key] >= 0.0


def test_streaming_kmv_bit_identical_to_batch_sketch(spark, sf_dir, tmp_path):
    """KMV's merge rule is a set union, so the drained streaming fold
    must equal the one-shot batch sketch EXACTLY (same hash rows, same
    order) regardless of how the feed splits into epochs."""
    from data_pipeline_csv_spark.operators.kmv import _hash60
    from data_pipeline_csv_spark.streaming import (
        read_events_stream,
        run_streaming_kmv,
        stage_events_dir,
    )

    k = 32
    staged = str(tmp_path / "staged")
    stage_events_dir(spark, sf_dir, staged, n_files=3)
    stream = read_events_stream(spark, staged).select("user_id")
    drained = run_streaming_kmv(
        stream, spark, state_root=str(tmp_path / "state"),
        checkpoint=str(tmp_path / "state/_chk"), key_col="user_id", k=k,
    )
    got = [r["h"] for r in drained.orderBy("h").collect()]
    events = load_table(spark, sf_dir, "events")
    want = [
        r["h"]
        for r in events.select(_hash60(F.col("user_id")).alias("h"))
        .distinct().orderBy("h").limit(k).collect()
    ]
    assert got == want and 0 < len(got) <= k


def test_streaming_kmv_epoch_replay_short_circuits(spark, sf_dir, tmp_path):
    """A replayed epoch (foreachBatch at-least-once) must not change the
    committed sketch: the writer short-circuits on the committed epoch
    id encoded in the symlink target."""
    from data_pipeline_csv_spark.streaming.sinks import kmv_state_writer

    events = load_table(spark, sf_dir, "events").select("user_id")
    w = kmv_state_writer(str(tmp_path / "st"), "user_id", 16)
    w(events, 0)
    before = sorted(
        r["h"] for r in spark.read.parquet(str(tmp_path / "st/current")).collect()
    )
    w(events.limit(3), 0)  # replay of epoch 0 with different content
    after = sorted(
        r["h"] for r in spark.read.parquet(str(tmp_path / "st/current")).collect()
    )
    assert before == after


def test_streaming_stats_ingest_epoch_replay_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once per epoch; the stats-layout
    ingest writer keys stats_append by the epoch id, so a replayed
    epoch must short-circuit on its commit record: same file set, no
    duplicate rows, and the scan stays equal to base + feed."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        stats_pruned_scan,
        write_stats_layout,
    )
    from data_pipeline_csv_spark.streaming import stats_ingest_writer

    base = spark.range(0, 500).select(F.col("id"), (F.col("id") * 3).alias("v"))
    e0 = spark.range(1000, 1100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    e1 = spark.range(2000, 2080).select(F.col("id"), (F.col("id") * 3).alias("v"))
    path = str(tmp_path / "ingest")
    write_stats_layout(base, path, ["v"], n_files=4)
    writer = stats_ingest_writer(path)
    writer(e0, 0)
    writer(e1, 1)
    n_files = len(os.listdir(f"{path}/data"))
    # replay BOTH epochs out of order — the at-least-once worst case
    writer(e1, 1)
    writer(e0, 0)
    assert len(os.listdir(f"{path}/data")) == n_files
    got = sorted(
        r["id"] for r in stats_pruned_scan(spark, path, {"v": (None, None)}).collect()
    )
    want = sorted(
        r["id"] for r in base.unionByName(e0).unionByName(e1).collect()
    )
    assert got == want


@pytest.mark.slow
def test_streaming_cdc_stats_merge_replay(spark, tmp_path):
    """foreachBatch is at-least-once per epoch; the CDC stats-merge
    writer keys stats_merge by the epoch id, so a replayed epoch must
    short-circuit on its committed record: same commit-log height, no
    re-applied changes, and the layout equals the in-order fold of the
    change feed (insert epoch, then update, then delete)."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.operators.layout import (
        _list_commits,
        stats_pruned_scan,
        write_stats_layout,
    )
    from data_pipeline_csv_spark.streaming import cdc_stats_merge_writer

    cols = ["k", "val"]
    path = str(tmp_path / "cdcm")
    base = spark.range(0).select(F.col("id").alias("k"), F.col("id").alias("val"))
    write_stats_layout(base, path, ["k"], n_files=1)

    def feed(rows):
        return spark.createDataFrame(rows, "k long, val long, seq long, op string")

    writer = cdc_stats_merge_writer(spark, path, "k", cols)
    e0 = feed([(i, i * 10, 1, "I") for i in range(50)])
    e1 = feed([(i, i * 100, 2, "U") for i in range(0, 50, 5)])
    e2 = feed([(i, 0, 3, "D") for i in range(0, 50, 7)])
    writer(e0, 0)
    writer(e1, 1)
    writer(e2, 2)
    commits = _list_commits(path)
    n_files = len(os.listdir(f"{path}/data"))

    # replay all three epochs out of order — the at-least-once worst
    # case: every one must be a committed-record no-op
    writer(e2, 2)
    writer(e0, 0)
    writer(e1, 1)
    assert _list_commits(path) == commits
    assert len(os.listdir(f"{path}/data")) == n_files

    got = {
        r["k"]: r["val"]
        for r in stats_pruned_scan(spark, path, {"k": (None, None)}).collect()
    }
    want = {i: (i * 100 if i % 5 == 0 else i * 10) for i in range(50) if i % 7 != 0}
    assert got == want

@pytest.mark.slow
def test_streaming_ivf_ingest_epoch_replay_is_noop(spark, tmp_path):
    """The IVF twin of the stats-ingest replay test (r14): foreachBatch
    is at-least-once per epoch; the IVF ingest writer keys ivf_append
    by the epoch id, so a replayed epoch must short-circuit on its
    commit record — same file set, no duplicate vec_ids, the scan
    stays equal to base + feed, and the collected drift reports mark
    replays as such (the owner's retrain signal is never
    double-counted)."""
    import os

    from data_pipeline_csv_spark.operators.similarity import (
        ivf_scan,
        write_ivf_layout,
    )
    from data_pipeline_csv_spark.streaming import ivf_ingest_writer

    def _corpus(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "c_id long, c_emb array<double>",
    )
    base = _corpus(
        [(1, [0.9, 0.1, 0.0]), (2, [0.8, 0.2, 0.1]),
         (3, [0.1, 0.9, 0.0]), (4, [0.0, 0.8, 0.2]),
         (5, [0.1, 0.0, 0.9]), (6, [0.0, 0.2, 0.8])]
    )
    layout = str(tmp_path / "ivf_ingest")
    write_ivf_layout(base, cents, layout)

    e0 = _corpus([(10, [0.85, 0.15, 0.0]), (11, [0.0, 0.9, 0.1])])
    e1 = _corpus([(20, [0.1, 0.1, 0.9]), (21, [0.9, 0.0, 0.1])])
    reports = []
    writer = ivf_ingest_writer(layout, reports=reports)
    writer(e0, 0)
    writer(e1, 1)
    n_files = len(
        [f for f in os.listdir(f"{layout}/data") if f.endswith(".parquet")]
    )
    # replay BOTH epochs out of order — the at-least-once worst case
    writer(e1, 1)
    writer(e0, 0)
    assert (
        len([f for f in os.listdir(f"{layout}/data") if f.endswith(".parquet")])
        == n_files
    )
    got = sorted(r["vec_id"] for r in ivf_scan(spark, layout).collect())
    assert got == [1, 2, 3, 4, 5, 6, 10, 11, 20, 21]
    assert [r["replayed"] for r in reports] == [False, False, True, True]
    assert [r["epoch"] for r in reports] == [0, 1, 1, 0]
    # a replayed epoch returns its recorded report, not a recount
    first = {r["epoch"]: r["n_appended"] for r in reports[:2]}
    for r in reports[2:]:
        assert r["n_appended"] == first[r["epoch"]]
