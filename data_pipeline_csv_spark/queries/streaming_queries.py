"""Structured Streaming pipelines registered in the driver contract.

Each query stages the events table as a ts-ordered file feed, runs the
UNBOUNDED pipeline (watermarks, windowed state, incremental triggers)
to exhaustion, and returns the final result — so the driver's oracle
literally checks that incremental streaming execution converges to the
batch-SQL answer on the same data. n_users_approx (HLL state) is the
one column excluded: approximate by construction.

No query caches its result. A returned DataFrame that reads drained
state (a generation snapshot, a layout, the near-dup pairs) plans over
files in an ``artifacts.scratch_dir``, which lives until interpreter
exit, so the caller's later collect still finds them; the staged feed
is deleted on return.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..artifacts import scratch_dir
from ..streaming import (
    hourly_rollup_stream,
    read_events_stream,
    run_to_memory,
    session_window_stream,
    stage_events_dir,
    stream_dedup_within_watermark,
)
from .canon import VALUE_SCALE, fp_sql
from .dedup import _EXACT_PAIRS_SQL
from .registry import query
from .sketches import CMS_AUDIT_ORACLE


def _staged_run(spark: SparkSession, sf_dir: str, build, output_mode: str) -> DataFrame:
    staged = tempfile.mkdtemp(prefix="sg_stream_")
    try:
        stage_events_dir(spark, sf_dir, staged, n_files=4)
        stream = build(read_events_stream(spark, staged))
        return run_to_memory(stream, spark, output_mode=output_mode)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_hourly_rollup",
    oracle=f"""
    SELECT
      date_trunc('hour', ts) AS bucket,
      event_type,
      COUNT(*) AS n_events,
      {fp_sql("value", VALUE_SCALE)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window streaming aggregation drained to its "
    "final state — incremental execution must converge to the batch "
    "GROUP BY (streaming/pipelines.py hourly_rollup_stream).",
    tags=("streaming", "window", "watermark"),
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _staged_run(spark, sf_dir, hourly_rollup_stream, "update")
    w = W.partitionBy("bucket", "event_type").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("bucket", "event_type", "n_events", "sum_value")
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT
        user_id, event_id, ts,
        -- session_window's end bound is EXCLUSIVE: a gap of exactly
        -- the 1800 s threshold starts a new session, hence >= here
        -- (the batch events_sessionize query uses strict >).
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
               OR LAG(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_seq, COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_seq
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM sessions GROUP BY user_id
    """,
    doc="Native session_window streaming aggregation (30 min gap, append "
    "mode, watermark-flushed by a far-future sentinel) — per-user "
    "session count/volume must converge to the batch gap-sessionize SQL.",
    tags=("streaming", "session", "watermark"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = tempfile.mkdtemp(prefix="sg_stream_")
    try:
        stage_events_dir(spark, sf_dir, staged, n_files=4)
        # Append mode emits a session only once the watermark passes its
        # end; a sentinel event 10 days out flushes every real session.
        staged_df = spark.read.parquet(staged)
        max_ts = staged_df.agg(F.max("ts")).collect()[0][0]
        sentinel = (
            staged_df.limit(1)
            .withColumn("user_id", F.lit(-1).cast(staged_df.schema["user_id"].dataType))
            .withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 10 DAYS"))
        )
        sentinel.coalesce(1).write.mode("append").parquet(staged)
        stream = session_window_stream(read_events_stream(spark, staged), gap="30 minutes")
        out = run_to_memory(stream, spark, output_mode="append")
        out = (
            out.filter(F.col("user_id") >= 0)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum("n_events").alias("total_events"),
            )
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_dedup_event_ids",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    doc="dropDuplicatesWithinWatermark over the event feed: event_id is "
    "unique in this data, so bounded-state streaming dedup must return "
    "every row exactly once.",
    tags=("streaming", "dedup", "watermark"),
)
def streaming_dedup_event_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _staged_run(spark, sf_dir, stream_dedup_within_watermark, "append")
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "streaming_attribution_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           p.ts AS purchase_ts,
           COUNT(*) AS n_clicks,
           MAX(c.ts) AS last_click_ts
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
    doc="Stream-stream interval join (purchase attribution): the click "
    "and purchase streams are joined on user within a 1-hour horizon; "
    "watermarks plus the two-sided time bound make both join-state "
    "buffers evictable, so the drained unbounded join must equal the "
    "batch interval self-join (streaming/pipelines.py "
    "attribution_join_stream).",
    tags=("streaming", "join", "interval", "watermark"),
)
def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import attribution_join_stream

    staged = tempfile.mkdtemp(prefix="sg_stream_")
    try:
        stage_events_dir(spark, sf_dir, staged, n_files=4)
        ev = read_events_stream(spark, staged)
        joined = attribution_join_stream(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
            horizon="1 hour",
        )
        out = run_to_memory(joined, spark, output_mode="append")
        out = out.groupBy(
            F.col("purchase_id"),
            F.col("purchase_user").alias("user_id"),
            F.col("purchase_ts"),
        ).agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.max("click_ts").alias("last_click_ts"),
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_enriched_rollup",
    oracle=f"""
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n_events,
           {fp_sql("value", VALUE_SCALE)} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment: each micro-batch broadcast-joins the "
    "static customer dim (no join state), then a keyed aggregation "
    "maintains exact fixed-point sums per (segment, event_type) — the "
    "drained stream must equal the batch join+GROUP BY "
    "(streaming/pipelines.py enriched_rollup_stream).",
    tags=("streaming", "join", "enrichment"),
)
def streaming_enriched_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table
    from ..streaming import enriched_rollup_stream

    dim = load_table(spark, sf_dir, "customer")
    out = _staged_run(
        spark, sf_dir, lambda ev: enriched_rollup_stream(ev, dim), "update"
    )
    # update mode re-emits a key on every epoch; the final state is the
    # row with the largest running count.
    w = W.partitionBy("c_mktsegment", "event_type").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("c_mktsegment", "event_type", "n_events", "sum_value")
    )


@query(
    "streaming_incremental_mv",
    oracle=f"""
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {fp_sql('value', VALUE_SCALE)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming incremental MV refresh: the staged event feed "
    "drains through foreachBatch in 4 epochs; each epoch aggregates "
    "its micro-batch into mergeable fixed-point state and merges into "
    "a generation-swapped parquet MV with an epoch-replay guard "
    "(streaming/sinks.py state_merge_writer). The oracle is the "
    "full-table GROUP BY: four independent incremental merges land "
    "bit-identical to one batch recompute — the streaming twin of "
    "incremental_mv_refresh. State is |keys| rows, so no watermark "
    "is needed to bound it.",
    tags=("streaming", "incremental", "mv", "foreachBatch"),
)
def streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F  # local: keep module imports minimal

    from ..operators.incremental import finalize_state
    from ..streaming.sinks import run_incremental_mv

    staged = tempfile.mkdtemp(prefix="sg_stream_")
    state = scratch_dir("mv_")
    try:
        stage_events_dir(spark, sf_dir, staged, n_files=4)
        stream = read_events_stream(spark, staged).select(
            "event_type", F.col("ts").cast("date").alias("day"), "value"
        )
        raw = run_incremental_mv(
            stream,
            spark,
            state_root=state,
            checkpoint=f"{state}/_chk",
            keys=["event_type", "day"],
            sums={"sum_value": (F.col("value"), VALUE_SCALE)},
        )
        out = finalize_state(raw, sums={"sum_value": VALUE_SCALE}).select(
            "event_type", "day", F.col("n_rows").cast("bigint").alias("n_events"), "sum_value"
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_cdc_upsert",
    # Same oracle as the batch cdc_merge_snapshot: the drained upsert
    # state must equal the one-shot merge of the full change log.
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'I' AS op
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice, 2 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 3 AS seq, 'D' AS op
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderkey) AS nv
      FROM changes
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(seq AS BIGINT) AS version,
           CAST(nv AS BIGINT) AS n_versions
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="Streaming CDC upsert (the streaming MERGE INTO): the staged "
    "seq-ordered I/U/D change feed drains through foreachBatch; each "
    "epoch folds its micro-batch into a keyed snapshot state with the "
    "batch merge's winner window, keeping delete TOMBSTONES in state "
    "(filtered at read) so no epoch split can resurrect a deleted key, "
    "committed via the generation + atomic-symlink + epoch-marker "
    "protocol (replays short-circuit). State is |keys| rows, no "
    "watermark. The drained snapshot must equal the one-shot batch "
    "merge — the oracle is cdc_merge_snapshot's "
    "(streaming/sinks.py cdc_upsert_writer / run_streaming_cdc_merge).",
    tags=("streaming", "cdc", "merge", "upsert", "foreachBatch"),
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming import run_streaming_cdc_merge, stage_changes_dir
    from ..streaming.sources import read_events_stream

    staged = tempfile.mkdtemp(prefix="sg_stream_")
    state = scratch_dir("cdc_")
    try:
        stage_changes_dir(spark, sf_dir, staged, n_files=3)
        stream = read_events_stream(spark, staged)  # generic staged reader
        snap = run_streaming_cdc_merge(
            stream, spark, state_root=state, checkpoint=f"{state}/_chk",
            keys=["o_orderkey"],
        )
        out = snap.select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("seq").cast("bigint").alias("version"),
            F.col("n_versions").cast("bigint").alias("n_versions"),
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_heavy_hitters",
    # The batch CMS oracle verbatim (queries/sketches.py): Count-Min
    # counters are ADDITIVE, so the per-epoch streaming fold of
    # (j, b) partial counts through the generation-committed MV state
    # is bit-identical to the one-shot batch counter matrix — the
    # strongest possible check for a stateful streaming sketch.
    oracle=CMS_AUDIT_ORACLE,
    doc="Streaming heavy hitters: the staged document feed drains "
    "through foreachBatch in 4 epochs; each epoch maps its "
    "micro-batch to (j, b) Count-Min coordinates (map-side d-way "
    "posexplode) and folds partial counts into the generation-"
    "committed keyed state (state_merge_writer — |state| <= d*w = "
    "4096 rows however long the stream runs, no watermark needed). "
    "The drained counters feed the same exact-top-20 audit as the "
    "batch sketch_heavy_hitters_cms, under the SAME full value "
    "oracle: additive counters make streaming and batch matrices "
    "bit-identical (operators/cms.py, streaming/sinks.py).",
    tags=("streaming", "sketch", "cms", "foreachBatch", "scale"),
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text_funcs import tokens
    from ..operators.cms import _bucket, cms_estimate_topk
    from ..sources.tables import balanced, load_table
    from ..streaming.sinks import run_incremental_mv
    from ..streaming.sources import read_docs_stream, stage_docs_dir

    d, w, k = 4, 1024, 20
    staged = tempfile.mkdtemp(prefix="sg_stream_")
    state = scratch_dir("cms_")
    try:
        stage_docs_dir(spark, sf_dir, staged, n_files=4)
        arr = F.array(*[_bucket(F.col("t"), j, w) for j in range(d)])
        stream = (
            read_docs_stream(spark, staged)
            .select(F.explode(tokens("text")).alias("t"))
            .select(F.posexplode(arr).alias("j", "b"))
        )
        raw = run_incremental_mv(
            stream,
            spark,
            state_root=state,
            checkpoint=f"{state}/_chk",
            keys=["j", "b"],
            sums={},
        )
        sketch = raw.select("j", "b", F.col("n_rows").alias("c"))
        docs = balanced(spark, load_table(spark, sf_dir, "documents"))
        tok = docs.select(F.explode(tokens("text")).alias("t"))
        out = cms_estimate_topk(sketch, tok, "t", k, d, w)
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_dedup_neardup",
    # Same exact-pairs oracle as dedup_minhash_lsh: within-batch LSH +
    # index-probed cross pairs partition every pair by the batch of its
    # later side, so the drained accumulation equals one-shot LSH over
    # the full corpus (which equals the exact pair join — see
    # queries/dedup.py for the equivalence argument).
    oracle=_EXACT_PAIRS_SQL,
    doc="Continuous near-dup dedup of an arriving document corpus: the "
    "id-ordered staged feed drains through foreachBatch; each epoch "
    "dedups WITHIN its batch (full MinHash-LSH) and AGAINST all "
    "previously seen docs via the accumulated, batch-keyed LSH index "
    "(signature work O(batch) per epoch), with idempotent epoch "
    "writes. The drained pair set must equal the one-shot batch LSH "
    "over the whole corpus (streaming/sinks.py run_streaming_neardup).",
    tags=("streaming", "dedup", "minhash", "incremental"),
)
def streaming_dedup_neardup(
    spark: SparkSession, sf_dir: str, phase_timings: dict | None = None
) -> DataFrame:
    from ..streaming import read_docs_stream, run_streaming_neardup, stage_docs_dir

    staged = tempfile.mkdtemp(prefix="sg_stream_")
    state = scratch_dir("nd_")
    try:
        stage_docs_dir(spark, sf_dir, staged, n_files=4)
        stream = read_docs_stream(spark, staged)
        # epoch_partitions=4: the staged feed's micro-batches are far
        # below one 128 MB file each; unbounded they'd fan into the
        # session's 32 shuffle partitions of tiny files per state dir.
        # compact_every=3: epoch 3 folds epochs 0-2 into the bucketed
        # index table IN-STREAM, so the registered query drives the
        # bounded-state path a long-running feed depends on (the
        # drained pairs are unchanged — test_neardup_state.py proves
        # compaction equivalence and replay safety).
        out = run_streaming_neardup(
            stream, spark, state_root=state, checkpoint=f"{state}/_chk",
            threshold=0.8, epoch_partitions=4, compact_every=3,
            index_table="sg_neardup_stream_idx_q",
            phase_timings=phase_timings,
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)



from .sketches import _KMV_K, _KMV_NUM, _KMV_T60, _kmv_h  # noqa: E402


@query(
    "streaming_distinct_kmv",
    # FULL value oracle, same contract as the batch sketch_kmv_setops:
    # KMV is deterministic by construction (md5-derived 60-bit hashes),
    # and its merge rule is a set union — so the drained streaming fold
    # is bit-identical to the one-shot batch sketch for ANY epoch split
    # of the feed, and DuckDB replays the sketch and the estimate
    # bit-for-bit. (DISTINCT is on the hash: the sketch state is a hash
    # set; 60-bit md5 collisions on bigint keys are ~n^2/2^61.)
    oracle=f"""
    WITH s AS (
      SELECT DISTINCT {_kmv_h('user_id')} AS h FROM events
      ORDER BY h LIMIT {_KMV_K}
    )
    SELECT CAST({_KMV_K} AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(h) AS BIGINT) AS theta,
           CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                ELSE {_KMV_NUM} / CAST(MAX(h) AS DOUBLE) END AS est_distinct
    FROM s
    """,
    doc="Streaming distinct-user KMV/theta sketch: the staged event feed "
    "drains through foreachBatch in 4 epochs; each epoch hashes its "
    "micro-batch's user ids, unions with the <=k-row generation-"
    "committed state and keeps the k smallest (KMV's merge rule IS set "
    "union, so the drained sketch is bit-identical to the one-shot "
    "batch build for any epoch split — streaming/sinks.py "
    "kmv_state_writer). State is <=128 rows forever, no watermark; the "
    "final estimate replays the batch estimator exactly. At sf0.001 "
    "the feed has <k distinct users, exercising the exact small-set "
    "branch end to end (operators/kmv.py).",
    tags=("streaming", "sketch", "kmv", "theta", "foreachBatch", "scale"),
)
def streaming_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, run_streaming_kmv, stage_events_dir

    staged = tempfile.mkdtemp(prefix="sg_stream_")
    state = scratch_dir("kmv_")
    try:
        stage_events_dir(spark, sf_dir, staged, n_files=4)
        stream = read_events_stream(spark, staged).select("user_id")
        sketch = run_streaming_kmv(
            stream, spark, state_root=state, checkpoint=f"{state}/_chk",
            key_col="user_id", k=_KMV_K,
        )
        out = sketch.agg(
            F.count(F.lit(1)).alias("_n"), F.max("h").alias("_th")
        ).select(
            F.lit(_KMV_K).cast("int").alias("k"),
            F.col("_n").cast("bigint").alias("n"),
            F.col("_th").cast("bigint").alias("theta"),
            F.when(F.col("_n") < _KMV_K, F.col("_n").cast("double"))
            .otherwise(F.lit(float((_KMV_K - 1) * (1 << 60))) / F.col("_th").cast("double"))
            .alias("est_distinct"),
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_stats_ingest",
    # Same FULL value oracle as the batch stats-layout scans: the
    # drained layout's 3-month scan must equal the plain whole-table
    # filter — a dropped epoch returns fewer rows, a double-applied
    # replay returns duplicates, either diverges the hash.
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <= TIMESTAMP '1996-05-31'
    """,
    doc="STREAMING stats-layout ingest — the streaming twin of "
    "layout_stats_appended_scan, completing the pairing the KMV/CMS/"
    "CDC/near-dup state writers established: a 3-file feed of the "
    "remaining 20% of lineitem drains through foreachBatch, each "
    "epoch folding into the standing manifest layout via stats_append "
    "keyed by the EPOCH ID — foreachBatch's at-least-once retry hits "
    "the append's committed-replay short-circuit, so ingestion is "
    "exactly-once WITHOUT any extra state machinery (the layout's "
    "batch protocol is already a commit log), and an epoch becomes "
    "visible atomically when its manifest part lands (readers plan "
    "from the manifest; a crash mid-epoch leaves the exact pre-epoch "
    "table). The drained layout serves the same 3-month pruned scan "
    "as the batch entries; the oracle is the whole-table filter — the "
    "exactly-once proof (streaming/sinks.py stats_ingest_writer; "
    "replay idempotency pinned by tests/test_streaming.py::"
    "test_streaming_stats_ingest_epoch_replay_is_noop).",
    tags=("streaming", "layout", "skipping", "incremental", "scale"),
)
def streaming_stats_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime

    from ..operators.layout import stats_pruned_scan, write_stats_layout
    from ..sources.tables import load_table
    from ..streaming import run_streaming_stats_ingest

    staged = tempfile.mkdtemp(prefix="sg_stream_")
    layout = scratch_dir("skipstream_")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_quantity"
        )
        base = li.filter(F.col("l_orderkey") % 5 != 0)
        feed = li.filter(F.col("l_orderkey") % 5 == 0)
        write_stats_layout(base, layout, ["l_shipdate", "l_extendedprice"], n_files=16)
        (
            feed.repartitionByRange(3, F.col("l_orderkey"))
            .write.mode("overwrite")
            .parquet(staged)
        )
        stream = read_events_stream(spark, staged)  # generic staged reader
        run_streaming_stats_ingest(
            stream, spark, layout_path=layout, checkpoint=f"{staged}/_chk"
        )
        out = stats_pruned_scan(
            spark,
            layout,
            {"l_shipdate": (datetime(1996, 3, 1), datetime(1996, 5, 31))},
        ).select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_quantity"
        )
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "streaming_cdc_stats_merge",
    # The CDC merge oracle projected to the layout schema: the drained
    # layout must equal the one-shot batch merge of the full change
    # log — a dropped epoch loses changes, a double-applied replay
    # duplicates inserts, an unordered fold resurrects deletes; any of
    # them diverges the hash.
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'I' AS op
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice, 2 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 3 AS seq, 'D' AS op
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
      FROM changes
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="STREAMING CDC feed merged row-level into the stats layout "
    "(r12 VERDICT next #4) — the missing quadrant next to "
    "streaming_stats_ingest (append-only streaming) and "
    "streaming_cdc_upsert (CDC into dedicated snapshot state): the "
    "seq-ordered I/U/D change feed drains through foreachBatch; each "
    "epoch collapses to one winner per key and folds into the layout "
    "via stats_merge KEYED BY THE EPOCH ID, so at-least-once epoch "
    "retries hit the merge's committed-record / commit-log "
    "short-circuit — exactly-once through the layout's own CAS "
    "protocol, an epoch visible atomically at its commit. The layout "
    "starts EMPTY, so the stream exercises pure-insert, update-"
    "rewrite and delete epochs in turn; the final full scan must "
    "equal the one-shot batch merge (streaming/sinks.py "
    "cdc_stats_merge_writer; replay idempotency pinned by tests/"
    "test_streaming.py::test_streaming_cdc_stats_merge_replay).",
    tags=("streaming", "cdc", "merge", "layout", "foreachBatch", "scale"),
)
def streaming_cdc_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import stats_pruned_scan, write_stats_layout
    from ..sources.tables import load_table
    from ..streaming import (
        read_events_stream,
        run_streaming_cdc_stats_merge,
        stage_changes_dir,
    )

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    staged = tempfile.mkdtemp(prefix="sg_stream_")
    layout = scratch_dir("cdcmerge_")
    try:
        base = load_table(spark, sf_dir, "orders").select(*cols).limit(0)
        write_stats_layout(base, layout, ["o_orderkey"], n_files=1)
        stage_changes_dir(spark, sf_dir, staged, n_files=3)
        stream = read_events_stream(spark, staged)  # generic staged reader
        run_streaming_cdc_stats_merge(
            stream, spark, layout_path=layout, checkpoint=f"{staged}/_chk",
            key_col="o_orderkey", layout_cols=cols,
        )
        out = stats_pruned_scan(
            spark, layout, {"o_orderkey": (None, None)}
        ).select(*cols)
        return out
    finally:
        shutil.rmtree(staged, ignore_errors=True)
