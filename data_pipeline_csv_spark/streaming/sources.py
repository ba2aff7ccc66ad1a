"""Streaming sources over the driver's ``events`` table.

The file source is the production pattern: a directory that upstream
writers append parquet files into, consumed incrementally (each new
file becomes one or more input partitions). ``stage_events_dir``
materializes the batch events table into such a directory — in
ts-order so replay order matches event-time order, which makes
arrival-order semantics (keep-first dedup) deterministic and
comparable to the batch twins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def stage_events_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> str:
    """Write events as ``n_files`` ts-ordered parquet files under out_dir.

    ``sortWithinPartitions`` after a range-partition on ts keeps the
    global ts-order across files (file N's max ts <= file N+1's min),
    so a maxFilesPerTrigger=1 replay delivers events in event-time
    order — the property watermark tests rely on.
    """
    events = load_table(spark, sf_dir, "events")
    (
        events.repartitionByRange(n_files, F.col("ts"), F.col("event_id"))
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _stamp_mtimes_in_part_order(out_dir)
    return out_dir


def _stamp_mtimes_in_part_order(out_dir: str) -> None:
    """The file source replays in modification-time order, but parallel
    write tasks finish in arbitrary order — stamp strictly increasing
    mtimes in part-number order (range partition 0 = lowest key range)
    so replay order == key order."""
    import time

    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time() - len(parts) * 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(out_dir, f), (base + i * 10, base + i * 10))


def stage_docs_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> str:
    """Write documents as ``n_files`` id-ordered parquet files — the
    arriving-corpus feed for continuous dedup (file N's max doc_id <
    file N+1's min, so each micro-batch's ids exceed everything already
    indexed)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    (
        docs.repartitionByRange(n_files, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _stamp_mtimes_in_part_order(out_dir)
    return out_dir


def stage_changes_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 3
) -> str:
    """Write the orders-derived I/U/D change log
    (operators/cdc.synthetic_change_feed) as ``n_files`` seq-ordered
    parquet files — a time-ordered change feed (file N's max seq <=
    file N+1's min), though the streaming upsert's correctness does
    not depend on the split (cdc_upsert_writer keeps tombstones
    precisely so ANY epoch split folds to the same snapshot)."""
    from ..operators.cdc import synthetic_change_feed

    changes = synthetic_change_feed(load_table(spark, sf_dir, "orders"))
    (
        changes.repartitionByRange(n_files, F.col("seq"), F.col("o_orderkey"))
        .sortWithinPartitions("seq", "o_orderkey")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _stamp_mtimes_in_part_order(out_dir)
    return out_dir


def read_docs_stream(
    spark: SparkSession,
    staged_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Incremental parquet file source over a staged documents dir."""
    schema = spark.read.parquet(staged_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )


def read_events_stream(
    spark: SparkSession,
    staged_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Incremental parquet file source over a staged events directory."""
    schema = spark.read.parquet(staged_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )


def rate_events_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic unbounded event stream from the built-in rate source.

    Shapes rate rows into the events schema (event_id, user_id,
    event_type, ts, value) for soak/demo runs where no file feed
    exists. Deterministic given the row index.
    """
    types = F.array(*[F.lit(t) for t in ("click", "view", "purchase", "signup", "error")])
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("value").alias("event_id"),
            (F.col("value") % 1000).alias("user_id"),
            types.getItem((F.col("value") % 5).cast("int")).alias("event_type"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 97 / 7.0).alias("value"),
        )
    )
