"""Change-data-capture operators: a keyed change log (insert/update/
delete rows with a monotone sequence) folded into its latest snapshot
(the batch core of Delta/Iceberg's MERGE INTO) or expanded into a
type-2 slowly-changing-dimension history — each expressed as one
window.

Scale shape: a single hash shuffle on the merge key routes every
version of a key to one task; ``row_number`` picks the winner and a
same-window ``count`` rides the identical partitioning (no second
exchange — tests/test_plans.py pins one-Exchange plans elsewhere, same
idea). Skewed hot keys are bounded by version count, not corpus size,
so the window state stays small. At 100 TB the change log is
partitioned by ingest date and the merge runs per partition; the
operator itself is unchanged.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def merge_latest_snapshot(
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Latest surviving row per key from an I/U/D change log.

    The highest ``seq_col`` per key wins (ties broken by ``op_col``
    descending, making delete-vs-update collisions deterministic);
    keys whose winner is a delete vanish from the snapshot. Adds
    ``n_versions``, the change-log depth per key.
    """
    w = W.partitionBy(*keys).orderBy(F.col(seq_col).desc(), F.col(op_col).desc())
    wc = W.partitionBy(*keys)
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_versions", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") == 1)
        .filter(F.col(op_col) != delete_op)
        .drop("_rn")
    )


def synthetic_change_feed(orders: DataFrame) -> DataFrame:
    """The orders-derived I/U/D change log used by the CDC queries and
    the streaming-upsert feed (kept here so the batch query, the
    staged stream and the DuckDB oracle all describe the same log):
    every order INSERTs at seq 1, every 5th key UPDATEs its total
    price *1.1 at seq 2, every 7th key DELETEs at seq 3."""
    o = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    ins = o.withColumn("seq", F.lit(1)).withColumn("op", F.lit("I"))
    upd = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("seq", F.lit(2))
        .withColumn("op", F.lit("U"))
    )
    dels = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("seq", F.lit(3))
        .withColumn("op", F.lit("D"))
    )
    return ins.unionByName(upd).unionByName(dels)


def scd2_history(
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an I/U/D change
    log: one validity interval per non-delete change, closed by the
    NEXT change of the same key (updates supersede, deletes tombstone
    the final interval — so a deleted key has no current row).

    Adds ``valid_from`` (the change's own sequence), ``valid_to`` (the
    next change's sequence, null while open) and ``is_current``. Same
    scale shape as :func:`merge_latest_snapshot`: one hash shuffle on
    the key, per-key window state bounded by version count.
    """
    w = W.partitionBy(*keys).orderBy(F.col(seq_col).asc(), F.col(op_col).asc())
    return (
        changes.withColumn("valid_to", F.lead(seq_col).over(w))
        .filter(F.col(op_col) != delete_op)
        .withColumn("is_current", F.col("valid_to").isNull())
        .withColumnRenamed(seq_col, "valid_from")
        .drop(op_col)
    )


def snapshots_asof(
    changes: DataFrame,
    keys: Sequence[str],
    versions: Sequence[int],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Time-travel reads: the table snapshot AS OF each requested
    version, all reconstructed in ONE pass over the change log.

    Shape: build the type-2 validity intervals (one key shuffle, the
    scd2_history window), then join the handful of requested versions
    against ``valid_from <= v < valid_to`` — the version list is a
    literal few rows, so the interval join is a broadcast of the tiny
    side against the already-partitioned history; no per-version
    re-merge, no second pass over the log. Delta/Iceberg express this
    as VERSION AS OF; here it is the same algebra over an explicit
    change log.
    """
    hist = scd2_history(changes, keys, seq_col=seq_col, op_col=op_col)
    import pandas as pd

    vers = hist.sparkSession.createDataFrame(
        pd.DataFrame({"as_of": pd.Series([int(v) for v in versions], dtype="int64")}),
        "as_of: bigint",
    )
    cond = (F.col("valid_from") <= F.col("as_of")) & (
        F.col("valid_to").isNull() | (F.col("as_of") < F.col("valid_to"))
    )
    return hist.join(F.broadcast(vers), cond)
