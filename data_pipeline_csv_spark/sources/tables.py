"""Parquet table sources for the driver's TPC-H-ish testdata.

Each table is one parquet file under ``{sf_dir}/{name}.parquet``
(see TESTDATA.md). Reads are lazy; Catalyst pushes filters and prunes
columns into the scan, so callers should select/filter on the returned
DataFrame rather than pre-materializing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5 rows, nation=25 rows regardless of SF; supplier/part
# grow slowly). Fact tables shuffle on their join keys.
BROADCASTABLE = {"region", "nation", "supplier", "part", "customer"}


def balanced(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Redistribute a scan whose input layout starves the cluster.

    Parquet scan parallelism is bounded by row groups; a source laid
    out as few huge row groups (or one file per table, as the driver's
    testdata is) pins the whole scan->partial-agg pipeline to a handful
    of tasks no matter how many cores exist. When the scan yields fewer
    partitions than ``defaultParallelism``, a round-robin repartition
    spreads the downstream work; when the layout is already parallel
    (any real 100 TB table: thousands of files x 128 MB row groups)
    this is a no-op costing one partition-count check.

    Filters/pruning still reach the scan: Catalyst pushes predicates
    and column pruning through Repartition nodes.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def table_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — no Spark job, no
    data scan (footers carry per-row-group counts). The cheap
    cardinality source for sizing decisions made at query-CONSTRUCTION
    time (e.g. the IVF default centroid stride), where triggering an
    eager full-table count would be an extra scan per call.
    """
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows


def _events_ts_is_nanos(path: str) -> bool:
    """Peek the parquet footer: is events.ts physical TIMESTAMP(NANOS)?

    Read via pyarrow so the legacy ``nanosAsLong`` conf is only set on
    the caller's session when the file actually needs it (a MICROS/NTZ
    file reads fine without it, and the conf must stay set for the whole
    life of the returned lazy DataFrame, so set-and-restore is unsafe).
    Directories are walked recursively (partitioned/nested datasets put
    their first footer under subdirectories); a probe failure returns
    False and ``load_table`` falls back to retrying the Spark read with
    the conf set.
    """
    import os

    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(p):
        inner = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )
        if not inner:
            return False
        p = inner[0]
    try:
        t = pq.read_schema(p).field("ts").type
    except Exception:
        return False
    return getattr(t, "unit", None) == "ns"


# Inferred Spark schema per parquet path: spark.read.parquet without an
# explicit schema runs a footer/schema-inference JOB on every call, so
# each query construction would pay one tiny cluster round-trip per
# table read. Inferring once and passing .schema(...) afterwards makes
# repeat query construction job-free (asserted in
# tests/test_similarity.py::test_ann_query_construction_runs_no_job).
# Keyed by (path, mtime) so a rewrite at the same path within a
# long-lived process invalidates naturally.
_SCHEMA_CACHE: dict = {}


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    import os

    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = (path, None)
    cached = _SCHEMA_CACHE.get(key)
    reader = spark.read if cached is None else spark.read.schema(cached)
    df = reader.parquet(path)
    if cached is None:
        _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table lazily (schema-cached, see above).

    SESSION-LEVEL SIDE EFFECT — ``load_table(..., "events")`` pins
    ``spark.sql.session.timeZone`` to UTC for the REST of the session
    (and sets the legacy ``nanosAsLong`` conf when the file needs it).
    UTC field-extraction semantics are the engine's contract
    (session.py pins engine-owned sessions); the pin here extends that
    contract to driver-owned sessions, but it also changes the
    rendering of timestamp field extraction in any unrelated query the
    same session runs later. It cannot be save-and-restored: the
    returned DataFrame is lazy and resolves the conf at action time.
    """
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which the
        # Spark reader rejects -> read as long ns via the legacy conf and
        # truncate to micros, exactly as DuckDB coerces TIMESTAMP_NS) and
        # as TIMESTAMP(MICROS) isAdjustedToUTC=false (which Spark 4 reads
        # as TIMESTAMP_NTZ). Normalize both to TIMESTAMP holding the
        # wall-clock value AS a UTC instant, via tz-free epoch-micros
        # arithmetic (timestampdiff on NTZ / integer div on the long ns).
        # Timezone scope: the epoch arithmetic itself (unix_micros,
        # window()) is session-tz-independent, but ts lands as
        # TIMESTAMP_LTZ, so FIELD-EXTRACTION expressions downstream
        # (date_trunc('hour'/'day'), hour(), to_date()) render in the
        # session timezone and would diverge from the tz-naive DuckDB
        # oracle on a non-UTC session. UTC session time is the engine's
        # semantic contract (session.py pins it for engine-owned
        # sessions); pin it here too so driver-owned sessions get the
        # same semantics. Like nanosAsLong below, the conf must outlive
        # this call — the returned DataFrame is lazy and resolves these
        # settings at action time, so set-and-restore would corrupt it.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        path = f"{sf_dir}/{name}.parquet"
        if _events_ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = _read_parquet_cached(spark, path)
        except Exception:
            # The footer probe is best-effort (it can miss on exotic
            # layouts or pyarrow errors). A NANOS file read without the
            # legacy conf fails deterministically at schema resolution,
            # so one retry with the conf set recovers exactly that case.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _read_parquet_cached(spark, path)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND,"
                        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    )
                ),
            )
        return df
    return _read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
