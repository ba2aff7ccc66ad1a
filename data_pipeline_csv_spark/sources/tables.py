"""Parquet table sources for the driver's TPC-H-ish testdata.

Each table is one parquet file under ``{sf_dir}/{name}.parquet``
(see TESTDATA.md). Reads are lazy; Catalyst pushes filters and prunes
columns into the scan, so callers should select/filter on the returned
DataFrame rather than pre-materializing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def _spark_hidden(name: str) -> bool:
    """Whether Spark's file listing skips a file or directory of this
    name: ``_``-prefixed ones (``_SUCCESS``, ``_temporary/``) unless
    they name a partition (``_p=1``), ``.``-prefixed ones (``.crc``
    checksums) and in-flight ``._COPYING_`` copies."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def spark_listed_files(path: str):
    """The files Spark's listing of the directory ``path`` reads: every
    file under it, ``col=value/`` partition dirs included, except
    hidden files and directories (``_spark_hidden``) and zero-byte
    files, which Spark skips too."""
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not _spark_hidden(d)]
        for f in files:
            full = os.path.join(root, f)
            if not _spark_hidden(f) and os.path.getsize(full):
                yield full


def parquet_num_rows(path: str) -> int:
    """``spark.read.parquet(path).count()`` without a Spark job: the sum
    of the footer ``num_rows`` of exactly the files Spark's listing
    reads (``spark_listed_files``). Spark's own count reads only
    row-group metadata too, but costs two jobs.

    For unfiltered counts of parquet the engine wrote: the dashboard's
    ``stats()``, a staged rewrite's verification, and sizing decisions
    made at query-construction time (e.g. the IVF default centroid
    stride). Raises ``OSError`` for a path that cannot be listed
    locally."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return pq.read_metadata(path).num_rows if os.path.getsize(path) else 0
    return sum(pq.read_metadata(f).num_rows for f in spark_listed_files(path))


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


# Inferred Spark schema per parquet or CSV file version: a read without
# an explicit schema runs inference JOBS on every call (parquet footers;
# a CSV header plus, with inference, a full scan). read_parquet_cached and
# sources/csv.py::read_csv infer once per version, then pass .schema(...)
# (job budgets: tests/test_plans.py, tests/test_similarity.py).
#
# key -> (parquet_fingerprint, schema); the key is a parquet path, or
# (path, header, infer_schema) for a CSV. Two threads that miss on one
# key both infer it, and the entry keeps the later schema.
_SCHEMA_CACHE: dict = {}


def parquet_fingerprint(path: str) -> tuple:
    """A key for the contents of a parquet or CSV file or directory that
    changes on EVERY rewrite, so it is never a timestamp alone: a path
    rewritten within the filesystem's mtime resolution (or given its
    old mtime back) keeps its mtime, and a timestamp key then serves
    state derived from the old files. A plain file's fingerprint is
    its (mtime_ns, ctime_ns, size): ``os.utime`` can set the mtime
    back but not the ctime, so an in-place rewrite at the same size
    (or a ``chmod``) still changes it. A directory's fingerprint is
    the listing of every file under it, each as (relative name,
    mtime_ns, ctime_ns, size); Spark names every part file with a
    per-write UUID, so a Spark rewrite always changes the listing.
    Raises ``OSError`` for a path that cannot be listed locally."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_ctime_ns, st.st_size)
    listing = []
    for root, _dirs, files in os.walk(path, followlinks=True):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            listing.append(
                (os.path.relpath(full, path), st.st_mtime_ns, st.st_ctime_ns, st.st_size)
            )
    return tuple(sorted(listing))


def _read_cached(reader, key, path: str, read) -> DataFrame:
    """``read(reader)``, which infers the schema, on the first call per
    version of ``path`` (its schema is stored under ``key``, unless it
    raises), and ``read(reader.schema(stored))`` after that. A path that
    cannot be listed locally is read with inference on every call."""
    try:
        fingerprint = parquet_fingerprint(path)
    except OSError:
        return read(reader)
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == fingerprint:
        return read(reader.schema(hit[1]))
    df = read(reader)
    _SCHEMA_CACHE[key] = (fingerprint, df.schema)
    return df


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs the schema-inference job
    only on the first read of each version of ``path``."""
    return _read_cached(spark.read, path, path, lambda r: r.parquet(path))


def parquet_schema_cached(spark: SparkSession, path: str) -> StructType:
    """``read_parquet_cached(spark, path).schema``, except that a cache
    hit builds no DataFrame."""
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == parquet_fingerprint(path):
        return hit[1]
    return read_parquet_cached(spark, path).schema


def table_version(sf_dir: str, name: str) -> tuple:
    """``(path, parquet_fingerprint(path))`` of testdata table ``name``:
    the prefix of every build-once key derived from the table, so one
    rewritten in place is never served artifacts built from the old file."""
    path = f"{sf_dir}/{name}.parquet"
    return (path, parquet_fingerprint(path))


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
            df = read_parquet_cached(spark, path)
        except Exception:
            # The footer probe is best-effort (it can miss on exotic
            # layouts or pyarrow errors). A NANOS file read without the
            # legacy conf fails deterministically at schema resolution,
            # so one retry with the conf set recovers exactly that case.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = read_parquet_cached(spark, path)
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
    return read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
