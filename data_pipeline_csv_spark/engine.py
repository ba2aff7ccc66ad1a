"""The reference-parity pipeline engine: ingest -> clean -> load ->
preview/stats, rebuilt on lazy Spark plans.

Reference surface reproduced (SURVEY.md §2):

- T1 ``clean``: pandas ``df.dropna()`` — row survives iff NO column is
  null (reference src/transform.py:5-7). The reference's load-bearing
  quirk is preserved: on its own shipped dataset the all-null
  ``Message`` column makes the cleaned output EMPTY. ``subset`` /
  ``how`` expose the pandas-style escape hatch.
- T2 ``count``: run metrics (reference api.py:79,91).
- K1 ``load``: overwrite-whole-table sink (reference src/load.py:5-8,
  ``if_exists='replace'``). Native format is Parquet (columnar,
  splittable, predicate-pushdown-able) instead of SQLite's row store;
  an optional JDBC/SQLite sink gives literal parity when a sqlite
  JDBC driver is on the classpath.
- K2 ``write_csv``: header CSV sink (reference api.py:606).
- Q1-Q4 read path: table existence, preview(limit), full count,
  schema introspection (reference api.py:178-242).

Everything is lazy until ``load``/``preview``/``stats`` trigger an
action, so Catalyst fuses ingest+clean+write into one distributed job
— the reference materialized three full in-memory copies.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sources.csv import read_csv, read_csv_dir
from .sources.tables import read_parquet_cached


@dataclass
class LoadResult:
    table_path: str
    rows_written: int


def clear_managed_table(spark: SparkSession, table_name: str) -> None:
    """Drop a managed table AND its warehouse location.

    The default catalog is in-memory per process while the warehouse
    directory persists on disk, so a table created by a dead process
    leaves a location the new process's catalog doesn't know about —
    and ``saveAsTable`` then fails with LOCATION_ALREADY_EXISTS.
    Clearing both makes managed-table writes re-runnable across
    process restarts.

    DESTRUCTIVE by design — callers must not pass a table whose files
    back a DataFrame they still intend to evaluate. Default-database
    unqualified names only: Spark stores managed-table dirs lowercased
    and db-qualified tables under ``<db>.db/``, so a naive path join
    would miss (or hit the wrong) location.
    """
    from urllib.parse import urlparse

    if "." in table_name:
        raise ValueError(
            f"clear_managed_table: unqualified default-db name required, got {table_name!r}"
        )
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if wh:
        # managed-table dirs are the LOWERCASED table name
        shutil.rmtree(os.path.join(wh, table_name.lower()), ignore_errors=True)


class PipelineEngine:
    """CSV -> clean -> warehouse table, plus the preview/stats read path."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)

    # -- ingest (S1/S2 + JSONL/parquet extension) -----------------------
    def ingest(self, path: str, schema=None) -> DataFrame:
        """Dispatch on extension: CSV (reference parity), JSONL, parquet.
        Directories keep the reference's tolerant CSV-dir semantics."""
        if os.path.isdir(path):
            return read_csv_dir(self.spark, path)
        lower = path.lower()
        if lower.endswith((".json", ".jsonl", ".ndjson")):
            from .sources.formats import read_jsonl

            return read_jsonl(self.spark, path, schema=schema)
        if lower.endswith(".parquet"):
            from .sources.formats import read_parquet

            return read_parquet(self.spark, path)
        return read_csv(self.spark, path, schema=schema)

    # -- transform (T1) ------------------------------------------------
    @staticmethod
    def clean(df: DataFrame, how: str = "any", subset: list[str] | None = None) -> DataFrame:
        """pandas-dropna parity: drop rows with null in any column
        (default), or in a subset / only-all-null rows."""
        return df.na.drop(how=how, subset=subset)

    # -- sink (K1) -------------------------------------------------------
    def _table_path(self, table_name: str) -> str:
        return os.path.join(self.warehouse_dir, table_name)

    def _write_counted(
        self, df: DataFrame, table_name: str, partition_cols: list[str] | None = None
    ) -> LoadResult:
        """Overwrite ``table_name`` with ``df`` and report the rows
        written, counted by the write job itself.

        The count is an ``Observation`` attached as the LAST
        transformation before ``.write``: an observe node below an
        operator that re-runs its child (the sampling job of
        ``repartitionByRange``) would count those rows twice. No
        re-read of the written files, so no extra job.
        """
        path = self._table_path(table_name)
        rows = Observation()
        w = df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)
        return LoadResult(table_path=path, rows_written=rows.get["n"])

    def load(self, df: DataFrame, table_name: str) -> LoadResult:
        """Overwrite-whole-table load (reference `if_exists='replace'`).

        Column names with spaces (the reference dataset has `Unique ID`,
        `Geo Type Name`, ...) pass through verbatim — Spark 4's parquet
        writer accepts them (verified), so no escaping layer is needed.

        ``rows_written`` is counted inside the write job (an
        ``Observation`` on the written frame), so a load from a CSV
        directory is one job: the files' schemas were resolved at
        ingest, and nothing re-reads the table. An empty frame still
        writes the table with its schema and reports 0.
        """
        return self._write_counted(df, table_name)

    # -- scale-out sinks (beyond reference surface) ---------------------
    def write_partitioned(
        self, df: DataFrame, table_name: str, partition_cols: list[str]
    ) -> LoadResult:
        """Hive-partitioned parquet layout: ``.../col=value/part-*``.

        The 100 TB layout primitive — queries filtering on a partition
        column scan only matching directories (static + dynamic
        partition pruning). Pick columns with bounded cardinality
        (date, region), never a high-cardinality key: one directory
        per value.
        """
        return self._write_counted(df, table_name, partition_cols)

    def write_bucketed(
        self,
        df: DataFrame,
        table_name: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed + sorted managed table (``saveAsTable`` required —
        bucket metadata lives in the catalog, not the files).

        Two tables bucketed identically on their join key co-locate:
        Catalyst drops the shuffle AND the sort from a sort-merge join
        between them. This is the amortize-once primitive for a fact
        table joined on the same key every day at 100 TB.

        The stale-location sweep runs ONLY when the catalog does not
        know the table (a dead process's leftover dir would otherwise
        fail saveAsTable with LOCATION_ALREADY_EXISTS). When the table
        IS registered, plain overwrite semantics apply — in particular
        Spark still refuses to overwrite a table the input ``df`` is
        reading, instead of silently deleting the source out from
        under it.
        """
        if not self.spark.catalog.tableExists(table_name):
            clear_managed_table(self.spark, table_name)
        w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.format("parquet").saveAsTable(table_name)

    def write_csv(self, df: DataFrame, path: str) -> None:
        """K2: header CSV sink (single file like the reference)."""
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)

    @staticmethod
    def zorder_value(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
        """Morton/Z-value of two non-negative int columns: interleave
        the low ``bits`` bits of each (x in odd positions). A pure
        bitwise expression tree — codegen'd JVM-side, no UDF."""
        from .operators.layout import zvalue_nd

        xm = x.cast("bigint") % F.lit(1 << bits)
        ym = y.cast("bigint") % F.lit(1 << bits)
        return zvalue_nd([xm, ym], bits)

    def write_zordered(
        self,
        df: DataFrame,
        table_name: str,
        zorder_cols: tuple[str, str],
        n_files: int = 8,
        bits: int = 16,
    ) -> LoadResult:
        """Z-order-clustered parquet layout: rows are range-partitioned
        and sorted by the Morton interleave of two columns, so each
        file's min/max footer stats cover a small rectangle of the
        (x, y) key space instead of a full-width stripe.

        This is the multi-dimensional data-skipping primitive at
        100 TB: a single-column sort prunes scans only on that column;
        Z-ordering lets min/max row-group pruning cut scans on EITHER
        column (Delta/Iceberg OPTIMIZE ZORDER does exactly this).
        Both columns are min/max-normalized to the full ``bits`` range
        before interleaving — without that, the wider-domain column
        owns all the significant bits and the interleave degenerates
        to a single-column sort (one cheap bounds agg per write; a
        production writer would take the bounds from table metadata).
        Columns must be numeric; tests/test_formats.py asserts real
        footer-stat pruning vs an unclustered layout.
        """
        zx, zy = zorder_cols
        bounds = df.agg(
            F.min(zx).alias("x0"), F.max(zx).alias("x1"),
            F.min(zy).alias("y0"), F.max(zy).alias("y1"),
        ).first()
        top = (1 << bits) - 1

        def norm(col: str, lo, hi) -> "F.Column":
            span = max(float(hi - lo), 1.0)
            return F.floor(
                (F.col(col).cast("double") - F.lit(float(lo))) * F.lit(top / span)
            ).cast("bigint")

        z = self.zorder_value(
            norm(zx, bounds["x0"], bounds["x1"]),
            norm(zy, bounds["y0"], bounds["y1"]),
            bits=bits,
        )
        clustered = (
            df.withColumn("_z", z)
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        return self._write_counted(clustered, table_name)

    def compact_table(
        self, table_name: str, target_file_bytes: int = 128 << 20
    ) -> LoadResult:
        """Rewrite a table's files at ~``target_file_bytes`` each — the
        small-files maintenance job (Delta/Iceberg OPTIMIZE, on bare
        parquet).

        Streaming sinks and incremental loads accrete many small files;
        at 100 TB a scan's task count and footer-read overhead are
        dominated by file count, so periodic compaction is what keeps
        read amortization healthy. The target file count comes from
        on-disk byte totals (a directory walk — no data scan); the
        rewrite is staged next to the table and swapped in only after
        the row count is verified, so a FAILED compaction leaves the
        original table untouched. The swap itself is two renames via a
        trash dir — not atomic (bare-parquet limitation; table formats
        exist for exactly this), but a complete copy of the data exists
        on disk at every instant: a crash mid-swap is recoverable from
        ``._compact_tmp`` / ``._compact_trash`` — and the recovery is
        AUTOMATIC: on entry, a leftover trash dir with no live table
        (the crash window between the two renames) is restored before
        anything else runs, so the next compaction self-heals instead
        of walking a missing path as 0 bytes.

        Unpartitioned tables only: a plain rewrite would silently
        FLATTEN a Hive-partitioned layout (and its pruning), so
        partitioned inputs are rejected.
        """
        import math

        path = self._table_path(table_name)
        trash = f"{path}._compact_trash"
        if os.path.isdir(trash) and not os.path.isdir(path):
            # crash between rename(path, trash) and rename(tmp, path):
            # the original data is intact in the trash dir — restore it.
            os.rename(trash, path)
        if any(
            "=" in d
            for root, dirs, _files in os.walk(path)
            for d in dirs
        ):
            raise ValueError(
                f"compact_table({table_name}): table is Hive-partitioned; a "
                "flat rewrite would destroy the partition layout (and its "
                "pruning). Compact per-partition instead."
            )
        total_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))
        df = self.read_table(table_name)
        tmp = f"{path}._compact_tmp"
        # the source rows are counted by the write job itself (the
        # _write_counted rule: observe as the last step before the
        # action); the staged files are re-read under the source's
        # schema, so verifying them runs no schema-inference job
        rows = Observation()
        df.repartition(n_files).observe(
            rows, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(tmp)
        before = rows.get["n"]
        after = self.spark.read.schema(df.schema).parquet(tmp).count()
        if after != before:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compact_table({table_name}): rewrite produced {after} rows, "
                f"expected {before}; original left in place"
            )
        shutil.rmtree(trash, ignore_errors=True)
        os.rename(path, trash)
        os.rename(tmp, path)
        shutil.rmtree(trash, ignore_errors=True)
        return LoadResult(table_path=path, rows_written=after)

    def write_jdbc_sqlite(self, df: DataFrame, db_path: str, table_name: str) -> None:
        """Literal-parity SQLite sink via JDBC; requires a sqlite JDBC
        driver on the Spark classpath (not bundled here)."""
        (
            df.write.format("jdbc")
            .option("url", f"jdbc:sqlite:{db_path}")
            .option("dbtable", table_name)
            .mode("overwrite")
            .save()
        )

    def _has_sqlite_jdbc(self) -> bool:
        try:
            self.spark._jvm.java.lang.Class.forName("org.sqlite.JDBC")
            return True
        except Exception:
            return False

    def write_sqlite(self, df: DataFrame, db_path: str, table_name: str) -> None:
        """The reference's literal output artifact: a SQLite table,
        dropped and recreated (reference src/load.py:7,
        ``if_exists='replace', index=False``).

        Dispatch: the JDBC writer when a sqlite JDBC driver is on the
        classpath, else a driver-side sqlite3 writer streaming rows via
        ``toLocalIterator`` (no full materialization). The fallback is
        single-writer by nature — which matches the sink: a SQLite db
        IS one local file, so no distributed writer can do better; the
        scale sink remains :meth:`load` (parquet). Column names pass
        through verbatim (the reference dataset has spaces in headers);
        types map by SQLite affinity, booleans as 0/1 like pandas
        ``to_sql``.
        """
        if self._has_sqlite_jdbc():
            self.write_jdbc_sqlite(df, db_path, table_name)
            return

        import sqlite3

        from pyspark.sql import types as T

        def affinity(dt) -> str:
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
                return "INTEGER"
            if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
                return "REAL"
            return "TEXT"

        d = os.path.dirname(db_path)
        if d:
            os.makedirs(d, exist_ok=True)
        cols = ", ".join(
            f'"{f.name}" {affinity(f.dataType)}' for f in df.schema.fields
        )
        placeholders = ", ".join(["?"] * len(df.columns))

        import datetime

        def bindable(v):
            # Explicit conversions instead of sqlite3's default adapters
            # (deprecated for date/datetime since Python 3.12) and for
            # types sqlite3 cannot bind at all (array/map/struct rows
            # raise InterfaceError): ISO text for temporals, str() for
            # complex types — matching pandas to_sql's TEXT rendering.
            if v is None or isinstance(v, (int, float, str, bytes)):
                return v
            if isinstance(v, datetime.datetime):
                return v.isoformat(sep=" ")
            if isinstance(v, datetime.date):
                return v.isoformat()
            return str(v)

        con = sqlite3.connect(db_path)
        try:
            con.execute(f'DROP TABLE IF EXISTS "{table_name}"')
            con.execute(f'CREATE TABLE "{table_name}" ({cols})')
            batch: list[tuple] = []
            for row in df.toLocalIterator():
                batch.append(tuple(bindable(v) for v in row))
                if len(batch) >= 10_000:
                    con.executemany(
                        f'INSERT INTO "{table_name}" VALUES ({placeholders})', batch
                    )
                    batch = []
            if batch:
                con.executemany(
                    f'INSERT INTO "{table_name}" VALUES ({placeholders})', batch
                )
            con.commit()
        finally:
            con.close()

    # -- read path (Q1-Q4) ----------------------------------------------
    def table_exists(self, table_name: str) -> bool:
        """Q1 (reference api.py:182-187)."""
        path = self._table_path(table_name)
        return os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path))

    def read_table(self, table_name: str) -> DataFrame:
        """The table as a lazy scan. Its schema is inferred (one Spark
        job) only on the first read after each rewrite: the schema is
        cached per path, keyed by the listing of the table's part files
        (name, mtime_ns, size), so a rewrite, which always writes new
        part-file names, is never served an old schema
        (``sources.tables.read_parquet_cached``)."""
        return read_parquet_cached(self.spark, self._table_path(table_name))

    def preview(self, table_name: str, limit: int = 10) -> list[dict]:
        """Q2: SELECT * LIMIT n as list-of-dicts (reference api.py:189-198)."""
        df = self.read_table(table_name)
        return [row.asDict() for row in df.limit(limit).collect()]

    def stats(self, table_name: str) -> dict:
        """Q3+Q4: row count + column catalog (reference api.py:227-242)."""
        df = self.read_table(table_name)
        return {
            "table": table_name,
            "total_records": df.count(),
            "columns": [{"name": f.name, "type": f.dataType.simpleString()} for f in df.schema.fields],
        }

    def drop_table(self, table_name: str) -> None:
        path = self._table_path(table_name)
        if os.path.isdir(path):
            shutil.rmtree(path)

    # -- end-to-end (EP1) -------------------------------------------------
    def run_pipeline(
        self,
        source_path: str,
        table_name: str = "products",
        clean_how: str = "any",
        clean_subset: list[str] | None = None,
    ) -> LoadResult:
        """ingest -> clean -> load as ONE lazy plan + one action
        (reference flows/pipeline.py:34-43 ran three eager stages)."""
        df = self.ingest(source_path)
        cleaned = self.clean(df, how=clean_how, subset=clean_subset)
        return self.load(cleaned, table_name)
