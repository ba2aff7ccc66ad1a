"""Table-loader hygiene: footer probing on nested layouts, the
NANOS-read fallback, and job-free footer row counts that equal
Spark's count."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_csv_spark.sources.tables import (
    _events_ts_is_nanos,
    load_table,
    parquet_num_rows,
)


def _write_events_ns(path: str) -> None:
    """A tiny TIMESTAMP(NANOS) events file (version 2.6 keeps ns)."""
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i * 1_000_000_000 for i in range(3)], pa.timestamp("ns")),
        }
    )
    pq.write_table(t, path, coerce_timestamps=None, version="2.6")


def test_footer_probe_recurses_into_subdirectories(tmp_path):
    ds = tmp_path / "events.parquet" / "nested" / "deeper"
    ds.mkdir(parents=True)
    _write_events_ns(str(ds / "part-0.parquet"))
    assert _events_ts_is_nanos(str(tmp_path / "events.parquet")) is True


def test_footer_probe_empty_dir_is_false(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    assert _events_ts_is_nanos(str(d)) is False


def test_load_table_reads_nanos_events_as_micros(spark, tmp_path):
    """NANOS events load via the legacy-long path and come out as
    timestamps truncated to micros (DuckDB's TIMESTAMP_NS coercion)."""
    from pyspark.sql import functions as F

    sf_dir = str(tmp_path)
    _write_events_ns(os.path.join(sf_dir, "events.parquet"))
    df = load_table(spark, sf_dir, "events")
    got = df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
    assert [r["us"] for r in got] == [
        1_700_000_000_000_000 + i * 1_000_000 for i in range(3)
    ]


def test_parquet_num_rows_matches_testdata_count(spark, sf_dir):
    for name in ("embeddings", "documents", "orders"):
        path = f"{sf_dir}/{name}.parquet"
        assert parquet_num_rows(path) == load_table(spark, sf_dir, name).count()


def test_parquet_num_rows_walks_directories(tmp_path):
    ds = tmp_path / "events.parquet" / "sub"
    ds.mkdir(parents=True)
    _write_events_ns(str(ds / "a.parquet"))
    _write_events_ns(str(ds / "b.parquet"))
    assert parquet_num_rows(str(tmp_path / "events.parquet")) == 6


def test_parquet_num_rows_counts_what_spark_reads(spark, tmp_path):
    """The footer count equals spark.read.parquet(p).count() on the
    layouts the engine writes, and skips every file Spark's listing
    skips: _/.-prefixed files and directories and zero-byte files (a
    rule counting every *.parquet file counts 3 extra files here and
    cannot read the empty one). A partition directory is read even
    when its column name starts with _."""
    from data_pipeline_csv_spark.engine import PipelineEngine

    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    src = spark.range(1000).selectExpr("id", "id % 3 AS _p").repartition(4)

    flat = str(tmp_path / "flat")
    src.write.parquet(flat)
    names = os.listdir(flat)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    part = engine.write_partitioned(src, "part", ["_p"]).table_path
    empty = engine.load(spark.createDataFrame([], "id long, _p long"), "empty").table_path

    noisy = str(tmp_path / "noisy")
    src.write.parquet(noisy)
    extra = pa.table({"id": pa.array([1, 2], pa.int64()), "_p": pa.array([1, 2], pa.int64())})
    os.makedirs(os.path.join(noisy, "_temporary", "0"))
    pq.write_table(extra, os.path.join(noisy, "_temporary", "0", "part-t.parquet"))
    pq.write_table(extra, os.path.join(noisy, "_meta.parquet"))
    pq.write_table(extra, os.path.join(noisy, ".hidden.parquet"))
    open(os.path.join(noisy, "part-zero.parquet"), "wb").close()

    for path, want in ((flat, 1000), (part, 1000), (empty, 0), (noisy, 1000)):
        assert parquet_num_rows(path) == spark.read.parquet(path).count() == want, path


def test_zorder_covering_buckets_complete(spark):
    """Covering completeness, brute force: for random quantized boxes,
    every (xq, yq) cell inside the box must map to a bucket in the
    covering set (monotone quantization then makes the raw-row claim)."""
    import random

    from data_pipeline_csv_spark.operators.layout import (
        zorder_covering_buckets_nd,
    )

    spec = {"bits": 10, "prefix_bits": 8, "cols": [{}, {}]}  # d=2

    rng = random.Random(7)

    def z(xq, yq, bits=10):
        v = 0
        for i in range(bits):
            v |= ((xq >> i) & 1) << (2 * i + 1) | ((yq >> i) & 1) << (2 * i)
        return v

    for _ in range(25):
        x0 = rng.randrange(0, 1024); x1 = rng.randrange(x0, 1024)
        y0 = rng.randrange(0, 1024); y1 = rng.randrange(y0, 1024)
        cover = set(zorder_covering_buckets_nd(spec, [x0, y0], [x1, y1]))
        for _ in range(200):
            xq = rng.randrange(x0, x1 + 1)
            yq = rng.randrange(y0, y1 + 1)
            assert (z(xq, yq) >> 12) in cover, (x0, x1, y0, y1, xq, yq)
