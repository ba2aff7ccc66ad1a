"""The parquet schema cache must never serve a schema across a rewrite.

Each case reads a path (warming the cache), rewrites it with a different
schema, gives the path its old mtime back — as a filesystem with coarse
timestamps would — and reads again: the read must see the new schema
and the new rows.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_csv_spark.engine import PipelineEngine
from data_pipeline_csv_spark.sources.tables import read_parquet_cached


def _restore_mtime(path: str, st: os.stat_result) -> None:
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns


def test_overwrite_with_old_mtime_reads_new_schema(spark, tmp_path):
    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    engine.load(spark.createDataFrame([(1, "a")], "id long, name string"), "t")
    assert engine.read_table("t").schema.simpleString() == "struct<id:bigint,name:string>"
    path = engine._table_path("t")
    before = os.stat(path)

    engine.load(spark.createDataFrame([(2, 3.5, "x")], "id long, score double, tag string"), "t")
    _restore_mtime(path, before)

    df = engine.read_table("t")
    assert df.schema.simpleString() == "struct<id:bigint,score:double,tag:string>"
    assert [tuple(r) for r in df.collect()] == [(2, 3.5, "x")]


def test_partitioned_overwrite_with_old_mtime_reads_new_schema(spark, tmp_path):
    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    engine.write_partitioned(
        spark.createDataFrame([(1, "a", 7)], "id long, name string, p int"), "t", ["p"]
    )
    assert engine.read_table("t").columns == ["id", "name", "p"]
    path = engine._table_path("t")
    part = os.path.join(path, "p=7")
    before, part_before = os.stat(path), os.stat(part)

    engine.write_partitioned(
        spark.createDataFrame([(2, 3.5, 7)], "id long, score double, p int"), "t", ["p"]
    )
    _restore_mtime(part, part_before)
    _restore_mtime(path, before)

    df = engine.read_table("t")
    assert df.columns == ["id", "score", "p"]
    assert [tuple(r) for r in df.collect()] == [(2, 3.5, 7)]


def test_single_file_rewrite_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1], "name": ["a"]}), path)
    assert read_parquet_cached(spark, path).columns == ["id", "name"]
    before = os.stat(path)

    pq.write_table(pa.table({"id": [2], "score": [3.5], "tag": ["x"]}), path)
    _restore_mtime(path, before)

    df = read_parquet_cached(spark, path)
    assert df.columns == ["id", "score", "tag"]
    assert [tuple(r) for r in df.collect()] == [(2, 3.5, "x")]


def test_same_size_rewrite_with_old_mtime_reads_new_schema(spark, tmp_path):
    """An in-place rewrite at the same byte size, with the old mtime set
    back, keeps the file's (mtime_ns, size); its ctime still changes,
    so the read must see the new schema."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1], "name": ["a"]}), path)
    assert read_parquet_cached(spark, path).columns == ["id", "name"]
    before = os.stat(path)

    pq.write_table(pa.table({"ix": [1], "nome": ["a"]}), path)
    _restore_mtime(path, before)
    assert os.stat(path).st_size == before.st_size

    df = read_parquet_cached(spark, path)
    assert df.columns == ["ix", "nome"]
    assert [tuple(r) for r in df.collect()] == [(1, "a")]
