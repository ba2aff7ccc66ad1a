"""The schema cache must never serve a schema across a rewrite.

Each rewrite case reads a path (warming the cache), rewrites it with a
different schema, gives the path its old mtime back — as a filesystem
with coarse timestamps would — and reads again: the read must see the
new schema and the new rows. The CSV cases also pin that a ``chmod``
forces re-inference, that a failed inference stores nothing, and that a
warm CSV read gives the rows and types of Spark's own inference.
"""

import logging
import os
from collections import Counter
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_csv_spark.engine import PipelineEngine
from data_pipeline_csv_spark.sources import csv as csv_source
from data_pipeline_csv_spark.sources.csv import read_csv_dir
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


def _jobs(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "schema-cache probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return Counter(map(tuple, df.collect()))


def test_csv_same_size_rewrite_with_old_mtime_infers_new_type(spark, tmp_path):
    """One file of a directory rewritten in place at the same byte size,
    an int cell turned into a double, with its old mtime set back: its
    (mtime_ns, size) are unchanged, its ctime is not, so the next read
    must infer the new type."""
    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.csv").write_text("id,x\n1,10\n2,20\n")
    (d / "b.csv").write_text("id,x\n3,30\n4,400\n")
    assert read_csv_dir(spark, str(d)).dtypes == [("id", "int"), ("x", "int")]
    b = str(d / "b.csv")
    before = os.stat(b)

    (d / "b.csv").write_text("id,x\n3,30\n4,4.5\n")
    _restore_mtime(b, before)
    assert os.stat(b).st_size == before.st_size

    df = read_csv_dir(spark, str(d))
    assert df.dtypes == [("id", "int"), ("x", "double")]
    assert _rows(df) == Counter([(1, 10.0), (2, 20.0), (3, 30.0), (4, 4.5)])


def test_csv_chmod_forces_reinference(spark, tmp_path):
    """A ``chmod`` changes only the file's ctime; the next read infers
    that file again, and a read of the unchanged directory runs none."""
    d = tmp_path / "raw"
    d.mkdir()
    for i in range(2):
        (d / f"p{i}.csv").write_text(f"id,x\n{i},{i}.5\n")
    read_csv_dir(spark, str(d))
    _, warm = _jobs(spark, "csv-chmod-warm", lambda: read_csv_dir(spark, str(d)))
    assert warm == 0

    os.chmod(d / "p1.csv", 0o600)
    df, jobs = _jobs(spark, "csv-chmod", lambda: read_csv_dir(spark, str(d)))
    assert jobs > 0
    assert _rows(df) == Counter([(0, 0.5), (1, 1.5)])


def test_csv_failed_inference_is_retried(spark, tmp_path, monkeypatch, caplog):
    """A file whose schema inference raised is skipped and caches
    nothing: once the failure is gone, the next read resolves it."""
    from pyspark.sql.readwriter import DataFrameReader

    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.csv").write_text("id,x\n1,2.5\n")
    (d / "b.csv").write_text("id,x\n2,3.5\n")
    real_csv = DataFrameReader.csv

    def failing_csv(self, path, schema=None, **kw):
        if schema is None and os.path.basename(path) == "b.csv":
            raise OSError("transient read failure")
        return real_csv(self, path, schema=schema, **kw)

    monkeypatch.setattr(DataFrameReader, "csv", failing_csv)
    with caplog.at_level(logging.WARNING, logger=csv_source.__name__):
        assert _rows(read_csv_dir(spark, str(d))) == Counter([(1, 2.5)])
    assert any("b.csv" in r.getMessage() for r in caplog.records)

    monkeypatch.setattr(DataFrameReader, "csv", real_csv)
    assert _rows(read_csv_dir(spark, str(d))) == Counter([(1, 2.5), (2, 3.5)])


def test_csv_cold_and_warm_reads_match_spark_inference(spark, tmp_path):
    """On a ragged directory (int/double/empty cells, dates, timestamps,
    booleans, columns missing from some files), the cold read, the warm
    read served from the cache, and a by-name union of Spark's own
    per-file inference give equal dtypes and equal row multisets."""
    d = tmp_path / "ragged"
    d.mkdir()
    for i in range(6):
        # n is int in even files, double in odd ones, all-empty in f03
        ns = [""] * 3 if i == 3 else [f"{j}.25" if i % 2 else str(j) for j in range(3)]
        extra = ",flag" if i % 2 else ""
        lines = [f"id,n,day,ts{extra}"]
        for j in range(3):
            cells = f"{i * 10 + j},{ns[j]},2024-0{1 + j}-1{i},2024-03-0{1 + i} 1{j}:30:0{j}"
            lines.append(cells + (",true" if j % 2 else ",false") * (i % 2))
        (d / f"f{i:02d}.csv").write_text("\n".join(lines) + "\n")
    files = sorted(str(p) for p in d.iterdir())
    spark_inferred = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [spark.read.csv(f, header=True, inferSchema=True) for f in files],
    )

    cold = read_csv_dir(spark, str(d))
    warm, jobs = _jobs(spark, "csv-parity-warm", lambda: read_csv_dir(spark, str(d)))
    assert jobs == 0
    assert {t for _, t in spark_inferred.dtypes} >= {"date", "timestamp", "boolean"}
    assert cold.dtypes == warm.dtypes == spark_inferred.dtypes
    assert _rows(cold) == _rows(warm) == _rows(spark_inferred)
