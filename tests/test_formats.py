"""JSONL/parquet ingestion + join-strategy plan checks."""

from __future__ import annotations

import contextlib
import io
import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_csv_spark.engine import PipelineEngine
from data_pipeline_csv_spark.sources.formats import read_jsonl


def test_jsonl_roundtrip_and_dispatch(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    rows = [{"id": i, "text": f"doc {i}", "score": i * 0.5} for i in range(20)]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    eng = PipelineEngine(spark, str(tmp_path / "wh"))
    df = eng.ingest(str(p))
    assert df.count() == 20
    assert {f.name for f in df.schema.fields} == {"id", "text", "score"}
    out = tmp_path / "out_jsonl"
    df.write.mode("overwrite").json(str(out))
    assert spark.read.json(str(out)).count() == 20


def test_jsonl_permissive_dead_letters(spark, tmp_path):
    p = tmp_path / "ragged.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\nNOT JSON AT ALL\n{"id": 2, "v": "fine"}')
    df = read_jsonl(spark, str(p))
    rows = df.collect()
    assert len(rows) == 3  # malformed row kept as _corrupt_record, scan survives
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "NOT JSON" in corrupt[0]["_corrupt_record"]


def test_jsonl_validates_suffix(spark, tmp_path):
    p = tmp_path / "data.txt"
    p.write_text("{}")
    with pytest.raises(ValueError, match="Unexpected file type"):
        read_jsonl(spark, str(p))
    with pytest.raises(FileNotFoundError):
        read_jsonl(spark, str(tmp_path / "missing.jsonl"))


def test_star_join_broadcasts_dims(spark, sf_dir):
    """q5-style star join: every dimension side must be a broadcast hash
    join — a shuffled dim join at 100 TB would be a planning bug."""
    from data_pipeline_csv_spark.queries import REGISTRY

    df = REGISTRY["q5_local_supplier_volume"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [IsNotNull" in plan  # predicates reached the scans


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path, sf_dir):
    """Z-ordered files must have footer min/max stats that let a range
    predicate on EITHER interleaved column skip most files; a
    round-robin layout of the same rows cannot skip any."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_pipeline_csv_spark.engine import PipelineEngine
    from data_pipeline_csv_spark.sources.tables import load_table

    engine = PipelineEngine(spark, str(tmp_path / "wh"))
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .withColumn("o_day", F.datediff("o_orderdate", F.lit("1992-01-01")))
        .drop("o_orderdate")
    )
    res = engine.write_zordered(orders, "orders_z", ("o_custkey", "o_day"), n_files=8)
    assert res.rows_written == orders.count()
    plain = str(tmp_path / "wh" / "orders_plain")
    orders.repartition(8).write.mode("overwrite").parquet(plain)

    def overlapping_files(path, col, lo, hi):
        total, hit = 0, 0
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.names.index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            total += 1
            if fmax >= lo and fmin <= hi:
                hit += 1
        return hit, total

    b = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("o_day"), F.max("o_day")
    ).first()
    ranges = (
        ("o_custkey", b[0], b[0] + (b[1] - b[0]) // 8),
        ("o_day", b[2], b[2] + (b[3] - b[2]) // 8),
    )
    for col, lo, hi in ranges:
        z_hit, z_tot = overlapping_files(res.table_path, col, lo, hi)
        p_hit, p_tot = overlapping_files(plain, col, lo, hi)
        assert p_hit == p_tot, f"baseline should not prune ({col})"
        assert z_hit < p_hit, f"z-order must prune files on {col}: {z_hit}/{z_tot}"
