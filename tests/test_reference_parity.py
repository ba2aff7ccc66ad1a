"""Reference-parity golden numbers (SURVEY.md §5).

The reference ships one dataset whose end-to-end behavior pins down
the semantics: 18,862 rows x 12 cols; dropna() -> 0 rows (Message is
all-null); dropna excluding Message -> 18,862. The synthetic startup
dataset: 100 rows, categories 33/34/33, in_stock true = 50, 0 nulls.
"""

import logging
import os
from collections import Counter
from functools import reduce

import pytest

from data_pipeline_csv_spark.engine import PipelineEngine
from data_pipeline_csv_spark.sources import csv as csv_source
from data_pipeline_csv_spark.sources.csv import read_csv, read_csv_dir
from data_pipeline_csv_spark.sources.synthetic import synthetic_products

REF_CSV = "/root/reference/data/raw/products.csv"


@pytest.fixture()
def engine(spark, tmp_path):
    return PipelineEngine(spark, str(tmp_path / "warehouse"))


# ---- S1/S4: single-file scan + validation ---------------------------
def test_ingest_validates_extension(spark, tmp_path):
    p = tmp_path / "data.txt"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError):
        read_csv(spark, str(p))


def test_ingest_missing_path(spark):
    with pytest.raises(FileNotFoundError):
        read_csv(spark, "/nonexistent/file.csv")


@pytest.mark.skipif(not os.path.exists(REF_CSV), reason="reference dataset unavailable")
def test_golden_shipped_dataset(spark, engine):
    df = read_csv(spark, REF_CSV)
    assert df.count() == 18862
    assert len(df.columns) == 12
    # the load-bearing quirk: Message is all-null -> dropna empties it
    assert engine.clean(df).count() == 0
    subset = [c for c in df.columns if c != "Message"]
    assert engine.clean(df, subset=subset).count() == 18862


# ---- S2/S3: tolerant directory scan ----------------------------------
def test_dir_scan_aligns_by_name_and_skips_bad(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.csv").write_text("id,name\n1,x\n2,y\n")
    (d / "b.CSV").write_text("name,extra\nz,9\n")  # case-insensitive ext, different cols
    (d / ".hidden.csv").write_text("id\n99\n")  # dotfile skipped
    (d / "notes.txt").write_text("not a csv")
    df = read_csv_dir(spark, str(d))
    assert df.count() == 3
    assert set(df.columns) == {"id", "name", "extra"}
    # by-name alignment: missing columns are null
    rows = {(r["id"], r["name"], r["extra"]) for r in df.collect()}
    assert (None, "z", 9) in rows


def test_dir_scan_skips_bad_file_under_concurrency(spark, tmp_path, monkeypatch, caplog):
    """More files than two rounds of the resolver pool, with ragged
    columns and types; one file fails to resolve. The concurrent scan
    must log and skip it, keep every other file, and equal a serial
    by-name union over the kept files in sorted-name order."""
    n_files = 2 * spark.sparkContext.defaultParallelism + 3
    d = tmp_path / "ragged"
    d.mkdir()
    for i in range(n_files):
        # x is int in even files, double in odd ones, all-empty in every
        # fifth (inferred string there): type widening depends on order
        xs = [""] * 3 if i % 5 == 0 else [f"{j}.5" if i % 2 else str(j) for j in range(3)]
        body = "".join(f"{i * 100 + j},v{i}_{j},{xs[j]}\n" for j in range(3))
        (d / f"f{i:02d}.csv").write_text(f"id,c{i % 4},x\n" + body)
    bad = "f07.csv"
    real_read_csv = csv_source.read_csv

    def flaky_read_csv(spark_, path, **kw):
        if os.path.basename(path) == bad:
            raise ValueError("corrupt header")
        return real_read_csv(spark_, path, **kw)

    monkeypatch.setattr(csv_source, "read_csv", flaky_read_csv)
    with caplog.at_level(logging.WARNING, logger=csv_source.__name__):
        df = read_csv_dir(spark, str(d))
    skipped = [r.getMessage() for r in caplog.records if "Skipping unreadable CSV" in r.getMessage()]
    assert len(skipped) == 1 and bad in skipped[0]

    kept = sorted(f for f in os.listdir(d) if f != bad)
    assert len(kept) == n_files - 1
    serial = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [real_read_csv(spark, str(d / f)) for f in kept],
    )
    assert df.columns == serial.columns
    assert df.dtypes == serial.dtypes
    assert Counter(map(tuple, df.collect())) == Counter(map(tuple, serial.collect()))


def test_dir_scan_empty_raises(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError):
        read_csv_dir(spark, str(d))


# ---- S6: synthetic generator golden counts ---------------------------
def test_synthetic_products_goldens(spark):
    df = synthetic_products(spark)
    assert df.count() == 100
    counts = {r["category"]: r["count"] for r in df.groupBy("category").count().collect()}
    assert counts == {"Electronics": 33, "Books": 34, "Clothing": 33}
    assert df.filter("in_stock").count() == 50
    assert df.na.drop("any").count() == 100  # zero nulls -> clean is identity


# ---- K1 literal parity: SQLite sink ----------------------------------
def test_write_sqlite_roundtrip(spark, engine, tmp_path):
    """The reference's actual output artifact (a products.db SQLite
    table, dropped + recreated per run) written and read back via
    sqlite3 — space-named columns verbatim, booleans as 0/1, overwrite
    semantics."""
    import sqlite3

    df = synthetic_products(spark).withColumnRenamed("in_stock", "in stock")
    db = str(tmp_path / "processed" / "products.db")
    engine.write_sqlite(df, db, "products")
    engine.write_sqlite(df, db, "products")  # if_exists='replace': no dup rows

    con = sqlite3.connect(db)
    try:
        cols = [r[1] for r in con.execute("PRAGMA table_info(products)")]
        assert cols == df.columns and "in stock" in cols
        assert con.execute("SELECT COUNT(*) FROM products").fetchone()[0] == 100
        n_stock = con.execute('SELECT COUNT(*) FROM products WHERE "in stock" = 1').fetchone()[0]
        assert n_stock == 50
        cats = dict(
            con.execute("SELECT category, COUNT(*) FROM products GROUP BY category")
        )
        assert cats == {"Electronics": 33, "Books": 34, "Clothing": 33}
    finally:
        con.close()


# ---- K1 + Q1-Q4 + EP1: end-to-end pipeline ---------------------------
def test_pipeline_end_to_end(spark, engine, tmp_path):
    src = tmp_path / "products.csv"
    src.write_text("id,name,price\n1,apple,1.5\n2,,2.0\n3,pear,\n4,fig,4.0\n")
    result = engine.run_pipeline(str(src), "products")
    assert result.rows_written == 2  # rows 2 and 3 have nulls
    assert engine.table_exists("products")
    assert not engine.table_exists("nope")
    stats = engine.stats("products")
    assert stats["total_records"] == 2
    assert [c["name"] for c in stats["columns"]] == ["id", "name", "price"]
    rows = engine.preview("products", limit=10)
    assert {r["name"] for r in rows} == {"apple", "fig"}
    # overwrite semantics: re-run replaces, not appends
    result2 = engine.run_pipeline(str(src), "products")
    assert result2.rows_written == 2
    engine.drop_table("products")
    assert not engine.table_exists("products")


def test_pipeline_empty_clean_writes_schema(spark, engine, tmp_path):
    """The reference quirk: an all-null Message column makes dropna()
    empty the frame. The load still writes the table with its schema
    and the in-job count reports 0."""
    src = tmp_path / "messages.csv"
    src.write_text("id,name,Message\n1,apple,\n2,pear,\n")
    result = engine.run_pipeline(str(src), "messages")
    assert result.rows_written == 0
    assert engine.table_exists("messages")
    stats = engine.stats("messages")
    assert stats["total_records"] == 0
    assert [c["name"] for c in stats["columns"]] == ["id", "name", "Message"]


def test_partitioned_table_exists_and_counts(spark, engine):
    """A write_partitioned table keeps its parquet files under
    col=value/ dirs, none at the root: table_exists still finds it (so
    the preview and stats endpoints answer it), and stats counts its
    rows."""
    df = spark.range(10).selectExpr("id", "id % 2 AS p")
    engine.write_partitioned(df, "parted", ["p"])
    assert engine.table_exists("parted")
    assert engine.stats("parted")["total_records"] == 10


def test_column_names_with_spaces_roundtrip(spark, engine, tmp_path):
    src = tmp_path / "spaced.csv"
    src.write_text("Unique ID,Geo Type Name\n7,Borough\n")
    engine.run_pipeline(str(src), "spaced")
    assert engine.preview("spaced") == [{"Unique ID": 7, "Geo Type Name": "Borough"}]


# ---- C1-C3: run-state machine -----------------------------------------
def test_run_state_machine():
    from data_pipeline_csv_spark.control.state import RunRegistry, execute_run

    reg = RunRegistry()
    ok = reg.create()
    execute_run(reg, ok.run_id, lambda: 42)
    assert reg.get(ok.run_id).status == "completed"
    assert reg.get(ok.run_id).records_processed == 42

    bad = reg.create()
    execute_run(reg, bad.run_id, lambda: (_ for _ in ()).throw(RuntimeError("boom")))
    assert reg.get(bad.run_id).status == "failed"
    assert "boom" in reg.get(bad.run_id).error

    assert [r.run_id for r in reg.all()][0] == bad.run_id  # desc by start_time
    assert reg.get("missing") is None
    assert reg.clear() == 2


# ---- C5: dashboard page ------------------------------------------------
def test_dashboard_html_covers_control_surface():
    """The dashboard page must program against every data endpoint the
    reference page uses (run trigger, run history poll, preview, stats)
    and poll at the reference's 3 s cadence."""
    from data_pipeline_csv_spark.control.dashboard import POLL_MS, dashboard_html

    html = dashboard_html("products")
    for endpoint in (
        "/api/pipeline/run",
        "/api/pipeline/runs",
        "/api/data/preview",
        "/api/data/stats",
    ):
        assert endpoint in html
    assert POLL_MS == 3000 and str(POLL_MS) in html
    assert "products" in html
    assert html.lstrip().startswith("<!doctype html>")
