"""Tests for the benchmark's own measurement code.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import csv
import glob
import hashlib
import json
import os
import statistics

import pytest

import datagen
import workloads
from spans import OpCounter, Span, Tracer, percentile, tail, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("n,p", [(1000, 99.0), (999, 95.0), (200, 95.0), (100, 90.0),
                                 (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    values = list(range(1, n + 1))
    t = tail(values)
    assert (t["p"], t["n"]) == (p, n)
    if p > 50:
        assert t["value"] == percentile(values, p)
        assert sum(v > t["value"] for v in values) >= 10
    else:
        assert t["value"] == statistics.median(values)


def test_tail_falls_back_to_median_on_small_samples():
    t = tail([5.0, 1.0, 3.0])
    assert (t["value"], t["p"], t["n"]) == (3.0, 50.0, 3)
    assert tail([1.0, 2.0])["value"] == 1.5


def test_percentile_is_nearest_rank():
    assert percentile([4, 1, 3, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 75) == 3
    assert percentile([4, 1, 3, 2], 100) == 4


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == 2.0
    assert union_length([(3, 4), (0, 10)]) == 10.0
    assert union_length([(2, 1)]) == 0.0


def test_span_self_time_subtracts_children_once():
    parent = Span("p", None, t0=0.0, t1=10.0)
    parent.children = [Span("a", parent, t0=1.0, t1=3.5, t_done=4.0),
                       Span("b", parent, t0=3.0, t1=6.0, t_done=6.0),
                       Span("c", parent, t0=9.0, t1=12.0, t_done=12.5)]
    assert parent.seconds == 10.0
    assert parent.self_s == pytest.approx(10.0 - 5.0 - 1.0)


def test_driver_idle_is_wall_minus_stage_union():
    sp = Span("q", None, e0=100.0, e1=110.0)
    sp.stage_intervals = [(101.0, 103.0), (102.0, 104.0), (108.0, 115.0)]
    assert sp.driver_idle_s == pytest.approx(10.0 - 3.0 - 2.0)
    sp.stage_intervals = [(90.0, 120.0)]
    assert sp.driver_idle_s == 0.0


def test_op_counter_counts_exceptions_and_failed_checks():
    ops = OpCounter()
    assert ops.run("ok", lambda x: x + 1, 1) == 2
    assert ops.run("boom", lambda: 1 / 0) is None
    assert ops.check("good", True)
    assert not ops.check("bad", False, "detail")
    assert (ops.attempted, ops.failed) == (4, 2)
    assert ops.error_rate == 0.5
    assert ops.errors[0].startswith("boom: ZeroDivisionError")
    assert "bad" in ops.errors[1]
    assert OpCounter().error_rate == 0.0


def _sha(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_inputs_derive_from_the_seed_only(tmp_path):
    a = datagen.write_csv_dir(str(tmp_path / "a"), 7, 3000, files=3)
    b = datagen.write_csv_dir(str(tmp_path / "b"), 7, 3000, files=3)
    c = datagen.write_csv_dir(str(tmp_path / "c"), 8, 3000, files=3)
    files = {k: glob.glob(str(tmp_path / k / "*.csv")) for k in "abc"}
    assert a == b and _sha(files["a"]) == _sha(files["b"]) != _sha(files["c"])
    datagen.write_tables(str(tmp_path / "t1"), 5, orders=600, docs=60, vectors=120)
    datagen.write_tables(str(tmp_path / "t2"), 5, orders=600, docs=60, vectors=120)
    assert _sha(glob.glob(str(tmp_path / "t1" / "*"))) == _sha(glob.glob(str(tmp_path / "t2" / "*")))


def test_csv_survivor_count_matches_rows_without_empty_cells(tmp_path):
    info = datagen.write_csv_dir(str(tmp_path), 3, 5000, files=4)
    rows = []
    for p in sorted(glob.glob(str(tmp_path / "*.csv"))):
        with open(p, newline="") as f:
            r = csv.reader(f)
            assert tuple(next(r)) == datagen.CSV_COLUMNS
            rows += list(r)
    assert len(rows) == info["rows"] == 5000
    assert info["survivors"] == sum(all(cell != "" for cell in row) for row in rows)
    assert 0.9 * 5000 < info["survivors"] < 5000


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == workloads.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, *workloads.per_layer_unit(n)) for n in workloads.per_layer_names()
    ]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.host", "127.0.0.1")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    yield s
    s.stop()


def test_status_store_reader_with_ui_disabled(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    tr = Tracer(spark, True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            spark.range(1000).repartition(2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == outer.group
        spark.range(10).collect()
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert inner.jobs >= 1 and inner.totals["tasks"] >= 2
    assert inner.totals["shuffle_bytes"] > 0
    assert inner.totals["executor_run_s"] >= 0 and inner.stage_intervals
    # the outer span holds its own job plus everything the inner one ran
    assert outer.jobs >= inner.jobs + 1
    assert outer.totals["tasks"] > inner.totals["tasks"]
    assert outer.children == [inner]
    assert 0.0 <= outer.driver_idle_s <= outer.e1 - outer.e0
    # the inner span's own status-store read is tracer time, not outer's
    assert inner.t_done >= inner.t1
    assert outer.self_s == pytest.approx(outer.seconds - (inner.t_done - inner.t0))


def test_untraced_spans_label_nothing(spark):
    tr = Tracer(spark, False)
    with tr.span("plain") as sp:
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
        spark.range(10).collect()
    assert sp.group is None and sp.jobs == 0 and sp.seconds > 0


def test_wrap_spans_calls_made_inside_the_program_and_restores(spark):
    import types

    module = types.SimpleNamespace(read=lambda n: spark.range(n).count())
    read = module.read

    class Engine:
        def load(self, n):
            return module.read(n) + 1

    engine = Engine()
    tr = Tracer(spark, True)
    with tr.wrap(module, "read", "sources.read"), tr.wrap(engine, "load", "engine.load"):
        with tr.span("run") as run:
            assert engine.load(5) == 6
    assert [c.name for c in run.children] == ["engine.load"]
    load = run.children[0]
    assert [c.name for c in load.children] == ["sources.read"]
    assert load.children[0].jobs >= 1 and load.jobs >= load.children[0].jobs
    # the originals are back, and the instance has no attribute of its own
    assert "load" not in vars(engine)
    assert module.read is read
    plain = Tracer(spark, False)
    with plain.wrap(module, "read", "x"):
        assert module.read is read
    assert plain.spans == []


@pytest.mark.parametrize("cls", list(workloads.WORKLOADS.values()))
def test_measured_iterations_depend_on_the_arguments_only(cls):
    def count(seconds, trace):
        w = cls.__new__(cls)
        w.seconds, w.trace = float(seconds), bool(trace)
        return w.measured_iterations()

    assert count(0.5, 0) == 1
    assert count(0.5, 1) == 3
    assert count(cls.ITERATION_S * 3, 0) == 3
    assert count(cls.ITERATION_S * 3 - 0.01, 0) == 2
