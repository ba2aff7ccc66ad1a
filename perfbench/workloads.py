"""The benchmark workloads.

Each is a closed loop with one client: the next operation starts when
the previous one has returned. Set-up (session start plus cold and
warm-up passes over the workload's operations, artifact builds
included) ends at the first timed operation; input generation and
output checks are excluded. The loop then runs a fixed number of whole
iterations: one per ``ITERATION_S`` seconds of ``--seconds`` (a
workload constant near one iteration's time on a 4-vCPU host), at least
one. The count depends on the arguments only, never on how fast the
program runs, and every iteration does the same work, so a faster
program shortens the run instead of changing what is measured.

In a traced run (``--trace 1``) iterations alternate, at least three:
odd ones are traced, even ones are not, so each traced iteration sits
between two untraced ones and warming does not bias
``trace.overhead_ratio``, which compares the two kinds of iteration
(they run the same program calls) within one process. Per-layer
metrics come from the traced iterations only; each is the median over
the calls (or passes, or iterations) it was measured on, and 0 on a
workload that never enters that layer.

Layers are named after the program's modules: ``session``, ``sources``,
``engine``, ``control``, ``queries``, ``operators`` and ``streaming``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import datagen
from spans import OpCounter, Tracer, tail, union_length

# corpus_batch's query mix. Each stresses a different part of
# queries/ and operators/: scan-aggregate (q1), shuffle joins (q3, q5),
# and the IVF/PQ similarity rerank with its build-once artifacts and
# exact-rescore audit. Each is checked against its DuckDB oracle once
# per run.
MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "similarity_ann_pq_rerank",
)
# The mix's serving read: a similarity lookup over the embedding corpus.
# Its latency is corpus_batch's read metric. The box reads of the layout
# are too short (~0.25 s, mostly driver round trips) to hold a 25% bound
# on a shared host: across ten runs their median moved 0.24-0.47 s while
# the host canary moved 0.27-0.50 s. They are kept as per-layer metrics.
READ_QUERY = "similarity_ann_pq_rerank"
# Input tables each query of the mix reads, for its rows-per-second figure.
MIX_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier_volume": ("customer", "orders", "lineitem", "supplier",
                                 "nation", "region"),
    "similarity_ann_pq_rerank": ("embeddings",),
}

ETL_ROWS = 120_000
# A cold pipeline run takes ~10 s and the next ~2.8 s; from the third
# on, runs (~2 s) and reads (~0.3 s) are steady, so set-up runs two
# iterations.
ETL_WARMUP_ITERATIONS = 2
# Reads follow each pipeline run, so a run's reads spread over its whole
# measured time; five iterations give 40 reads, enough for a p75 tail.
ETL_READS_PER_RUN = 8
CDC_FILES = 2
SCANS_PER_PASS = 4

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "write_p50_s": ("s", "lower"),
    "write_tail_s": ("s", "lower"),
    "read_p50_ms": ("ms", "lower"),
    "read_tail_ms": ("ms", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "bytes_per_user_byte": ("ratio", "lower"),
}


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s",
        "session.warmup_s",
        "host.canary_s",
        "trace.overhead_ratio",
        "trace.uncovered_ratio",
        "sources.read_csv_dir.s",
        "sources.read_csv_dir.jobs",
        "sources.read_csv_dir.input_bytes",
        "engine.load.s",
        "engine.load.jobs",
        "engine.load.output_bytes",
        "engine.load.driver_idle_s",
    ]
    for fn in ("preview", "stats"):
        names += [f"engine.{fn}.{c}" for c in ("s", "jobs", "driver_idle_s")]
    names += ["control.execute_run.self_s", "etl.executor_cpu_s", "etl.gc_s"]
    for q in MIX:
        names += [f"queries.{q}.{c}" for c in
                  ("s", "jobs", "driver_idle_s", "executor_cpu_s", "shuffle_bytes")]
    names += ["batch.gc_s", "batch.spill_bytes", "batch.tasks", "batch.persisted_rdds_after"]
    names += [f"streaming.cdc_merge.{c}" for c in
              ("epoch_p50_s", "epoch_tail_s", "add_batch_s", "wal_commit_s",
               "query_planning_s", "input_rows", "files_written", "bytes_written")]
    names += [f"operators.layout.stats_pruned_scan.{c}" for c in
              ("s", "jobs", "driver_idle_s", "files_planned", "files_total")]
    return names


def per_layer_unit(name: str) -> tuple[str, str]:
    """(unit, better) of a per-layer metric, from its counter suffix."""
    last = name.rsplit(".", 1)[1]
    if last == "input_rows":
        return "count", "higher"
    if last.endswith("_ratio"):
        return "ratio", "lower"
    if last == "s" or last.endswith("_s"):
        return "s", "lower"
    if "bytes" in last:
        return "bytes", "lower"
    return "count", "lower"


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def dir_files(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def clear_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set, so the
    benchmark's own work before this point (input generation, oracle
    checks) does not count toward ``peak_rss_mb``."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_parts_mb() -> dict:
    """VmHWM of the driver JVM and of this Python process."""
    from pyspark import SparkContext

    return {"jvm": vm_hwm_mb(SparkContext._gateway.proc.pid), "python": vm_hwm_mb("self")}


def make_inputs(workload: str, seed: int, out_dir: str) -> dict:
    t0 = time.perf_counter()
    tables = os.path.join(out_dir, "tables")
    inputs = {"tables": tables, "counts": datagen.write_tables(tables, seed)}
    if workload == "corpus_batch":
        inputs["cdc_files"] = datagen.write_change_feed(
            tables, os.path.join(out_dir, "cdc"), seed, CDC_FILES)
    if workload == "etl_csv":
        csv_dir = os.path.join(out_dir, "csv")
        inputs["csv"] = csv_dir
        inputs["csv_info"] = datagen.write_csv_dir(csv_dir, seed, ETL_ROWS)
    inputs["gen_s"] = time.perf_counter() - t0
    return inputs


def canary(spark, tables: str):
    """bench.py's fixed host-calibration plan: full lineitem scan plus a
    two-key aggregate. Recorded, never used to rescale other metrics."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(f"{tables}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


class Workload:
    name = ""
    ITERATION_S = 1.0

    def __init__(self, spark, args, work, inputs, t_setup, get_spark_s):
        self.get_spark_s = get_spark_s
        self.spark = spark
        self.seconds = float(args.seconds)
        self.seed = int(args.seed)
        self.trace = bool(args.trace)
        self.work = work
        self.inputs = inputs
        self.t_setup = t_setup
        self.ops = OpCounter()
        self.plain = Tracer(spark, False)
        self.traced = Tracer(spark, True) if self.trace else None
        self.layer: dict[str, list] = {}
        self.iter_walls: dict[bool, list] = {False: [], True: []}
        self.uncovered: list[float] = []
        self.writes: list[float] = []
        self.reads_ms: list[float] = []
        self.rows_per_s: list[float] = []
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0
        self.untimed_setup_s = 0.0
        self.bytes_ratio = 0.0
        self.measured_s = 0.0
        self.iterations = 0
        self.detail: dict = {}
        self.add("session.get_spark_s", get_spark_s)

    # -- recording ----------------------------------------------------
    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def record_span(self, sp) -> None:
        """Per-call layer counters of one traced span."""
        name = sp.name
        self.add(f"{name}.s", sp.seconds)
        self.add(f"{name}.self_s", sp.self_s)
        self.add(f"{name}.jobs", sp.jobs)
        self.add(f"{name}.driver_idle_s", sp.driver_idle_s)
        for k, v in sp.totals.items():
            self.add(f"{name}.{k}", v)

    # -- loop -----------------------------------------------------------
    def tracer_for(self, i: int) -> Tracer:
        return self.traced if self.trace and i % 2 == 1 else self.plain

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_setup - self.untimed_setup_s
        self.add("session.warmup_s", self.setup_s - self.get_spark_s)

    def measured_iterations(self) -> int:
        n = max(1, int(self.seconds // self.ITERATION_S))
        return max(3, n) if self.trace else n

    def measure(self) -> None:
        self.plain.spans.clear()
        t0 = time.perf_counter()
        self.iterations = self.measured_iterations()
        for i in range(self.iterations):
            tr = self.tracer_for(i)
            n0 = len(tr.spans)
            s = time.perf_counter()
            self.iteration(tr)
            wall = time.perf_counter() - s
            self.iter_walls[tr.enabled].append(wall)
            if tr.enabled:
                top = [(sp.t0, sp.t_done) for sp in tr.spans[n0:] if sp.parent is None]
                self.uncovered.append((wall - union_length(top)) / wall)
            self.after_iteration(tr)
        self.measured_s = time.perf_counter() - t0

    def run(self) -> None:
        self.setup()
        self.measure()
        # Taken before the end-of-run checks and the canary, which are
        # the benchmark's work, not the program's.
        parts = peak_rss_parts_mb()
        self.peak_rss_mb = sum(parts.values())
        self.detail["peak_rss_parts_mb"] = parts
        self.finish()
        samples = []
        for _ in range(3):
            s = time.perf_counter()
            self.ops.run("canary", lambda: canary(self.spark, self.inputs["tables"]).collect())
            samples.append(time.perf_counter() - s)
        self.add("host.canary_s", statistics.median(samples))

    def setup(self) -> None:
        raise NotImplementedError

    def iteration(self, tr: Tracer) -> None:
        """Run one iteration; every iteration does the same work."""
        raise NotImplementedError

    def after_iteration(self, tr: Tracer) -> None:
        """Untimed output checks after an iteration."""

    def finish(self) -> None:
        """Untimed end-of-run checks and size measurements."""

    # -- result -----------------------------------------------------------
    def result(self) -> dict:
        e2e: dict = {}

        def put(name, value, extra=None):
            unit = END_TO_END[name][0]
            e2e[name] = {"value": float(value), "unit": unit, **(extra or {})}

        put("setup_s", self.setup_s)
        put("peak_rss_mb", self.peak_rss_mb)
        if self.writes:
            put("write_p50_s", statistics.median(self.writes), {"n": len(self.writes)})
            t = tail(self.writes)
            put("write_tail_s", t["value"], {"p": t["p"], "n": t["n"]})
        if self.reads_ms:
            put("read_p50_ms", statistics.median(self.reads_ms), {"n": len(self.reads_ms)})
            t = tail(self.reads_ms)
            put("read_tail_ms", t["value"], {"p": t["p"], "n": t["n"]})
        if self.rows_per_s:
            put("rows_per_s", statistics.median(self.rows_per_s))
        put("bytes_per_user_byte", self.bytes_ratio)
        missing = sorted(set(END_TO_END) - set(e2e))
        if missing:
            self.ops.check("metrics present", False, f"no samples for {missing}")

        if self.trace and self.iter_walls[True] and self.iter_walls[False]:
            self.add("trace.overhead_ratio",
                     statistics.median(self.iter_walls[True])
                     / statistics.median(self.iter_walls[False]))
        if self.uncovered:
            self.add("trace.uncovered_ratio", statistics.median(self.uncovered))
        per_layer = {}
        for name in per_layer_names():
            vals = self.layer.get(name)
            per_layer[name] = {
                "value": float(statistics.median(vals)) if vals else 0.0,
                "unit": per_layer_unit(name)[0],
            }
        return {
            "workload": self.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "correct": self.ops.failed == 0,
            "attempted": self.ops.attempted,
            "failed": self.ops.failed,
            "error_rate": self.ops.error_rate,
            "errors": self.ops.errors,
            "iterations": self.iterations,
            "measured_s": self.measured_s,
            "input_gen_s": self.inputs["gen_s"],
            "end_to_end": e2e,
            "per_layer": per_layer,
            "layer_samples": {k: len(v) for k, v in sorted(self.layer.items())},
            "untraced_span_s": _span_seconds(self.plain.spans),
            "detail": self.detail,
        }


class EtlCsv(Workload):
    """The reference pipeline: execute_run drives run_pipeline over a
    CSV directory, then a dashboard-style loop of preview + stats reads
    against the freshly overwritten table. One iteration is one pipeline
    run and its reads."""

    name = "etl_csv"
    TABLE = "products"
    ITERATION_S = 4.0

    def setup(self):
        from data_pipeline_csv_spark.control.state import RunRegistry
        from data_pipeline_csv_spark.engine import PipelineEngine

        self.engine = PipelineEngine(self.spark, os.path.join(self.work, "tables_etl"))
        self.registry = RunRegistry()
        self.csv = self.inputs["csv"]
        self.info = self.inputs["csv_info"]
        for _ in range(ETL_WARMUP_ITERATIONS):
            self.iteration(self.plain)
        self.writes.clear()
        self.reads_ms.clear()
        self.rows_per_s.clear()
        self.setup_done()

    def iteration(self, tr):
        from data_pipeline_csv_spark import engine as engine_module
        from data_pipeline_csv_spark.control.state import execute_run

        engine, table, csv = self.engine, self.TABLE, self.csv
        survivors = self.info["survivors"]
        run = self.registry.create({"source": csv, "table": table})
        # Traced, the program's own run_pipeline call is split into its
        # CSV read (schema inference) and its load (write plus re-read).
        with tr.wrap(engine_module, "read_csv_dir", "sources.read_csv_dir"), \
                tr.wrap(engine, "load", "engine.load"), \
                tr.span("control.execute_run") as sp:
            execute_run(self.registry, run.run_id,
                        lambda: engine.run_pipeline(csv, table).rows_written)
        spans = [sp]
        rec = self.registry.get(run.run_id)
        if self.ops.check("execute_run completed", rec.status == "completed",
                          rec.error or ""):
            self.writes.append(sp.seconds)
            self.rows_per_s.append(self.info["rows"] / sp.seconds)
        self.ops.check("rows_written", rec.records_processed == survivors,
                       f"{rec.records_processed} != {survivors}")
        for _ in range(ETL_READS_PER_RUN):
            with tr.span("etl.read") as rs:
                with tr.span("engine.preview"):
                    rows = self.ops.run("preview", engine.preview, table, 10)
                with tr.span("engine.stats"):
                    st = self.ops.run("stats", engine.stats, table)
            spans.append(rs)
            if rows is None or st is None:
                continue
            self.reads_ms.append(rs.seconds * 1e3)
            self.ops.check("preview rows", len(rows) == min(10, survivors), str(len(rows)))
            self.ops.check("stats total_records", st["total_records"] == survivors,
                           f"{st['total_records']} != {survivors}")
        if tr.enabled:
            for top in spans:
                for s in [top, *top.children]:
                    if s.name == "control.execute_run":
                        self.add("control.execute_run.self_s", s.self_s)
                    elif s.name != "etl.read":
                        self.record_span(s)
            self.add("etl.executor_cpu_s", sum(s.totals["executor_cpu_s"] for s in spans))
            self.add("etl.gc_s", sum(s.totals["gc_s"] for s in spans))

    def finish(self):
        table_bytes = dir_bytes(os.path.join(self.work, "tables_etl", self.TABLE), ".parquet")
        self.bytes_ratio = table_bytes / self.info["bytes"]
        self.detail["etl_rows_per_s"] = statistics.median(self.rows_per_s) if self.rows_per_s else None
        self.detail["csv"] = self.info


def _progress_listener():
    """A StreamingQueryListener that keeps every progress event (defined
    here because the base class is only usable once a session runs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({
                "run_id": str(p.runId),
                "rows": p.numInputRows,
                "batch_s": p.batchDuration / 1e3,
                "duration_ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class CorpusBatch(Workload):
    """Steady passes over a fixed mix of registry queries, each written
    to the noop sink, plus the change-feed side of the durable state.

    One pass runs the query mix, then drains the whole seeded orders
    change-feed split, one file per ``run_streaming_cdc_stats_merge``
    micro-batch, into a new empty ``write_stats_layout`` table: the first
    drain inserts, the second merges updates and deletes into what the
    first wrote. A burst of ``stats_pruned_scan`` box reads of that
    layout follows, outside the pass time. After every pass, untimed,
    the layout is checked against the ``streaming_cdc_stats_merge``
    oracle, which holds for any split of the feed.

    Set-up collects every query result for the oracle check (the check
    itself is excluded from ``setup_s``), which builds the build-once
    artifacts (IVF layout, PQ codes, centroids), then drains the first
    feed file once into a layout it drops."""

    name = "corpus_batch"
    COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    ITERATION_S = 12.0

    def setup(self):
        import numpy as np

        from data_pipeline_csv_spark.queries import REGISTRY, oracles
        from data_pipeline_csv_spark.testing.oracle import canon_multiset, duck_connection

        self.registry = REGISTRY
        self.sf = self.inputs["tables"]
        counts = self._table_rows()
        self.query_rows = sum(counts[t] for q in MIX for t in MIX_TABLES[q])
        self.n_orders = counts["orders"]
        self.box_rng = np.random.default_rng([self.seed, 3])
        self.listener = _progress_listener()
        self.spark.streams.addListener(self.listener)
        self.epochs: list[float] = []
        self.cycle = 0

        self.cdc_files = self.inputs["cdc_files"]
        self.feed_bytes = sum(os.path.getsize(f) for f in self.cdc_files)
        s = time.perf_counter()
        osql = oracles()
        con = duck_connection(self.sf)
        try:
            self.want_layout = canon_multiset(
                con.execute(osql["streaming_cdc_stats_merge"]).df())
            self.untimed_setup_s += time.perf_counter() - s
            for q in MIX:
                pdf = self.ops.run(q, lambda q=q: self.registry[q].fn(self.spark, self.sf).toPandas())
                c0 = time.perf_counter()
                if pdf is not None:
                    want = canon_multiset(con.execute(osql[q]).df())
                    self.ops.check(f"{q} oracle", canon_multiset(pdf) == want,
                                   f"{len(pdf)} rows")
                self.untimed_setup_s += time.perf_counter() - c0
        finally:
            con.close()
        clear_peak_rss()
        # One drain warms the streaming sink (a cold drain costs ~1 s
        # more); its layout is dropped, as each pass starts a new one.
        self._new_cycle()
        self._drain(self.plain, self.cdc_files[0])
        self.epochs.clear()
        self.setup_done()

    def _table_rows(self) -> dict:
        import pyarrow.parquet as pq

        return {
            t: pq.ParquetFile(os.path.join(self.sf, f"{t}.parquet")).metadata.num_rows
            for t in {"orders", *(t for q in MIX for t in MIX_TABLES[q])}
        }

    def _new_cycle(self) -> None:
        from data_pipeline_csv_spark.operators.layout import write_stats_layout
        from data_pipeline_csv_spark.sources.tables import load_table

        self.cycle += 1
        rd = os.path.join(self.work, "cdc_cycles", f"c{self.cycle}")
        self.layout = os.path.join(rd, "layout")
        self.staged = os.path.join(rd, "staged")
        self.checkpoint = os.path.join(rd, "checkpoint")
        os.makedirs(self.staged)
        self.stamp = time.time() - 1e5
        base = load_table(self.spark, self.sf, "orders").select(*self.COLS).limit(0)
        self.ops.run("write_stats_layout", write_stats_layout,
                     base, self.layout, ["o_orderkey"], 1)

    def _feed(self, tr):
        """Drain every feed file into a new layout; return the drain
        spans and the rows they merged."""
        self._new_cycle()
        spans, rows = [], 0
        for src in self.cdc_files:
            sp, n = self._drain(tr, src)
            spans.append(sp)
            rows += n
        return spans, rows

    def _drain(self, tr, src):
        """Stage one feed file and drain it as one span; return (span,
        rows). The file source replays in modification-time order, so
        each staged file gets a later time than the one before."""
        from data_pipeline_csv_spark.streaming import (
            read_events_stream,
            run_streaming_cdc_stats_merge,
        )

        dst = os.path.join(self.staged, os.path.basename(src))
        shutil.copyfile(src, dst)
        self.stamp += 10
        os.utime(dst, (self.stamp, self.stamp))

        spark = self.spark
        n0 = len(self.listener.events)
        before = dir_files(self.layout) if tr.enabled else {}
        with tr.span("streaming.cdc_merge") as sp:
            self.ops.run("cdc_merge", lambda: run_streaming_cdc_stats_merge(
                read_events_stream(spark, self.staged), spark, layout_path=self.layout,
                checkpoint=self.checkpoint, key_col="o_orderkey", layout_cols=self.COLS))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        events = [e for e in self.listener.events[n0:] if e["rows"] > 0]
        self.epochs.extend(e["batch_s"] for e in events)
        if tr.enabled:
            for run_id in sorted({e["run_id"] for e in events}):
                tr.absorb_group(sp, run_id)
            after = dir_files(self.layout)
            new = [p for p in after if p not in before]
            self.add("streaming.cdc_merge.files_written", len(new))
            self.add("streaming.cdc_merge.bytes_written", sum(after[p] for p in new))
            for e in events:
                d = e["duration_ms"]
                self.add("streaming.cdc_merge.add_batch_s", d.get("addBatch", 0) / 1e3)
                self.add("streaming.cdc_merge.wal_commit_s", d.get("walCommit", 0) / 1e3)
                self.add("streaming.cdc_merge.query_planning_s", d.get("queryPlanning", 0) / 1e3)
                self.add("streaming.cdc_merge.input_rows", e["rows"])
        return sp, sum(e["rows"] for e in events)

    def _scans(self, tr) -> None:
        """Box reads of the freshly merged layout (per-layer only)."""
        from data_pipeline_csv_spark.operators.layout import stats_pruned_scan

        for _ in range(SCANS_PER_PASS):
            lo = int(self.box_rng.integers(0, self.n_orders))
            hi = lo + self.n_orders // 10
            with tr.span("operators.layout.stats_pruned_scan") as sp:
                got = self.ops.run("stats_pruned_scan", _count_box,
                                   self.spark, stats_pruned_scan, self.layout, lo, hi)
            if got is not None and tr.enabled:
                self.record_span(sp)
                self.add("operators.layout.stats_pruned_scan.files_planned", got[1])

    def iteration(self, tr):
        jsc = self.spark.sparkContext._jsc
        spans, persisted = [], []
        for q in MIX:
            with tr.span(f"queries.{q}") as sp:
                self.ops.run(q, lambda q=q: self.registry[q].fn(self.spark, self.sf)
                             .write.format("noop").mode("overwrite").save())
            persisted.append(jsc.getPersistentRDDs().size())
            spans.append(sp)
            if q == READ_QUERY:
                self.reads_ms.append(sp.seconds * 1e3)
        drains, feed_rows = self._feed(tr)
        self._scans(tr)
        pass_s = sum(sp.seconds for sp in [*spans, *drains])
        self.writes.append(pass_s)
        self.rows_per_s.append((self.query_rows + feed_rows) / pass_s)
        self.detail.setdefault("persisted_rdds_after", []).append(max(persisted))
        if tr.enabled:
            for sp in spans:
                self.record_span(sp)
            self.add("batch.gc_s", sum(sp.totals["gc_s"] for sp in spans))
            self.add("batch.spill_bytes", sum(sp.totals["spill_bytes"] for sp in spans))
            self.add("batch.tasks", sum(sp.totals["tasks"] for sp in spans))
            self.add("batch.persisted_rdds_after", max(persisted))

    def after_iteration(self, tr):
        from data_pipeline_csv_spark.operators.layout import stats_pruned_scan
        from data_pipeline_csv_spark.testing.oracle import canon_multiset

        final = self.ops.run("final layout", lambda: stats_pruned_scan(
            self.spark, self.layout, {"o_orderkey": (None, None)}).select(*self.COLS).toPandas())
        if final is not None:
            self.ops.check("layout vs oracle", canon_multiset(final) == self.want_layout,
                           f"{len(final)} rows")
        if tr.enabled:
            _, files = stats_pruned_scan(self.spark, self.layout, {}, return_files=True)
            self.add("operators.layout.stats_pruned_scan.files_total", len(files))

    def finish(self):
        if self.epochs:
            self.add("streaming.cdc_merge.epoch_p50_s", statistics.median(self.epochs))
            self.add("streaming.cdc_merge.epoch_tail_s", tail(self.epochs)["value"])
            self.detail["merge_epoch_tail"] = tail(self.epochs)
        # Build-once artifacts live in temporary directories, which this
        # process keeps inside its work directory.
        stored = dir_bytes(os.path.join(self.work, "tmp"), ".parquet") + dir_bytes(self.layout)
        self.bytes_ratio = stored / (dir_bytes(self.sf, ".parquet") + self.feed_bytes)
        self.detail["batch_pass_s"] = statistics.median(self.writes) if self.writes else None
        self.detail["query_rows_per_pass"] = self.query_rows


def _span_seconds(spans) -> dict:
    out: dict = {}
    for sp in spans:
        out.setdefault(sp.name, []).append(round(sp.seconds, 4))
    return out


def _count_box(spark, stats_pruned_scan, layout, lo, hi):
    df, files = stats_pruned_scan(spark, layout, {"o_orderkey": (lo, hi)}, return_files=True)
    return df.count(), len(files)


WORKLOADS = {w.name: w for w in (EtlCsv, CorpusBatch)}
