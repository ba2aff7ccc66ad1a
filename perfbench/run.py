"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_csv --seed 1 --seconds 20 --trace 0

Runs one workload (``etl_csv`` or ``corpus_batch``,
see workloads.py) from the root of a checkout of the repository, on
``local[<nproc>]``. Inputs are generated from ``--seed`` into
``.perfbench_work/`` and deleted afterwards; the full result goes to a
new file under ``.perfbench_results/``. Human-readable lines go first;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

Exits with code 2 and prints no result when the program package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_csv_spark"


def nproc() -> int:
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True,
                                  check=True).stdout.strip())
    except (OSError, ValueError, subprocess.CalledProcessError):
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """Driver heap: a quarter of physical memory, at least 1 GB and at
    most 4 GB, so the JVM never asks for more than the host has."""
    return max(1024, min(4096, total_mb // 4))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("etl_csv", "corpus_batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(work: str, cpus: int, heap_mb: int):
    from data_pipeline_csv_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        driver_memory=f"{heap_mb}m",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            # A committed heap and a fixed young generation keep the JVM's
            # peak resident set from following the collector's adaptive
            # sizing, which moved it by up to 70% between runs.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                f" -Xms{heap_mb}m -Xmn512m"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: program package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    for sub in ("tmp", "local", "warehouse", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Every temporary file of this process, the JVM and the Python
    # workers stays inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tempfile

    tempfile.tempdir = None

    import workloads  # noqa: E402 - needs the paths above

    cpus = nproc()
    total_mb = mem_total_mb()
    heap_mb = driver_memory_mb(total_mb)
    host = {
        "nproc": cpus,
        "mem_total_mb": total_mb,
        "driver_heap_mb": heap_mb,
        "python": platform.python_version(),
    }
    spark = None
    try:
        inputs = workloads.make_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        workloads.clear_peak_rss()
        t_setup = time.perf_counter()
        spark = _start_spark(work, cpus, heap_mb)
        get_spark_s = time.perf_counter() - t_setup
        host["spark"] = spark.version
        bench = workloads.WORKLOADS[args.workload](
            spark, args, work, inputs, t_setup, get_spark_s
        )
        bench.run()
        result = bench.result()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result["host"] = host
    result["run_id"] = run_id
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "x") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    for name, m in sorted(result["end_to_end"].items()):
        extra = f"  (p{m['p']:g} of n={m['n']})" if "p" in m else ""
        print(f"{name:24s} {m['value']:.6g} {m['unit']}{extra}")
    print(f"{'error_rate':24s} {result['error_rate']:.6g} ratio"
          f"  ({result['failed']} failed of {result['attempted']} attempted)")
    for err in result["errors"][:10]:
        print("  error:", err)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
