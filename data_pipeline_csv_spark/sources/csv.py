"""CSV sources with the reference's ingestion semantics (S1-S4).

Reference behavior being reproduced (Spark-first, not a port):

- S1 single-file scan: validate ``.csv`` suffix case-insensitively else
  ``ValueError``; missing path -> ``FileNotFoundError``; header row +
  full type inference (reference src/ingest.py:12-21, api.py:36-40).
- S2 directory scan: non-recursive, skip dotfiles, keep ``.csv`` any
  case, align columns BY NAME across heterogeneous files (missing ->
  null), error if no readable file (reference src/ingest.py:23-36).
- S3 error tolerance: a file that fails to parse is logged and
  skipped, the pipeline continues (reference src/ingest.py:27-32).

Spark mapping: ``spark.read.csv`` is lazy/distributed/splittable; the
by-name alignment uses per-file readers + ``unionByName(
allowMissingColumns=True)`` because a single multi-path read aligns by
position. Per-file error tolerance resolves each file's schema eagerly,
so a corrupt file is caught before the union is built; the header job
and inference scan run on the first read of each version of a file only,
and the schema cache (``sources/tables.py``) serves it after that.

Each file's schema resolution is a small job that leaves most cores
idle, so the directory scan resolves files concurrently: a thread pool of
``min(files, defaultParallelism)`` workers, each target wrapped with
``pyspark.util.inheritable_thread_target`` so its jobs run under the
caller's local properties (job group, description) and session tags —
``cancelJobGroup`` and job-group accounting see every inference job.
Inference stays per file (a joint multi-path inference would change
the types inferred for ragged inputs), and frames are unioned in
sorted-name order, so the result is the serial scan's result.

At scale: a directory of homogeneous CSVs should use the single
``spark.read.csv(dir)`` path (one distributed scan, no union plan);
``read_csv_dir`` keeps the reference's tolerant/heterogeneous
semantics for ragged inputs.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from .tables import _read_cached

logger = logging.getLogger(__name__)


def _validate_csv_path(path: str) -> None:
    if not os.path.exists(path):
        raise FileNotFoundError(f"Path not found: {path}")
    if os.path.isfile(path) and not path.lower().endswith(".csv"):
        raise ValueError(f"Not a CSV file: {path}")


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
) -> DataFrame:
    """Single-file CSV scan (reference S1). Explicit ``schema`` beats
    inference for production determinism; inference kept as the
    reference-parity default, run once per version of the file."""
    _validate_csv_path(path)
    reader = spark.read.options(header=header, inferSchema=infer_schema)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return _read_cached(reader, (path, header, infer_schema), path, lambda r: r.csv(path))


def read_csv_dir(
    spark: SparkSession,
    dir_path: str,
    header: bool = True,
    infer_schema: bool = True,
) -> DataFrame:
    """Tolerant non-recursive directory scan with by-name column
    alignment (reference S2+S3). Files resolve concurrently in the
    caller's job group; the union is in sorted-name order."""
    if not os.path.isdir(dir_path):
        raise FileNotFoundError(f"Directory not found: {dir_path}")
    names = sorted(
        f
        for f in os.listdir(dir_path)
        if not f.startswith(".")
        and f.lower().endswith(".csv")
        and os.path.isfile(os.path.join(dir_path, f))
    )

    def resolve(name: str) -> DataFrame | None:
        full = os.path.join(dir_path, name)
        try:
            # read_csv resolves the schema now, so a corrupt file is
            # caught here and skipped, like the reference's per-file try
            return read_csv(spark, full, header=header, infer_schema=infer_schema)
        except Exception as exc:  # noqa: BLE001 - reference skips any per-file failure
            logger.warning("Skipping unreadable CSV %s: %s", full, exc)
            return None

    frames: list[DataFrame] = []
    if names:
        workers = min(len(names), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            # wrapped per task in this thread: each target gets its own
            # copy of the caller's local properties (a shared copy would
            # let concurrent SQL executions overwrite each other's ids)
            futures = [
                pool.submit(inheritable_thread_target(spark)(resolve), name)
                for name in names
            ]
            frames = [df for f in futures if (df := f.result()) is not None]
    if not frames:
        raise FileNotFoundError(f"No readable CSV files in: {dir_path}")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
