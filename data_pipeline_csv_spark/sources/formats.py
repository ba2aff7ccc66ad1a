"""Additional ingestion formats beyond the reference's CSV-only
surface: JSON Lines and Parquet, behind the same validation contract
(missing path -> FileNotFoundError, wrong suffix -> ValueError).

JSONL is the lingua franca of LLM training corpora; Spark's reader is
splittable per line, schema-inferring, and tolerant via PERMISSIVE
mode (malformed records land in ``_corrupt_record`` instead of killing
a 100 TB scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _validate(path: str, suffixes: tuple[str, ...]) -> None:
    if not os.path.exists(path):
        raise FileNotFoundError(f"Path not found: {path}")
    if os.path.isfile(path) and not path.lower().endswith(suffixes):
        raise ValueError(f"Unexpected file type (want {suffixes}): {path}")


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    permissive: bool = True,
) -> DataFrame:
    """JSON-Lines scan; PERMISSIVE keeps malformed rows as
    ``_corrupt_record`` (dead-letter) instead of failing the scan."""
    _validate(path, (".json", ".jsonl", ".ndjson"))
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    reader = reader.option("mode", "PERMISSIVE" if permissive else "FAILFAST")
    reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    _validate(path, (".parquet",))
    return spark.read.parquet(path)
