"""Replica of the driver's t2 gate: every registered query vs its
DuckDB oracle, compared through the driver's exact pandas paths
(DuckDB ``.df()`` vs Spark ``toPandas()`` + type-sensitive canon).

Oracle-less queries still go through the canonicalizer, because the
driver canonicalizes rows-only results too (arrays crash it)."""

import pytest

from data_pipeline_csv_spark.queries import REGISTRY
from data_pipeline_csv_spark.testing.oracle import (
    compare_query,
    duck_connection,
    smoke_rows_only,
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


# Every oracle runs in the default suite. The chained oracles declare
# their CTEs MATERIALIZED, since DuckDB otherwise inlines a CTE at each
# reference: at sf0.001 corpus_e2e_prep's replay takes ~1.4 s in
# DuckDB (~33 s per test with the Spark side; inlined, the replay took
# ~257 s), text_bpe_merges ~13 s and text_bpe_encode ~4 s per test
# (inlined, the merges replay took ~325 s and the encode one ran out
# of memory on a 16 GB host).
@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    if spec.oracle is None:
        report = smoke_rows_only(spark, sf_dir, spec.fn)
        assert report["ok"], f"{name}: {report}"
        return
    report = compare_query(spark, sf_dir, spec.fn, spec.oracle, con=duck)
    assert report["ok"], f"{name}: {report}"
