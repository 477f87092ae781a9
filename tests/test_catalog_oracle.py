"""Every catalog entry against its DuckDB oracle at sf0.001.

Each REGISTRY entry runs its Spark plan over the testdata tables, and an
entry with an oracle is compared with that SQL run by DuckDB over the
same parquet files, through ``tools/check_oracle.py``'s ``compare``
(columns sorted by name, floats rounded to 9 places, rows sorted). An
entry without an oracle (an approximate operator, held to its recall
gate elsewhere) only has to run.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from check_oracle import TABLES, compare  # noqa: E402

from data_prep_opensearch_spark.plans.queries import (  # noqa: E402
    ORACLE_SF_ENV,
    REGISTRY,
)

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not all(os.path.exists(f"{SF}/{t}.parquet") for t in TABLES),
    reason="driver testdata not present",
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(REGISTRY))
def test_entry_matches_oracle(spark, duck, monkeypatch, name):
    # data-dependent oracles (emb_ann_ivf's codebook) train on the scale
    # they are compared at
    monkeypatch.setenv(ORACLE_SF_ENV, SF)
    spec = REGISTRY[name]
    got = spec.fn(spark, SF).toPandas()
    if spec.sql is None:
        return
    sql = spec.sql() if callable(spec.sql) else spec.sql
    issues = compare(name, got, duck.execute(sql).fetchdf())
    assert not issues, issues


@pytest.mark.parametrize(
    "name", ["ft_bm25_explain", "ft_function_score", "ft_significant_terms"])
def test_engine_entry_leaves_no_cached_data(spark, name):
    """An entry that opens its own BM25 engine persists nothing: after two
    runs the session holds as many persisted RDDs as before."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    for _ in range(2):
        REGISTRY[name].fn(spark, SF).toPandas()
    assert sc._jsc.getPersistentRDDs().size() == before
