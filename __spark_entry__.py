"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query (the real segment-index BM25 engine)
on sf0.001; ``queries``/``oracle_sql`` expose the full catalog from
``data_prep_opensearch_spark.plans.queries`` — each Spark plan paired
with an ANSI-SQL DuckDB oracle where the operator is SQL-expressible
(approximate/stubbed operators are rows-only, as the contract allows).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_prep_opensearch_spark.plans.queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and
    answer a BM25 top-k query with the block-max MaxScore pruning
    kernel."""
    fn = REGISTRY["ft_bm25_engine_topk"].fn
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    # spec.sql may be a zero-arg callable for oracles whose SQL embeds
    # data-dependent literals (emb_ann_ivf re-derives its codebook from
    # the oracle-scale parquet); resolve those here
    return {
        name: (spec.sql() if callable(spec.sql) else spec.sql)
        for name, spec in REGISTRY.items()
        if spec.sql is not None
    }
