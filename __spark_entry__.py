"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`hadoop_2_7_1_spark.queries` — the declared query
registry (one entry per implemented operator from SURVEY.md §2, each with its
DuckDB oracle SQL where SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_2_7_1_spark import queries as _q
from hadoop_2_7_1_spark.queries import QueryFn
from hadoop_2_7_1_spark.session import RESULT_CONF


def _pin(spark: SparkSession) -> None:
    """A session handed in here need not come from ``get_spark``: give it the
    runtime settings the results depend on before a query runs."""
    for key, value in RESULT_CONF.items():
        spark.conf.set(key, value)


def _pinned(fn: QueryFn) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing summary."""
    _pin(spark)
    return _q.REGISTRY["tq1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    return {name: _pinned(fn) for name, fn in _q.queries().items()}


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
