"""Contract of the top-level ``__spark_entry__`` adapter: it serves the query
registry in registry order, with every oracle, and its flagship ``entry``
query matches its DuckDB oracle."""

from __future__ import annotations

import __spark_entry__
from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import assert_frames_match


def test_spark_entry_contract(spark, oracle):
    assert list(__spark_entry__.queries()) == list(REGISTRY)
    assert __spark_entry__.oracle_sql() == {n: s.oracle for n, s in REGISTRY.items()}

    name = "tq1_pricing_summary"
    spark_pdf = __spark_entry__.entry(spark).toPandas()
    duck_pdf = oracle.sql(REGISTRY[name].oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)
