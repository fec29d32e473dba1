"""Contract of the top-level ``__spark_entry__`` adapter: it serves the query
registry in registry order, with every oracle, its flagship ``entry`` query
matches its DuckDB oracle, and a session it did not build gets the settings
the results depend on."""

from __future__ import annotations

import __spark_entry__
from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import SF_DIR, assert_frames_match


def test_spark_entry_contract(spark, oracle):
    assert list(__spark_entry__.queries()) == list(REGISTRY)
    assert __spark_entry__.oracle_sql() == {n: s.oracle for n, s in REGISTRY.items()}

    name = "tq1_pricing_summary"
    spark_pdf = __spark_entry__.entry(spark).toPandas()
    duck_pdf = oracle.sql(REGISTRY[name].oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_spark_entry_pins_a_foreign_session(spark, oracle):
    """A session that did not come from ``get_spark``, with a local time
    zone and nanos-typed parquet off: without the adapter's settings the
    hour buckets of ``evt_tumbling_window`` shift by the UTC offset."""
    child = spark.newSession()
    child.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")

    name = "evt_tumbling_window"
    spark_pdf = __spark_entry__.queries()[name](child, SF_DIR).toPandas()
    duck_pdf = oracle.sql(REGISTRY[name].oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)
