"""``io.load_table`` resolves each table once per session and file version,
and hands every caller a fresh instance of the resolved relation."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.rdd import RDD

from hadoop_2_7_1_spark.io import load_table

from .conftest import SF_DIR


def _jobs(spark) -> set[int]:
    """Ids of the jobs the session's context has run so far (the status
    store is fed asynchronously, so drain the listener bus first)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def test_warm_load_table_runs_no_job(spark):
    """Resolving a parquet table runs a schema-inference job; a second load
    of the same table in the same session reuses the resolved relation."""
    load_table(spark, SF_DIR, "lineitem")
    before = _jobs(spark)
    df = load_table(spark, SF_DIR, "lineitem")
    assert _jobs(spark) == before
    assert "l_orderkey" in df.columns


def test_two_loads_self_join_as_two_relations(spark):
    """Each load has its own attribute ids, as two reads would: the join
    condition compares two columns, not one column with itself."""
    a = load_table(spark, SF_DIR, "lineitem")
    b = load_table(spark, SF_DIR, "lineitem")
    path = os.path.join(SF_DIR, "lineitem.parquet")
    ra, rb = spark.read.parquet(path), spark.read.parquet(path)

    def pairs(x, y):
        joined = x.join(y, x.l_orderkey == y.l_orderkey)
        return sorted(joined.select(x.l_orderkey, x.l_linenumber, y.l_linenumber).collect())

    got = pairs(a, b)
    assert got == pairs(ra, rb)
    assert len(got) > a.count()  # orders with several lines pair across lines


def test_rewritten_table_is_resolved_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pd.DataFrame({"x": [1, 2]}).to_parquet(path)
    assert load_table(spark, str(tmp_path), "t").count() == 2

    pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]}).to_parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["x", "y"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_child_session_resolves_its_own_tables(spark):
    """A ``newSession()`` child has its own conf, so it resolves the table
    itself instead of reusing the parent's relation."""
    load_table(spark, SF_DIR, "orders")
    to_df = RDD.toDF  # the SparkSession constructor re-points rdd.toDF() at itself
    try:
        child = spark.newSession()
    finally:
        RDD.toDF = to_df
    before = _jobs(spark)
    df = load_table(child, SF_DIR, "orders")
    assert _jobs(spark) - before
    assert df.sparkSession._jsparkSession.equals(child._jsparkSession)
    relation = df._jdf.queryExecution().analyzed().relation()
    assert relation.sparkSession().equals(child._jsparkSession)
