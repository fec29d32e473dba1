"""Differential oracle parity: every registered query with an oracle runs in
both PySpark and DuckDB over the same parquet; results must match under the
driver's canonicalization. Mirrors the reference's oracle pattern
(TestWordStats.java:49: reimplement independently, assert equality)."""

from __future__ import annotations

import pytest

from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import SF_DIR, assert_frames_match

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, oracle, name):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, SF_DIR).toPandas()
    duck_pdf = oracle.sql(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_no_rows_only_queries():
    """Every registered query carries a DuckDB oracle — the registry has
    had ZERO rows-only (weaker, count-only-checked) entries since round 6.
    This replaces a parametrize-over-the-rows-only-set runner that pytest
    reported as '1 skipped' on the empty set; if a rows-only query is ever
    added, this test fails loudly so a runner (and a COVERAGE.md note) is
    added deliberately rather than silently."""
    assert ROWS_ONLY_QUERIES == [], (
        "rows-only queries appeared; add an execution test and document "
        f"the weaker check: {ROWS_ONLY_QUERIES}"
    )


def test_float_aggregates_partition_invariant(spark):
    """The round-4 determinism contract: decimal-accumulated aggregates are
    BIT-IDENTICAL under any partitioning (1 vs 32 partitions changes the
    partial-sum grouping — a plain double sum drifts in the last ulp)."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    expr = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)")

    def revenue(df):
        rows = (
            df.groupBy("l_returnflag")
            .agg(F.sum(expr).cast("double").alias("r"))
            .collect()
        )
        return {row.l_returnflag: row.r for row in rows}

    a = revenue(li.coalesce(1))
    b = revenue(li.repartition(32))
    assert a == b  # exact float equality, not isclose

    # control: the naive double sum DOES drift between the same two
    # partitionings (this is why the decimal form exists) — if this ever
    # starts passing, the control is stale, not the engine fixed
    def naive(df):
        rows = (
            df.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
            .collect()
        )
        return {row.l_returnflag: row.r for row in rows}

    na, nb = naive(li.coalesce(1)), naive(li.repartition(32))
    for k in na:
        assert abs(na[k] - nb[k]) / max(abs(na[k]), 1.0) < 1e-9  # close but...
    # (not asserting inequality: the drift is probabilistic per dataset)


def test_pagerank_partition_invariant(spark):
    """Scaled-bigint contribution sums make the iterative state identical
    at any parallelism."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.graph import pagerank

    li = load_table(spark, SF_DIR, "lineitem").limit(2000)
    fwd = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    r1 = {r.node: r.rank_pr for r in pagerank(edges.coalesce(1), iterations=2).collect()}
    r32 = {r.node: r.rank_pr for r in pagerank(edges.repartition(32), iterations=2).collect()}
    assert r1 == r32


def test_time_to_convert_degenerate_no_conversions(spark, tmp_path):
    """With zero converting users both engines must emit the SAME single
    all-NULL-stats row (n_converted=0) — the round-4 advisor found the Spark
    side returned 0 rows while the ungrouped oracle aggregate returned 1."""
    import duckdb

    from hadoop_2_7_1_spark.io import load_table

    sf = str(tmp_path)
    ev = load_table(spark, SF_DIR, "events").filter("event_type <> 'purchase'")
    ev.coalesce(1).write.parquet(f"{sf}/events.parquet")

    spec = REGISTRY["evt_time_to_convert"]
    spark_pdf = spec.fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'")
    duck_pdf = con.sql(spec.oracle).df()
    con.close()
    assert len(spark_pdf) == 1
    assert spark_pdf["n_converted"].iloc[0] == 0
    assert_frames_match(spark_pdf, duck_pdf, "evt_time_to_convert/degenerate")
