"""The events contract's shared parts: the per-key cents series that the
hourly and daily operators build on, and a funnel that is a plan."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hadoop_2_7_1_spark.io import load_table
from hadoop_2_7_1_spark.operators.temporal import (
    _series,
    acf_hourly,
    holt_linear,
    theil_sen_hourly,
)
from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import SF_DIR


def _events(spark):
    """Two keys over three days. Key ``a`` has no event in hour 01:00 of
    the first day and one negative value."""
    rows = [
        ("a", "2024-01-01 00:10:00", 1.25),
        ("a", "2024-01-01 00:50:00", 2.50),
        ("a", "2024-01-01 02:05:00", -0.75),
        ("a", "2024-01-01 03:30:00", 4.00),
        ("a", "2024-01-02 01:00:00", 3.10),
        ("a", "2024-01-03 05:00:00", 0.60),
        ("b", "2024-01-01 00:00:00", 10.00),
        ("b", "2024-01-01 01:00:00", 5.00),
        ("b", "2024-01-01 02:00:00", 2.00),
        ("b", "2024-01-02 00:00:00", 1.00),
    ]
    return spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_series_sums_cents_per_hour_and_day(spark):
    ev = _events(spark)
    h0 = 1704067200 // 3600  # 2024-01-01 00:00 UTC
    d0 = 1704067200 // 86400

    def at(day, hour):
        return dt.datetime(2024, 1, day, hour)

    hourly = sorted(tuple(r) for r in _series(ev, "hour").collect())
    assert hourly == [
        ("a", at(1, 0), 375, h0),
        ("a", at(1, 2), -75, h0 + 2),  # hour 1 has no event: no row
        ("a", at(1, 3), 400, h0 + 3),
        ("a", at(2, 1), 310, h0 + 25),
        ("a", at(3, 5), 60, h0 + 53),
        ("b", at(1, 0), 1000, h0),
        ("b", at(1, 1), 500, h0 + 1),
        ("b", at(1, 2), 200, h0 + 2),
        ("b", at(2, 0), 100, h0 + 24),
    ]
    daily = sorted(tuple(r) for r in _series(ev, "day").collect())
    assert daily == [
        ("a", at(1, 0), 700, d0),
        ("a", at(2, 0), 310, d0 + 1),
        ("a", at(3, 0), 60, d0 + 2),
        ("b", at(1, 0), 1700, d0),
        ("b", at(2, 0), 100, d0 + 1),
    ]


def test_series_operators_keep_their_results(spark):
    """acf, Theil-Sen and Holt read their series through ``_series``; their
    results on the frame are pinned as exact literals."""
    ev = _events(spark)
    assert sorted(tuple(r) for r in acf_hourly(ev).collect()) == [
        ("a", 1, 1, -0.303746),
        ("a", 2, 1, -0.26292),
        ("a", 3, 1, 0.169215),
        ("b", 1, 2, 0.030612),
        ("b", 2, 1, -0.280612),
    ]
    assert sorted(tuple(r) for r in theil_sen_hourly(ev).collect()) == [
        ("a", 10, -4.090909),
        ("b", 6, -300.0),
    ]
    assert sorted(tuple(r) for r in holt_linear(ev).collect()) == [
        ("a", 3, 4179100, -270390, 3908710, 4506500),
        ("b", 2, 12200000, -480000, 11720000, 16000000),
    ]


def test_funnel_builds_without_a_job_and_leaves_no_rdd(spark):
    """Building the funnel queries is planning only: no Spark job runs until
    the frame is collected, and collecting leaves no persistent RDD."""
    sc = spark.sparkContext
    jsc = sc._jsc

    def jobs():
        jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    load_table(spark, SF_DIR, "events")  # a first resolve runs a job of its own
    for name in ("evt_funnel", "evt_funnel_windowed"):
        rdds = set(jsc.getPersistentRDDs().keys())
        before = jobs()
        df = REGISTRY[name].fn(spark, SF_DIR)
        assert jobs() == before, f"{name} ran a job while built"
        assert len(df.collect()) == 3
        assert set(jsc.getPersistentRDDs().keys()) <= rdds, (
            f"{name} left a persistent RDD"
        )
