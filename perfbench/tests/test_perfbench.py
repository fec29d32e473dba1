"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The Spark smoke tests run on the committed sf0.001 tables and need about a
minute; the rest run in seconds.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import pytest

from perfbench import check, eventlog, metrics, workloads
from perfbench.tracing import Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
EVENTLOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.json.gz")


def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        m[:3] for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in metrics.PER_LAYER
    ]
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_per_layer_values_cover_every_declared_metric():
    values = metrics.per_layer_values(
        {"run_s": 4.0, "input_records": 10}, {"queries.build": 2.0}, 2, 4, pass_s=1.25,
        traced_wall_s=1.1, untraced_wall_s=1.0, get_spark_s=5.0,
        written={"bytes": 2_000_000, "files": 4, "input_bytes": 1_000_000},
    )
    assert list(values) == [m[0] for m in metrics.PER_LAYER]
    assert values["sched.core_busy_frac"] == pytest.approx(4.0 / (1.25 * 2 * 4))
    assert values["queries.build_s"] == 1.0
    assert values["write.bytes_per_input_byte"] == 2.0
    assert values["trace.overhead_frac"] == pytest.approx(0.1)


def test_pins_cover_every_step_for_the_current_data():
    pins = check.load_pins()
    assert pins["data"] == check.data_key()
    assert sorted(pins["steps"]) == workloads.all_steps()
    assert pins["steps"]["bench_terasort_big"]["rows"] == 1


def test_verify_flags_count_and_digest_mismatches():
    pins = {"steps": {"s": {"rows": 3, "digest": "17"}}}
    assert check.verify("s", {"rows": 3, "digest": "17"}, pins) is None
    assert "rows" in check.verify("s", {"rows": 4, "digest": "17"}, pins)
    assert "digest" in check.verify("s", {"rows": 3, "digest": "18"}, pins)
    assert check.verify("other", {"rows": 3, "digest": "17"}, pins) == "no pinned output"


def test_frame_mismatch_is_exact_and_order_independent():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.5, 2.0]})
    assert check.frame_mismatch(a, a.iloc[::-1][["v", "k"]]) is None
    assert "v" in check.frame_mismatch(a, a.assign(v=[1.5, 2.0 + 1e-12]))
    assert "row count" in check.frame_mismatch(a, a.iloc[:1])


def test_every_workload_reads_a_complete_table_set():
    from hadoop_2_7_1_spark.io import TABLES

    for name in workloads.WORKLOADS:
        files = os.listdir(workloads.data_dir(name))
        assert sorted(files) == sorted(f"{t}.parquet" for t in TABLES)
    data_dirs = sorted(os.listdir(workloads.DATA_ROOT))
    assert {w.data for w in workloads.WORKLOADS.values()} < set(data_dirs)
    assert set(check.data_key()["files"]) == {f"{d}/{t}.parquet" for d in data_dirs for t in TABLES}


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    """A log recorded from a two-step run (tq6_forecast_revenue and
    q20_pipe_wordcount) on the committed sf0.001 tables, once as warm-up
    pass ``tw`` and once as timed pass ``t0``; plan text and environment
    events trimmed."""
    path = tmp_path_factory.mktemp("log") / "eventlog.json"
    with gzip.open(EVENTLOG, "rt") as src, open(path, "w") as dst:
        shutil.copyfileobj(src, dst)
    return eventlog.fold(str(path), lambda g: bool(g) and g.startswith("t0:"))


def test_eventlog_fold_attributes_work_to_timed_job_groups(folded):
    groups = folded["groups"]
    assert all(g.startswith("t0:") for g in groups)
    q20 = groups["t0:q20_pipe_wordcount|exec"]
    assert q20["python_sent_bytes"] > 0 and q20["python_run_s"] > 0
    tq6 = groups["t0:tq6_forecast_revenue|exec"]
    assert tq6["input_records"] == 6000 and tq6["python_sent_bytes"] == 0
    # Task input bytes count what the parquet reader fetched (recorded with
    # vectored reads off, as traced runs do): the column chunks tq6 needs
    # plus a footer read per task, so the same order as the file itself.
    on_disk = os.path.getsize(os.path.join(workloads.DATA_ROOT, "perfbench_sf0.001", "lineitem.parquet"))
    assert 0.2 * on_disk < tq6["input_bytes"] < 2 * on_disk
    assert sum(c["tasks_failed"] for c in groups.values()) == 0


def test_eventlog_spans_form_a_job_stage_task_tree(folded):
    spans = folded["spans"]
    ids = {s["id"] for s in spans}
    for s in spans:
        assert s["end"] >= s["start"]
        if s["layer"] == "spark.job":
            assert s["parent"] is None
        else:
            assert s["parent"] in ids
    assert {s["layer"] for s in spans} == {"spark.job", "spark.stage", "spark.task"}


def test_tracer_spans_nest_and_skip_inner_calls_of_a_layer():
    tracer = Tracer()
    calls = []

    def inner():
        calls.append("inner")

    wrapped_inner = tracer.wrap(inner, "sources.write")

    def outer():
        wrapped_inner()

    wrapped_outer = tracer.wrap(outer, "sources.write")
    wrapped_outer()
    assert tracer.spans == []  # disabled: no spans
    tracer.enabled = True
    with tracer.span("step", "step", trace="t0:x"):
        wrapped_outer()
    assert [s["layer"] for s in tracer.spans] == ["sources.write", "step"]
    assert tracer.spans[0]["parent"] == tracer.spans[1]["id"]
    assert calls == ["inner", "inner"]


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 1, "parent": None, "layer": "step", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "build", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "exec", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 3, "layer": "spark.job", "start": 3.5, "end": 5.0},
    ]
    out = self_times(spans)
    assert out["step"] == pytest.approx(5.0)
    assert out["exec"] == pytest.approx(1.5)
    assert out["build"] == pytest.approx(3.0)


@pytest.fixture(scope="module")
def spark_tiny(tmp_path_factory):
    from perfbench import worker

    base = tmp_path_factory.mktemp("bench")
    work = {k: str(base / k) for k in ("tmp", "warehouse", "eventlog")}
    for d in work.values():
        os.makedirs(d)
    data = os.path.join(workloads.DATA_ROOT, "perfbench_sf0.001")
    spark = worker.start_spark(work, event_log=False)
    yield spark, data, work
    spark.stop()


def _digest(df):
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *check.digest_exprs(df)).write.format("noop").mode("overwrite").save()
    return check.observed(obs.get)


def test_digest_smoke_sf0001(spark_tiny):
    """The in-job digest ignores row order and partitioning but sees any
    changed value, and the step's rows match its DuckDB oracle."""
    import duckdb
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import TABLES

    spark, data, work = spark_tiny
    df = workloads.step_fn("tq3_shipping_priority")(spark, data)
    base = _digest(df)
    assert base["rows"] > 0
    assert _digest(df.repartition(7).orderBy(F.rand(1))) == base
    changed = _digest(df.withColumn("revenue", F.col("revenue") + F.lit(0.01)))
    assert changed["rows"] == base["rows"] and changed["digest"] != base["digest"]

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    oracle = con.sql(workloads.oracle_sql("tq3_shipping_priority")).df()
    assert check.frame_mismatch(df.toPandas(), oracle) is None


def test_reset_deletes_what_the_write_steps_wrote(spark_tiny):
    spark, data, work = spark_tiny
    workloads.reset_write_targets(work)
    for step in ("q15_partitioned_write", "src_snapshot_compact"):
        rows = workloads.step_fn(step)(spark, data).collect()
        assert len(rows) == 3  # one row per return flag
    written = [t.format("perfbench_sf0.001") for t in workloads.TMP_TARGETS]
    assert all(os.path.isdir(path) for path in written)
    assert set(written) <= set(workloads.tmp_targets())
    workloads.reset_write_targets(work)
    assert not any(os.path.exists(path) for path in written)
