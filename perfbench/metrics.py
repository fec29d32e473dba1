"""Metric definitions, and the end-to-end metric each per-layer metric
should move (``moves``: metric on workload). ``BENCHMARK.json`` lists the
same names; the tests keep the two in step."""

from __future__ import annotations

END_TO_END = [
    # name, unit, better, meaning
    ("setup_s", "s", "lower",
     "process start until get_spark returned and the first parquet read finished"),
    ("wall_s", "s", "lower",
     "one pass over the workload's steps, after the warm-up passes: the sum of each step's median time"),
    ("query_geomean_s", "s", "lower", "geometric mean of each step's median time"),
    ("peak_rss_mb", "MB", "lower",
     "peak RSS of the driver JVM plus Python workers in a timed pass, median over the passes"),
]

# fail_frac is printed with the end-to-end metrics but is not a gated
# metric: it reads 0 on correct code. attempted/failed carry it.
FAIL_FRAC = ("fail_frac", "ratio", "lower")

ALL = "all workloads"
TPCH, SSW = "tpch_interactive", "sort_shuffle_write"

PER_LAYER = [
    # name, unit, better, moves
    ("session.get_spark_s", "s", "lower", f"setup_s, {ALL}"),
    ("io.load_table.calls", "count", "lower", f"query_geomean_s on {TPCH}"),
    ("io.load_table_s", "s", "lower", f"query_geomean_s on {TPCH}"),
    ("scan.bytes_mb", "MB", "lower", f"wall_s on {TPCH}"),
    ("scan.records", "count", "lower", f"wall_s on {TPCH}"),
    ("scan.time_s", "s", "lower", f"wall_s on {TPCH}"),
    ("io.write_s", "s", "lower", f"wall_s and query_geomean_s on {SSW}; none on {TPCH}"),
    ("sources.write_s", "s", "lower", f"wall_s and query_geomean_s on {SSW}; none on {TPCH}"),
    ("write.bytes_mb", "MB", "lower", f"wall_s and query_geomean_s on {SSW}; none on {TPCH}"),
    ("write.files", "count", "lower", f"wall_s and query_geomean_s on {SSW}; none on {TPCH}"),
    ("write.bytes_per_input_byte", "ratio", "lower", f"wall_s and query_geomean_s on {SSW}"),
    ("queries.build_s", "s", "lower", f"query_geomean_s on {TPCH}; wall_s on {SSW}, whose write steps write inside fn"),
    ("queries.plan_s", "s", "lower", f"query_geomean_s on {TPCH}"),
    ("queries.exec_s", "s", "lower", f"wall_s, {ALL}"),
    ("sched.jobs", "count", "lower", f"query_geomean_s on {TPCH}"),
    ("sched.stages", "count", "lower", f"query_geomean_s on {TPCH}"),
    ("sched.tasks", "count", "lower", f"query_geomean_s on {TPCH}"),
    ("sched.task_wait_s", "s", "lower", f"query_geomean_s on {TPCH}"),
    ("sched.core_busy_frac", "ratio", "higher", f"wall_s, {ALL}"),
    ("sched.tasks_failed", "count", "lower", "wasted work, all workloads"),
    ("sched.stages_retried", "count", "lower", "wasted work, all workloads"),
    ("exec.run_s", "s", "lower", f"wall_s on {SSW}"),
    ("exec.cpu_s", "s", "lower", f"wall_s on {SSW}"),
    ("exec.gc_s", "s", "lower", f"wall_s on {SSW}"),
    ("exec.peak_mem_mb", "MB", "lower", f"peak_rss_mb on {SSW}"),
    ("shuffle.write_mb", "MB", "lower", f"wall_s on {SSW}; almost none on {TPCH}"),
    ("shuffle.records", "count", "lower", f"wall_s on {SSW}; almost none on {TPCH}"),
    ("shuffle.write_s", "s", "lower", f"wall_s on {SSW}; almost none on {TPCH}"),
    ("shuffle.read_mb", "MB", "lower", f"wall_s on {SSW}; almost none on {TPCH}"),
    ("shuffle.fetch_wait_s", "s", "lower", f"wall_s on {SSW}; almost none on {TPCH}"),
    ("sort.time_s", "s", "lower", f"wall_s on {SSW}; almost none on {TPCH}"),
    ("spill.mem_mb", "MB", "lower", f"wall_s on {SSW}; reads 0 when the working set fits"),
    ("spill.disk_mb", "MB", "lower", f"wall_s on {SSW}; reads 0 when the working set fits"),
    ("python.sent_mb", "MB", "lower", f"wall_s on {SSW} (terasort's Arrow check); 0 on {TPCH}"),
    ("python.returned_mb", "MB", "lower", f"wall_s on {SSW} (terasort's Arrow check); 0 on {TPCH}"),
    ("python.run_s", "s", "lower", f"wall_s on {SSW} (terasort's Arrow check); 0 on {TPCH}"),
    ("python.start_s", "s", "lower", f"wall_s on {SSW} (terasort's Arrow check); 0 on {TPCH}"),
    ("trace.overhead_frac", "ratio", "lower", "traced wall_s / untraced wall_s - 1"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
UNITS[FAIL_FRAC[0]] = FAIL_FRAC[1]

_MB = 1e6


def per_layer_values(counters: dict, spans: dict, n_passes: int, cores: int, pass_s: float,
                     traced_wall_s: float, untraced_wall_s: float,
                     get_spark_s: float, written: dict) -> dict[str, float]:
    """Per-layer metrics for one traced run, each a per-pass mean.

    ``counters``: event-log totals over the timed passes (eventlog names);
    ``spans``: benchmark span seconds and call counts over the same passes;
    ``pass_s``: mean duration of those passes; ``traced_wall_s`` and
    ``untraced_wall_s``: ``wall_s`` with and without tracing;
    ``written``: bytes and files the write steps left on disk, and the input
    bytes those steps read (task input metrics)."""
    c = {k: v / n_passes for k, v in counters.items()}
    s = {k: v / n_passes for k, v in spans.items()}
    busy = c.get("run_s", 0.0) / (pass_s * cores) if pass_s else 0.0
    return {
        "session.get_spark_s": get_spark_s,
        "io.load_table.calls": s.get("io.load_table.calls", 0.0),
        "io.load_table_s": s.get("io.load_table", 0.0),
        "scan.bytes_mb": c.get("input_bytes", 0.0) / _MB,
        "scan.records": c.get("input_records", 0.0),
        "scan.time_s": c.get("scan_time_s", 0.0),
        "io.write_s": s.get("io.write", 0.0),
        "sources.write_s": s.get("sources.write", 0.0),
        "write.bytes_mb": written["bytes"] / n_passes / _MB,
        "write.files": written["files"] / n_passes,
        "write.bytes_per_input_byte": (
            written["bytes"] / written["input_bytes"] if written["input_bytes"] else 0.0
        ),
        "queries.build_s": s.get("queries.build", 0.0),
        "queries.plan_s": s.get("queries.plan", 0.0),
        "queries.exec_s": s.get("queries.exec", 0.0),
        "sched.jobs": c.get("jobs", 0.0),
        "sched.stages": c.get("stages", 0.0),
        "sched.tasks": c.get("tasks", 0.0),
        "sched.task_wait_s": c.get("task_wait_s", 0.0),
        "sched.core_busy_frac": busy,
        "sched.tasks_failed": c.get("tasks_failed", 0.0),
        "sched.stages_retried": c.get("stages_retried", 0.0),
        "exec.run_s": c.get("run_s", 0.0),
        "exec.cpu_s": c.get("cpu_s", 0.0),
        "exec.gc_s": c.get("gc_s", 0.0),
        "exec.peak_mem_mb": counters.get("peak_exec_mem_bytes", 0.0) / _MB,
        "shuffle.write_mb": c.get("shuffle_write_bytes", 0.0) / _MB,
        "shuffle.records": c.get("shuffle_records", 0.0),
        "shuffle.write_s": c.get("shuffle_write_s", 0.0),
        "shuffle.read_mb": c.get("shuffle_read_bytes", 0.0) / _MB,
        "shuffle.fetch_wait_s": c.get("fetch_wait_s", 0.0),
        "sort.time_s": c.get("sort_time_s", 0.0),
        "spill.mem_mb": c.get("spill_mem_bytes", 0.0) / _MB,
        "spill.disk_mb": c.get("spill_disk_bytes", 0.0) / _MB,
        "python.sent_mb": c.get("python_sent_bytes", 0.0) / _MB,
        "python.returned_mb": c.get("python_returned_bytes", 0.0) / _MB,
        "python.run_s": c.get("python_run_s", 0.0),
        "python.start_s": c.get("python_start_s", 0.0),
        "trace.overhead_frac": traced_wall_s / untraced_wall_s - 1.0,
    }
