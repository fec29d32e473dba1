"""Fold Spark's JSON event log into per-job-group counters and spans.

The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``):
one JSON event per line. Every job, stage and task is attributed to the
job group (``sparkContext.setJobGroup``) of the job that ran it, so a
caller can sum the counters of any set of steps or phases.

Counter units are seconds, bytes and plain counts; SQL metrics are
converted from their declared type (``timing`` is milliseconds,
``nsTiming`` nanoseconds).
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Callable

# SQL metric name (as the operators declare it) -> (counter name, the
# metric type the operator declares it with). The declared type is used when
# no plan event in the log names the accumulator.
SQL_METRICS = {
    "scan time": ("scan_time_s", "timing"),
    "sort time": ("sort_time_s", "nsTiming"),
    "data sent to Python workers": ("python_sent_bytes", "size"),
    "data returned from Python workers": ("python_returned_bytes", "size"),
    "time to run Python workers": ("python_run_s", "nsTiming"),
    "time to start Python workers": ("python_start_s", "nsTiming"),
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk_plan(info: dict, types: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        types[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, types)


def fold(path: str, keep: Callable[[str | None], bool] = lambda g: True) -> dict:
    """Read the event log at ``path``. Returns ``{"groups": {group: Counter},
    "spans": [...]}`` for the job groups ``keep`` accepts.

    Spans are ``{trace: group, id, parent, name, layer, start, end}``
    for jobs, stages and tasks, each parented on the span that caused it;
    a job's parent is ``None`` (the caller links it to its own spans)."""
    types: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str | None, Counter] = {}
    jobs: dict[int, dict] = {}
    spans: list[dict] = []

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e.get("sparkPlanInfo", {}), types)
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in e.get("sqlPlanMetrics", []):
                    types[m["accumulatorId"]] = (m["name"], m["metricType"])
            elif kind == "SparkListenerJobStart":
                group = e.get("Properties", {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                    stage_job.setdefault(sid, e["Job ID"])
                if keep(group):
                    groups.setdefault(group, Counter())["jobs"] += 1
                    jobs[e["Job ID"]] = {
                        "trace": group, "id": f"j{e['Job ID']}", "parent": None,
                        "name": f"job {e['Job ID']}", "layer": "spark.job",
                        "start": e["Submission Time"] / 1e3, "end": None,
                    }
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(e["Job ID"])
                if job is not None:
                    job["end"] = e["Completion Time"] / 1e3
                    spans.append(job)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid, attempt = info["Stage ID"], info["Stage Attempt ID"]
                group = stage_group.get(sid)
                if not keep(group):
                    continue
                c = groups.setdefault(group, Counter())
                c["stages"] += 1
                c["stages_retried"] += attempt > 0
                peak = sum(
                    a.get("Value", 0) for a in info.get("Accumulables", [])
                    if a.get("Name") == "internal.metrics.peakExecutionMemory"
                )
                c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], peak)
                spans.append({
                    "trace": group, "id": f"s{sid}.{attempt}", "parent": f"j{stage_job[sid]}",
                    "name": info.get("Stage Name", f"stage {sid}")[:80], "layer": "spark.stage",
                    "start": info.get("Submission Time", 0) / 1e3,
                    "end": info.get("Completion Time", 0) / 1e3,
                })
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if keep(group):
                    _fold_task(e, groups.setdefault(group, Counter()), types)
                    info = e["Task Info"]
                    spans.append({
                        "trace": group, "id": f"t{info['Task ID']}",
                        "parent": f"s{e['Stage ID']}.{e['Stage Attempt ID']}",
                        "name": f"task {info['Task ID']}", "layer": "spark.task",
                        "start": info["Launch Time"] / 1e3, "end": info["Finish Time"] / 1e3,
                    })
    return {"groups": groups, "spans": spans}


def _fold_task(e: dict, c: Counter, types: dict[int, tuple[str, str]]) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    c["tasks"] += 1
    c["tasks_failed"] += bool(info.get("Failed")) or e["Task End Reason"]["Reason"] != "Success"
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    c["task_wait_s"] += max(0, info["Finish Time"] - info["Launch Time"] - run_ms - overhead_ms) / 1e3
    c["run_s"] += run_ms / 1e3
    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["spill_mem_bytes"] += m.get("Memory Bytes Spilled", 0)
    c["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics", {})
    c["input_bytes"] += inp.get("Bytes Read", 0)
    c["input_records"] += inp.get("Records Read", 0)
    sw = m.get("Shuffle Write Metrics", {})
    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    c["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    for acc in info.get("Accumulables", []):
        name, mtype = types.get(acc.get("ID"), (acc.get("Name"), None))
        if name not in SQL_METRICS:
            continue
        key, declared = SQL_METRICS[name]
        try:
            c[key] += float(acc["Update"]) * _SCALE.get(mtype or declared, 1.0)
        except (KeyError, TypeError, ValueError):
            continue
