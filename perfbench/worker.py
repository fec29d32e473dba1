"""One benchmark process: start Spark, run a workload's passes, write a
result JSON. ``run.py`` starts it; it is not meant to be run by hand.

    python3 -m perfbench.worker --workload NAME --seed N --seconds S
        --trace 0|1 --result R --work W [--trace-file T]

Set-up is get_spark plus the first parquet read. A workload run then does
untimed warm-up passes (at least WARMUP_PASSES and WARMUP_S seconds) and
timed passes until ``--seconds`` have passed (at least MIN_TIMED_PASSES).
With ``--trace 1`` the seconds are split: an untraced phase with the same
warm-up, then a restart of the Spark context with the event log on and the
timing wrappers enabled, and a traced phase of the same steps with one
warm-up pass (at least one timed pass each). Both phases of a traced run
turn vectored parquet reads off, so that task input metrics count the bytes
scanned.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import threading
import time

from perfbench import check, workloads
from perfbench.tracing import Tracer, self_times

# A fresh JVM spends its first minutes compiling Spark's planner, scheduler
# and writer code on two to three cores of a 4-vCPU machine (the JIT
# compiler threads), so pass times keep falling for tens of passes. Timing starts
# after at least WARMUP_PASSES untimed passes and WARMUP_S seconds of them;
# the cap bounds a run on a slow machine.
WARMUP_PASSES = 3
WARMUP_S = 20.0
WARMUP_CAP_S = 45.0
MIN_TIMED_PASSES = 3
# The JIT compiles methods after a tenth of its default invocation and loop
# counts, so a run gets nearer the plateau within its warm-up. Only when
# code is compiled changes, not what it compiles to.
JIT_OPTS = "-XX:CompileThresholdScaling=0.1"


def spark_conf(work: dict[str, str], event_log: bool, count_scan_bytes: bool = False) -> dict[str, str]:
    java_opts = f"-Djava.io.tmpdir={work['tmp']} -XX:-UsePerfData {JIT_OPTS}"
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if heap:
        # The heap is committed and touched up front, so peak RSS does not
        # depend on when the collector chose to grow the heap.
        java_opts += f" -Xms{heap} -XX:+AlwaysPreTouch"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": work["warehouse"],
        "spark.driver.extraJavaOptions": java_opts,
    }
    if count_scan_bytes:
        # Vectored parquet reads (the parquet-hadoop default) bypass the
        # Hadoop byte counters, so task input metrics would count only the
        # footers. Traced runs read column chunks one by one instead.
        conf["spark.hadoop.parquet.hadoop.vectored.io.enabled"] = "false"
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + work["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(work: dict[str, str], event_log: bool, count_scan_bytes: bool = False):
    from hadoop_2_7_1_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(work, event_log, count_scan_bytes))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class RssSampler:
    """Peak summed RSS of a process and all its descendants (the driver
    JVM, the PySpark daemon and its Python workers), sampled from /proc."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root, self.interval = root_pid, interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def _rss(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        pids, next_scan = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_scan:
                pids, next_scan = self._tree(), now + 0.5
            rss = self._rss(pids)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def take(self) -> int:
        """Peak since the previous ``take`` (or the start); resets it to the
        current RSS."""
        rss = self._rss(self._tree())
        with self._lock:
            peak, self.peak = max(self.peak, rss), rss
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def disk_usage(roots: list[str]) -> tuple[int, int]:
    """(bytes, files) of the data files under ``roots``; hidden and
    ``_``-prefixed bookkeeping files (checksums, markers) are skipped."""
    size = files = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for name in names:
                if not name.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(dirpath, name))
                    files += 1
    return size, files


class Runner:
    def __init__(self, spark, workload: str, work: dict[str, str], tracer: Tracer, pins: dict):
        self.spark, self.data, self.work = spark, workloads.data_dir(workload), work
        self.tracer, self.pins = tracer, pins
        self.steps = {s: workloads.step_fn(s) for s in workloads.WORKLOADS[workload].steps}
        self.written: dict[str, dict[str, int]] = {}

    def _group(self, group: str | None, desc: str = "") -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group or "perfbench", desc)

    def _write_roots(self) -> list[str]:
        tmp = self.work["tmp"]
        scratch = [os.path.join(tmp, e) for e in os.listdir(tmp) if e.startswith(("h271_", "spark_graft_"))]
        return [*scratch, *workloads.tmp_targets()]

    def run_step(self, pass_id: str, step: str) -> dict:
        from pyspark.sql import Observation

        spark, tracer = self.spark, self.tracer
        trace = f"{pass_id}:{step}"
        self._group(None)
        workloads.drop_block_debris(spark)
        before = disk_usage(self._write_roots()) if tracer.enabled else None
        error = None
        t0 = time.perf_counter()
        with tracer.span(step, "step", trace=trace):
            try:
                self._group(f"{trace}|build", step)
                with tracer.span("build", "queries.build"):
                    df = self.steps[step](spark, self.data)
                obs = Observation()
                out = df.observe(obs, *check.digest_exprs(df))
                if tracer.enabled:
                    self._group(f"{trace}|plan", step)
                    with tracer.span("plan", "queries.plan"):
                        out._jdf.queryExecution().executedPlan()
                self._group(f"{trace}|exec", step)
                with tracer.span("exec", "queries.exec"):
                    out.write.format("noop").mode("overwrite").save()
                error = check.verify(step, check.observed(obs.get), self.pins)
            except Exception as exc:  # noqa: BLE001 — a failed step is counted, not fatal
                error = f"{type(exc).__name__}: {exc}"[:400]
        seconds = time.perf_counter() - t0
        if before is not None:
            after = disk_usage(self._write_roots())
            rec = self.written.setdefault(trace, {"bytes": 0, "files": 0})
            rec["bytes"] += max(0, after[0] - before[0])
            rec["files"] += max(0, after[1] - before[1])
        if error:
            print(f"# step {trace} failed: {error}", file=sys.stderr)
        return {"step": step, "seconds": seconds, "error": error}

    def run_pass(self, pass_id: str, order: list[str]) -> dict:
        self._group(None)
        workloads.reset_write_targets(self.work)
        t0 = time.perf_counter()
        steps = [self.run_step(pass_id, s) for s in order]
        return {"id": pass_id, "seconds": time.perf_counter() - t0, "steps": steps}

    def run_phase(self, tag: str, seed: int, seconds: float, min_passes: int,
                  warmups: int = 1, warm_s: float = 0.0) -> dict:
        """Untimed passes until ``warmups`` of them ran and ``warm_s``
        seconds have passed (or ``WARMUP_CAP_S``, after at least one pass),
        then timed passes until ``seconds`` have passed and at least
        ``min_passes`` ran. Every pass runs the steps in an order drawn from
        ``seed``."""
        names = list(self.steps)
        rng = random.Random(seed)

        def order() -> list[str]:
            rng.shuffle(names)
            return list(names)

        warm: list[dict] = []
        t_warm = time.perf_counter()
        while True:
            warm.append(self.run_pass(f"{tag}w{len(warm)}", order()))
            spent = time.perf_counter() - t_warm
            if spent >= WARMUP_CAP_S or (len(warm) >= warmups and spent >= warm_s):
                break
        passes = []
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
                rss.take()
                passes.append(self.run_pass(f"{tag}{len(passes)}", order()))
                passes[-1]["peak_rss_bytes"] = rss.take()
        return {"warmups": warm, "passes": passes}


def summarize(phase: dict) -> dict:
    """End-to-end figures of one phase. Every step's time is its median over
    the timed passes; ``wall_s`` is the sum and ``query_geomean_s`` the
    geometric mean of those medians, and ``peak_rss_mb`` the median of the
    passes' peaks, so one slow pass does not move a figure."""
    passes = phase["passes"]
    samples = {
        name: [s["seconds"] for p in passes for s in p["steps"] if s["step"] == name]
        for name in sorted({s["step"] for s in passes[0]["steps"]})
    }
    step_seconds = {name: statistics.median(v) for name, v in samples.items()}
    every = [s for p in [*phase["warmups"], *passes] for s in p["steps"]]
    return {
        "warmup_s": [p["seconds"] for p in phase["warmups"]],
        "warmup_step_seconds": {s["step"]: s["seconds"] for s in phase["warmups"][0]["steps"]},
        "pass_seconds": [p["seconds"] for p in passes],
        "wall_s": sum(step_seconds.values()),
        "query_geomean_s": math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in step_seconds.values())),
        "peak_rss_mb": statistics.median(p["peak_rss_bytes"] for p in passes) / 1e6,
        "attempted": len(every),
        "failed": sum(1 for s in every if s["error"]),
        "errors": sorted({f"{s['step']}: {s['error']}" for s in every if s["error"]}),
        "passes": len(passes),
        "step_seconds": step_seconds,
        "step_samples": samples,
    }


def traced_layers(runner: Runner, phase: dict, log_path: str, cores: int,
                  untraced_wall_s: float, get_spark_s: float, trace_path: str) -> dict:
    """Fold the traced phase's event log and spans into per-layer metrics,
    and write every span of the timed passes to ``trace_path``."""
    from perfbench import eventlog
    from perfbench.metrics import per_layer_values

    timed = {p["id"] for p in phase["passes"]}

    def keep(group: str | None) -> bool:
        return bool(group) and group.split(":", 1)[0] in timed

    folded = eventlog.fold(log_path, keep)
    counters: dict[str, float] = {}
    for c in folded["groups"].values():
        for k, v in c.items():
            counters[k] = max(counters.get(k, 0), v) if k == "peak_exec_mem_bytes" else counters.get(k, 0) + v

    spans = [s for s in runner.tracer.spans if s["trace"].split(":", 1)[0] in timed]
    phase_span = {(s["trace"], s["layer"].split(".")[-1]): s["id"] for s in spans}
    for s in folded["spans"]:
        trace, ph = s["trace"].split("|", 1)
        s["trace"] = trace
        if s["layer"] == "spark.job":
            s["parent"] = phase_span.get((trace, ph))
    spans += folded["spans"]
    span_totals: dict[str, float] = {}
    for s in spans:
        if s["layer"] in ("io.load_table", "io.write", "sources.write",
                          "queries.build", "queries.plan", "queries.exec"):
            span_totals[s["layer"]] = span_totals.get(s["layer"], 0.0) + s["end"] - s["start"]
    span_totals["io.load_table.calls"] = sum(1 for s in spans if s["layer"] == "io.load_table")

    written = {"bytes": 0, "files": 0, "input_bytes": 0}
    for trace, rec in runner.written.items():
        if trace.split(":", 1)[0] in timed and rec["bytes"]:
            written["bytes"] += rec["bytes"]
            written["files"] += rec["files"]
            written["input_bytes"] += folded["groups"].get(f"{trace}|build", {}).get("input_bytes", 0)

    pass_s = statistics.fmean(p["seconds"] for p in phase["passes"])
    values = per_layer_values(counters, span_totals, len(phase["passes"]), cores, pass_s,
                              summarize(phase)["wall_s"], untraced_wall_s, get_spark_s, written)
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as fh:
        fh.write(json.dumps({"summary": {"per_layer": values,
                                         "self_s": self_times(spans)}}) + "\n")
        for s in spans:
            fh.write(json.dumps(s) + "\n")
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-file")
    args = ap.parse_args(argv)
    work = {k: os.path.join(args.work, k) for k in ("tmp", "warehouse", "eventlog")}
    result: dict = {}

    tracer = Tracer()
    tracer.install()  # before the registry import binds load_table
    t0 = time.time()
    spark = start_spark(work, event_log=False, count_scan_bytes=bool(args.trace))
    result["get_spark_s"] = time.time() - t0
    spark.read.parquet(os.path.join(workloads.data_dir(args.workload), "lineitem.parquet")).count()
    result["setup_done"] = time.time()

    import pyspark

    result["env"] = {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    pins = check.load_pins()
    runner = Runner(spark, args.workload, work, tracer, pins)
    if not args.trace:
        result["untraced"] = summarize(runner.run_phase(
            "p", args.seed, args.seconds, MIN_TIMED_PASSES, WARMUP_PASSES, WARMUP_S))
    else:
        # The untraced phase warms the JVM, which the restarted context of
        # the traced phase finds warm.
        seconds, min_passes = args.seconds / 2, 1
        untraced = runner.run_phase("p", args.seed, seconds, min_passes, WARMUP_PASSES, WARMUP_S)
        result["untraced"] = summarize(untraced)
        cores = spark.sparkContext.defaultParallelism
        spark.stop()
        runner.spark = spark = start_spark(work, event_log=True, count_scan_bytes=True)
        tracer.enabled = True
        traced = runner.run_phase("t", args.seed, seconds, min_passes)
        tracer.enabled = False
        log = os.path.join(work["eventlog"], spark.sparkContext.applicationId)
        spark.stop()
        result["traced"] = summarize(traced)
        result["per_layer"] = traced_layers(
            runner, traced, log, cores, result["untraced"]["wall_s"],
            result["get_spark_s"], args.trace_file,
        )
    shutdown(spark)
    _write(args.result, result)
    return 0


def _write(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
