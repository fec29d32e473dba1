"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload tpch_interactive --seed 1 --seconds 10 --trace 0

Starts the worker process, which runs the workload on the reference tables
committed under ``perfbench/data``, checks every step's output against its
pinned digest and prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. One closed-loop
client: a single process runs the steps one after another on
``local[<cores>]``.

``setup_s`` is the workload process's cold start. Full records
(environment, per step times, errors) go to ``.perfbench/results``; spans
of a traced run go to ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import check, metrics, workloads  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
RUN_BUDGET_S = 170.0
DRIVER_MEM = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def child_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    tmp = os.path.join(work, "tmp")
    env.update({
        "PYTHONPATH": ROOT,  # the Python workers import the engine too
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_TERA_BIG": str(workloads.TERA_ROWS),
    })
    return env


def run_worker(args: list[str], env: dict[str, str], deadline: float) -> dict:
    """Run one worker process to completion and return its result JSON.
    Its output goes to our stderr; on timeout its whole process group is
    killed and waited for."""
    result = os.path.join(env["TMPDIR"], "..", f"result-{time.monotonic_ns()}.json")
    t_start = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", "--result", result, *args],
        cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("worker timed out") from None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # stray grandchildren, if any
        except ProcessLookupError:
            pass
    print(f"# perfbench: worker took {time.monotonic() - t_start:.2f} s", file=sys.stderr)
    if rc != 0:
        raise RuntimeError(f"worker exited with {rc}")
    with open(result) as fh:
        return json.load(fh)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_2_7_1_spark", "session.py")):
        print("perfbench: the engine package hadoop_2_7_1_spark is missing", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    env = child_env(work)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    try:
        t0 = time.time()
        res = run_worker([
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--trace-file", os.path.join(STATE, "traces", f"{tag}.jsonl"),
            "--work", work,
        ], env, deadline)
        setup_s = res["setup_done"] - t0
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        for path in [work, *workloads.tmp_targets()]:
            shutil.rmtree(path, ignore_errors=True)

    run = res["untraced"]
    attempted, failed = run["attempted"], run["failed"]
    if args.trace:
        attempted += res["traced"]["attempted"]
        failed += res["traced"]["failed"]
        values = res["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": run["wall_s"],
            "query_geomean_s": run["query_geomean_s"],
            "peak_rss_mb": run["peak_rss_mb"],
        }
    env_record = {
        **res["env"],
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "driver_heap": DRIVER_MEM,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        # share of CPU time the host took from this machine during the run
        "cpu_steal_frac": steal_frac(ticks_before, cpu_ticks()),
        "git_commit": git_commit(),
        "data": check.data_key(),
    }
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "metrics": values,
              "env": env_record, "run": res}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    shown = dict(values, fail_frac=failed / attempted)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} passes={run['passes']}: " + " ".join(
        f"{k}={v:.4g} {metrics.UNITS[k]}" for k, v in shown.items()
    ) + f" ({failed}/{attempted} steps failed)")
    for err in run["errors"] + res.get("traced", {}).get("errors", []):
        print(f"# failed: {err}")
    print(f"# env: {json.dumps(env_record)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
