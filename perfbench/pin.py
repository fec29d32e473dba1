"""Pin every benchmark step's output, cross-checked against its oracle.

    python3 -m perfbench.pin            # from the repository root

For each step of every workload: run it twice through the same observed
noop write the benchmark times (the row count and digest must repeat),
collect its rows and compare them exactly with the registry's DuckDB
``oracle`` SQL over the workload's input tables. ``bench_terasort_big`` is
also checked by its own ``n_records`` / ``n_misorder`` columns. Only when
every step agrees are the counts and digests written to
``perfbench/pins.json``. Re-run it whenever the input tables, ``TERA_ROWS``
or a step changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys


def main() -> int:
    from perfbench import run

    work = os.path.join(run.STATE, "pin-work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(run.child_env(work))

    import duckdb
    from pyspark.sql import Observation

    from hadoop_2_7_1_spark.io import TABLES
    from perfbench import check, workloads, worker

    w = {k: os.path.join(work, k) for k in ("tmp", "warehouse", "eventlog")}
    spark = worker.start_spark(w, event_log=False)
    oracles = {}
    for d in {wl.data for wl in workloads.WORKLOADS.values()}:
        con = oracles[d] = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(workloads.DATA_ROOT, d, t + '.parquet')}'")

    steps, problems = {}, []
    for wl in workloads.WORKLOADS.values():
        data = workloads.data_dir(wl.name)
        for name in wl.steps:
            fn = workloads.step_fn(name)
            seen = []
            for _ in range(2):
                workloads.reset_write_targets(w)
                workloads.drop_block_debris(spark)
                df = fn(spark, data)
                obs = Observation()
                df.observe(obs, *check.digest_exprs(df)).write.format("noop").mode("overwrite").save()
                seen.append(check.observed(obs.get))
            if seen[0] != seen[1]:
                problems.append(f"{name}: output differs between runs {seen}")
                continue
            workloads.reset_write_targets(w)
            got = fn(spark, data).toPandas()
            sql = workloads.oracle_sql(name)
            verdict = "none"
            if sql is not None:
                diff = check.frame_mismatch(got, oracles[wl.data].sql(sql).df())
                if diff:
                    problems.append(f"{name}: oracle mismatch: {diff}")
                    continue
                verdict = "match"
            if name == "bench_terasort_big":
                row = got.iloc[0]
                if int(row["n_records"]) != workloads.TERA_ROWS or int(row["n_misorder"]) != 0:
                    problems.append(f"{name}: bad self-check {row.to_dict()}")
                    continue
            steps[name] = {**seen[0], "oracle": verdict}
            print(f"# {name}: {steps[name]}", file=sys.stderr)
    workloads.reset_write_targets(w)
    worker.shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    pins = {"data": check.data_key(), "steps": steps}
    with open(check.PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
