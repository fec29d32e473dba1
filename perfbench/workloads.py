"""The benchmark's workloads: named lists of registry steps.

Every step is a registry query, ``queries.REGISTRY[name].fn(spark, sf_dir)``,
run unchanged, so the benchmark times the engine's own code. Each workload
reads one fixed copy of the engine's reference tables, committed under
``perfbench/data``; the smaller sf0.001 copy there serves the benchmark's
own tests.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# bench_terasort_big size: 500k records, ~21 MB of sort payload. The
# registry reads the variable at import, so workers set it before importing
# the registry.
TERA_ROWS = 500_000

# Registry steps that write to a fixed /tmp path named after the basename
# of the data directory. The data directories have benchmark-only names, so
# these paths belong to the benchmark alone; they are deleted before every
# pass and when a run ends.
TMP_TARGETS = ("/tmp/hadoop_2_7_1_spark_q15_{}", "/tmp/h271_snapcompact_{}")


@dataclass(frozen=True)
class Workload:
    name: str
    data: str
    steps: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpch_interactive",
            "perfbench_sf0.01",
            (
                "tq1_pricing_summary",
                "tq3_shipping_priority",
                "tq6_forecast_revenue",
                "tq13_customer_distribution",
            ),
        ),
        Workload(
            "sort_shuffle_write",
            "perfbench_sf0.01",
            ("bench_terasort_big", "q15_partitioned_write", "src_snapshot_compact"),
        ),
    )
}


def data_dir(workload: str) -> str:
    return os.path.join(DATA_ROOT, WORKLOADS[workload].data)


def step_fn(name: str):
    """Return the registry's ``fn(spark, sf_dir) -> DataFrame`` for a step."""
    from hadoop_2_7_1_spark.queries import REGISTRY

    return REGISTRY[name].fn


def oracle_sql(name: str) -> str | None:
    from hadoop_2_7_1_spark.queries import REGISTRY

    return REGISTRY[name].oracle


def all_steps() -> list[str]:
    return sorted({s for w in WORKLOADS.values() for s in w.steps})


def drop_block_debris(spark) -> None:
    """Unpersist the SQL cache and the RDD blocks ``localCheckpoint`` leaves
    behind, so a step never pays for an earlier step's heap."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def tmp_targets() -> list[str]:
    return [t.format(d) for d in sorted(os.listdir(DATA_ROOT)) for t in TMP_TARGETS]


def reset_write_targets(work: dict[str, str]) -> None:
    """Delete everything a pass writes: the registry's fixed /tmp targets
    and its scratch dirs under TMPDIR, so every pass writes the same bytes
    from scratch."""
    for path in tmp_targets():
        shutil.rmtree(path, ignore_errors=True)
    for entry in os.listdir(work["tmp"]):
        if entry.startswith(("h271_", "spark_graft_")):
            shutil.rmtree(os.path.join(work["tmp"], entry), ignore_errors=True)
