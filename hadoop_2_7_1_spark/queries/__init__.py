"""Declared query registry.

Every operator claimed done in SURVEY.md §2 registers here as a
(name → QuerySpec) entry: a PySpark callable ``(spark, sf_dir) -> DataFrame``
plus, when SQL-expressible, the equivalent DuckDB oracle SQL. The pytest
parity suite runs both sides at sf0.001 and hash-compares them.

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the comparison sorts columns by name before
hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


# Import query modules for their registration side effects.
from . import reference  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import extras  # noqa: E402,F401
