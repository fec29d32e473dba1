"""Set operations (SURVEY.md §2.7).

Union = the reference's multi-path input / MultipleInputs
(mapreduce/lib/input/MultipleInputs.java:40): each source gets its own
"mapper" (a per-source projection into a common schema), then unionByName.
Intersect/except are not reference operators (expressible there as join
patterns) — exposed as engine extras on Spark built-ins.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame


def multiple_inputs(sources: list[tuple[DataFrame, Callable[[DataFrame], DataFrame]]]) -> DataFrame:
    """(df, per-source mapper) pairs -> one DataFrame, DelegatingMapper-style."""
    mapped = [fn(df) for df, fn in sources]
    return reduce(lambda a, b: a.unionByName(b), mapped)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)
