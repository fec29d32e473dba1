"""KeyFieldBased comparator/partitioner (SURVEY.md §2.3).

KeyFieldBasedComparator (mapreduce/lib/partition/KeyFieldBasedComparator.java:53)
implements Unix ``sort -k`` semantics over separator-delimited keys: per-field
flags ``n`` (numeric) and ``r`` (reverse). KeyFieldBasedPartitioner hashes a
field slice. Here a spec like ``"2nr,1n"`` (1-based field numbers, like sort)
compiles to a list of typed/ordered Column expressions usable in ``orderBy``
or ``repartition``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_FIELD_RE = re.compile(r"^(\d+)([nr]*)$")


def parse_sort_spec(spec: str) -> list[tuple[int, bool, bool]]:
    """``"2nr,1n"`` -> [(2, numeric=True, reverse=True), (1, True, False)]."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        m = _FIELD_RE.match(part)
        if not m:
            raise ValueError(f"bad key-field spec {part!r}")
        idx = int(m.group(1))
        flags = m.group(2)
        out.append((idx, "n" in flags, "r" in flags))
    return out


def sort_exprs(line_col: str, spec: str, sep: str = "\t") -> list[Column]:
    """Columns to order by, per the -k spec (fields are 1-based)."""
    exprs: list[Column] = []
    for idx, numeric, reverse in parse_sort_spec(spec):
        f = F.split(F.col(line_col), re.escape(sep)).getItem(idx - 1)
        if numeric:
            f = f.cast("double")
        exprs.append(f.desc() if reverse else f.asc())
    return exprs

