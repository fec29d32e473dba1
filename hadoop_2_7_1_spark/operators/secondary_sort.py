"""Secondary sort (SURVEY.md §2.6).

Reference pattern (examples/SecondarySort.java:103-160): compound key
(k1,k2), partition by k1 (FirstPartitioner:133), sort by (k1,k2), group by k1
only (FirstGroupingComparator:145) — the reducer sees k1's values ordered by
k2. The grouping-comparator ≠ sort-comparator asymmetry maps to a sorted
collect per group, which avoids reifying per-group iterators on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_sorted_values(
    df: DataFrame,
    group_key: str,
    sort_key: str,
    value: str | None = None,
    extra_aggs: list | None = None,
) -> DataFrame:
    """Per group_key: array of values ordered by sort_key.

    Output: (group_key, values array). ``value`` defaults to the sort key
    itself (the SecondarySort example emits the sorted k2 stream).
    ``extra_aggs`` ride along in the same groupBy so sibling per-group stats
    cost no second scan/shuffle.
    """
    v = value or sort_key
    sorted_vals = F.expr(
        f"transform(sort_array(collect_list(struct({sort_key} AS __s, {v} AS __v))), s -> s.__v)"
    ).alias("values")
    return df.groupBy(group_key).agg(sorted_vals, *(extra_aggs or []))

