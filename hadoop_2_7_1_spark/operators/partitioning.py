"""Partitioning / total-order sort (SURVEY.md §2.3, §2.6).

TotalOrderPartitioner + InputSampler (mapreduce/lib/partition/
TotalOrderPartitioner.java:50, InputSampler.java:314) sample input keys,
compute balanced split points, range-partition, then sort each partition
locally — exactly what Spark's ``repartitionByRange(...).
sortWithinPartitions(...)`` / ``orderBy`` does internally (it range-samples
the child RDD). Nothing to re-implement for plain total-order output.

What Spark does NOT give built-in is a *global rank* without collapsing to
one partition. ``global_sort_with_rank`` implements the scalable two-pass
scheme (the same idea as TeraSort's partition-id * partition-size offsets):

  1. range-partition + local sort,
  2. count rows per range partition (cheap scan),
  3. broadcast cumulative offsets, add to the within-partition row_number.

At 100 TB this is one extra count() over the sorted data instead of a
single-partition window; the window below partitions by the range-partition
id so every partition ranks independently.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def two_phase_prefix(
    df: DataFrame,
    sort_exprs: Sequence[Column],
    value: Column,
    out_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Inclusive running total of ``value`` in the global ``sort_exprs``
    order, without a data-sized global window: range partition + local
    cumulative sums, plus broadcast prefix offsets from the per-partition
    totals (one metadata row each). Shared scaffolding for global ranks
    (value = 1) and token-offset packing (value = n_tokens).

    Pass 1 is pinned with localCheckpoint so both downstream consumers (the
    totals scan and the prefixed join) see the SAME partition assignment —
    without it, correctness relies on Spark reusing the sampled range
    exchange across the two computations.
    """
    part = (
        df.withColumn("__v", value.cast("bigint"))
        .repartitionByRange(num_partitions, *sort_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    sizes = part.groupBy("__pid").agg(F.sum("__v").alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*sort_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.sum("__v").over(w_local) + F.col("__off")).cast("bigint"))
        .drop("__pid", "__off", "__v")
    )


def global_sort_with_rank(
    df: DataFrame,
    cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int = 32,
    ascending: Sequence[bool] | None = None,
) -> DataFrame:
    """Total-order sort + 1-based global rank, without a global window.

    ``cols`` must form a total order (unique combination) for the rank to be
    deterministic. Descending fields supported via ``ascending`` flags.
    Rank = two-phase prefix of the constant 1.
    """
    asc = ascending or [True] * len(cols)
    sort_exprs = [
        (F.col(c) if a else F.col(c).desc()) for c, a in zip(cols, asc)
    ]
    return two_phase_prefix(df, sort_exprs, F.lit(1), rank_col, num_partitions)


def hash_sample(df: DataFrame, col: str, modulus: int, keep: int = 0) -> DataFrame:
    """SequenceFileInputFilter.PercentFilter analogue
    (mapreduce/lib/input/SequenceFileInputFilter.java:153): keep rows whose
    key-hash bucket matches — deterministic scan-time sampling."""
    from ..functions import hex_hash32

    return df.filter(hex_hash32(col) % modulus == keep)


def binary_partition(
    df: DataFrame,
    col: str,
    num_partitions: int,
    left_offset: int = 0,
    right_offset: int = -1,
) -> DataFrame:
    """BinaryPartitioner (MRC/mapreduce/lib/partition/BinaryPartitioner.java:71):
    partition on a hash of a byte-range slice of a binary/string key.

    Offsets follow the reference's convention: ``right_offset`` is inclusive
    and may be negative (from the end). Expressed as repartition on a
    substring slice — stays a plain hash exchange.
    """
    c = F.col(col).cast("string")
    length = F.length(c)
    left = F.lit(left_offset + 1)
    right = length + right_offset + 1 if right_offset < 0 else F.lit(right_offset + 1)
    slice_expr = F.substring(c, F.lit(left_offset + 1).cast("int"), (right - left + 1).cast("int"))
    return df.repartition(num_partitions, slice_expr)


def zorder_value(col_a: str, col_b: str, bits: int = 16) -> Column:
    """Morton/Z-order key: interleave the low ``bits`` of two integer
    columns (a even positions, b odd) — JVM-side aggregate expression, no
    UDF. Clustering a table by this key gives BOTH columns locality, so
    parquet min/max stats prune point/range scans on either dimension.
    (Public lakehouse technique — Delta/Iceberg OPTIMIZE ZORDER; the
    reference has no analogue, its layouts are single-key MapFiles.)"""
    # bound variable named to never collide with user column names
    return F.expr(
        f"""aggregate(sequence(0, {bits - 1}), 0L, (acc, zb_) ->
              acc + shiftleft(shiftright(CAST({col_a} AS BIGINT), zb_) & 1, 2 * zb_)
                  + shiftleft(shiftright(CAST({col_b} AS BIGINT), zb_) & 1, 2 * zb_ + 1))"""
    )


def oracle_zorder_value(col_a: str, col_b: str, bits: int = 16) -> str:
    """DuckDB fragment computing the identical Morton key."""
    return (
        f"list_sum([ (({col_a} >> zb_) & 1) * (1::BIGINT << (2*zb_))"
        f" + (({col_b} >> zb_) & 1) * (1::BIGINT << (2*zb_ + 1))"
        f" for zb_ in range({bits}) ])"
    )


def zorder_layout(
    df: DataFrame, col_a: str, col_b: str, path: str, n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered by the Morton key of (col_a, col_b):
    repartitionByRange + sortWithinPartitions on the z-value, so each
    parquet file covers a compact 2-D tile and row-group min/max stats
    serve point predicates on either column. One range shuffle — the same
    cost as a plain sort-by-one-key layout."""
    z = zorder_value(col_a, col_b, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
