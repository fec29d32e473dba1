"""Temporal joins the reference cannot express (SURVEY.md §2.5: "theta /
range / as-of / interval joins — not present; expose as engine extras").

Both operators avoid the naive O(|L|·|R|) comparison:

- as-of join: union both sides, one partition-sorted window pass carries the
  most recent right payload forward onto each left row. Cost = one shuffle on
  the `by` key + one sort — the same plan shape as a sort-merge join, and it
  never materializes candidate pairs. (This is how a backtest/trades-quotes
  as-of join should run at 100 TB: no per-row subquery, no range explosion.)
- interval (range) self-join: time is bucketed at the gap width; each left
  row probes its own and its successor bucket via an *equi*-join on
  (key, bucket), then the exact inequality filters residually. Shuffle is by
  (key, bucket) — skew-bounded, broadcastable when one side is small.

Every operator whose first argument is ``events`` reads the events table's
own columns, ``event_id``, ``user_id``, ``event_type``, ``ts`` and
``value``, and only those it uses; ``event_type`` is the series key. The
operators are composed from a few parts: the exact cents of a value
(:func:`_cents`), the per-key hourly or daily cents series
(:func:`_series`) and a nearest-rank median (:func:`_median`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_UNIT_SECONDS = {"hour": 3600, "day": 86400}


def _cents() -> Column:
    """``value`` in whole cents, an exact BIGINT: every sum, product and
    series of values in this module and in ``funnel`` starts from it."""
    return F.expr("cast(round(value * 100) as bigint)")


def _series(events: DataFrame, unit: str) -> DataFrame:
    """Per-``event_type`` cents series by ``unit`` ('hour' or 'day'):
    ``(k, bucket, y, t)``, with ``y`` the exact BIGINT cent sum of the
    bucket and ``t`` its index, epoch seconds div the unit's length. A
    bucket with no event has no row. The data-scale work is this one keyed
    aggregate; what callers build on it is calendar scale."""
    return (
        events.select(
            F.col("event_type").alias("k"),
            F.date_trunc(unit, F.col("ts")).alias("bucket"),
            _cents().alias("y"),
        )
        .groupBy("k", "bucket")
        .agg(F.sum("y").cast("bigint").alias("y"))
        .withColumn("t", F.expr(f"cast(bucket as bigint) div {_UNIT_SECONDS[unit]}"))
    )


def _median(df: DataFrame, key: str, col: str) -> DataFrame:
    """Nearest-rank median of ``col`` per ``key``: ``(key, col, n)`` from
    the row at rank ``(n + 1) div 2`` of the key's ``n`` rows — an exact
    order statistic, no interpolation, the same on any engine. ``div``,
    not ``/``: Spark's ``/`` is double and never matches an even ``n``."""
    return (
        df.select(
            key,
            col,
            F.row_number().over(Window.partitionBy(key).orderBy(col)).alias("rn"),
            F.count("*").over(Window.partitionBy(key)).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(key, col, "n")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str,
    right_ts: str,
    right_prefix: str = "r_",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` (per ``by`` group); left rows keep NULLs when no
    right row precedes them (ASOF LEFT JOIN semantics).

    ``tolerance_seconds`` bounds how stale the match may be (pandas
    merge_asof tolerance): a carried right row older than the bound is
    nulled out after the window pass — same single-shuffle plan.

    ``right`` must be unique per (by, right_ts) — pre-aggregate if not.
    """
    lcols = [c for c in left.columns]
    rcols = [c for c in right.columns if c not in by]

    rpay = F.struct(*[F.col(c) for c in rcols]).alias("_rpay")
    rpay_type = right.select(rpay).schema["_rpay"].dataType

    lside = left.select(
        *by,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in lcols]).alias("_lpay"),
        F.lit(None).cast(rpay_type).alias("_rpay"),
    )
    lpay_type = lside.schema["_lpay"].dataType
    rside = right.select(
        *by,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lpay_type).alias("_lpay"),
        rpay,
    )
    # Right rows sort before left rows at equal _ts, making the match
    # inclusive (right.ts == left.ts joins).
    w = (
        Window.partitionBy(*by)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = lside.unionByName(rside).withColumn(
        "_carried", F.last("_rpay", ignorenulls=True).over(w)
    )
    if tolerance_seconds is not None:
        # cast: no-op on TIMESTAMP, converts TIMESTAMP_NTZ (UTC session) so
        # unix_micros accepts either
        within = (
            F.unix_micros(F.col("_ts").cast("timestamp"))
            - F.unix_micros(F.col(f"_carried.{right_ts}").cast("timestamp"))
        ) <= tolerance_seconds * 1_000_000
        merged = merged.withColumn(
            "_carried",
            F.when(within, F.col("_carried")).otherwise(F.lit(None).cast(rpay_type)),
        )
    out_cols = [F.col(f"_lpay.{c}").alias(c) for c in lcols] + [
        F.col(f"_carried.{c}").alias(f"{right_prefix}{c}") for c in rcols
    ]
    return merged.filter(F.col("_side") == 1).select(*out_cols)


def range_self_join(
    df: DataFrame,
    by: list[str],
    gap_seconds: int,
) -> DataFrame:
    """Ordered event pairs (a, b) in the same ``by`` group with
    ``0 < b.ts - a.ts <= gap_seconds``, as ``(*by, id_a, id_b, gap_sec)``
    with ids from ``event_id``.

    Bucketed equi-join: a row's successor within `gap` lives in its own or
    the next time bucket, so each left row probes exactly two buckets —
    never a full per-key cross product.
    """
    gap_us = gap_seconds * 1_000_000
    ts = F.col("ts").cast("timestamp")  # tolerate TIMESTAMP_NTZ inputs
    e = df.select(
        *by,
        F.col("event_id").alias("_id"),
        F.unix_micros(ts).alias("_us"),
        F.floor(F.unix_micros(ts) / gap_us).alias("_bucket"),
    )
    probe = e.select(
        *by,
        F.col("_id").alias("id_a"),
        F.col("_us").alias("us_a"),
        F.explode(F.array(F.col("_bucket"), F.col("_bucket") + 1)).alias("_bucket"),
    )
    build = e.select(
        *by,
        F.col("_id").alias("id_b"),
        F.col("_us").alias("us_b"),
        "_bucket",
    )
    return (
        probe.join(build, [*by, "_bucket"])
        .filter(
            (F.col("us_b") > F.col("us_a"))
            & (F.col("us_b") - F.col("us_a") <= gap_us)
        )
        .select(
            *by,
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            ((F.col("us_b") - F.col("us_a")) / 1_000_000.0).cast("double").alias("gap_sec"),
        )
    )


def gap_fill_locf(events: DataFrame, width: str = "hour") -> DataFrame:
    """Regularize a sparse time series onto a dense bucket spine and fill
    gaps by carrying the last observation forward (LOCF) — the hypertable
    continuous-aggregate + locf() shape.

    The spine is sequence(min_bucket, max_bucket) exploded per key (its
    size is buckets x keys — bounded, not data-sized); observed buckets
    left-join onto it and a last-ignorenulls window carries values across
    gaps. One shuffle on the key for the window; the min/max scalars ride
    a broadcast cross join.
    """
    observed = (
        events.withColumn("bucket", F.date_trunc(width, F.col("ts")))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_observed"))
    )
    bounds = observed.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    keys = observed.select("event_type").distinct()
    spine = (
        keys.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr(f"interval 1 {width}"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = spine.join(observed, ["event_type", "bucket"], "left")
    return joined.select(
        "event_type",
        "bucket",
        F.coalesce("n_observed", F.lit(0)).cast("bigint").alias("n_observed"),
        F.last("n_observed", ignorenulls=True).over(w).cast("bigint").alias("n_filled"),
        F.col("n_observed").isNull().alias("is_gap"),
    )


def oracle_gap_fill_locf(
    table: str, key_col: str = "event_type", ts_col: str = "ts",
    width: str = "hour",
) -> str:
    return f"""
    WITH observed AS (
      SELECT {key_col}, date_trunc('{width}', {ts_col}) AS bucket,
             CAST(count(*) AS BIGINT) AS n_observed
      FROM {table} GROUP BY 1, 2
    ), bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM observed),
    spine AS (
      SELECT k.{key_col}, unnest(generate_series(lo, hi, INTERVAL 1 {width}))
               AS bucket
      FROM (SELECT DISTINCT {key_col} FROM observed) k, bounds
    )
    SELECT s.{key_col}, s.bucket,
           CAST(coalesce(o.n_observed, 0) AS BIGINT) AS n_observed,
           CAST(last_value(o.n_observed IGNORE NULLS) OVER (
             PARTITION BY s.{key_col} ORDER BY s.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_filled,
           o.n_observed IS NULL AS is_gap
    FROM spine s LEFT JOIN observed o
      ON s.{key_col} = o.{key_col} AND s.bucket = o.bucket
    """


def gap_fill_interpolate(events: DataFrame, width: str = "hour") -> DataFrame:
    """Dense-spine gap filling by LINEAR INTERPOLATION between the nearest
    observed buckets (the hypertable ``interpolate()`` twin of
    :func:`gap_fill_locf`).

    Per (key, bucket) the metric is the exact integer cent-sum of
    ``value`` (any ``date_trunc`` width, so not :func:`_series`); gaps get
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`` with
    bucket epoch-seconds as t — every input to the formula is an exact
    integer, so the interpolated double is the same IEEE value in both
    engines. Leading/trailing gaps fall back to the nearest single
    neighbor. Same scale shape as LOCF: bounded spine, one key-partitioned
    window (two ignore-nulls folds each direction).
    """
    observed = (
        events.withColumn("bucket", F.date_trunc(width, F.col("ts")))
        .groupBy("event_type", "bucket")
        .agg(F.sum(_cents()).alias("cents"))
    )
    bounds = observed.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    keys = observed.select("event_type").distinct()
    spine = keys.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr(f"interval 1 {width}"))).alias(
            "bucket"
        ),
    )
    joined = (
        spine.join(observed, ["event_type", "bucket"], "left")
        # Timestamp->bigint CAST is epoch seconds regardless of the session
        # timezone (unix_timestamp would re-interpret under a non-UTC
        # session tz and diverge from the oracle's epoch() across DST).
        .withColumn("pos", F.expr("cast(bucket as bigint)"))
        .withColumn("obs_pos", F.expr("case when cents is not null then pos end"))
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prepared = (
        joined.withColumn("prev_val", F.last("cents", ignorenulls=True).over(back))
        .withColumn("prev_pos", F.last("obs_pos", ignorenulls=True).over(back))
        .withColumn("next_val", F.first("cents", ignorenulls=True).over(fwd))
        .withColumn("next_pos", F.first("obs_pos", ignorenulls=True).over(fwd))
    )
    return prepared.select(
        "event_type",
        "bucket",
        F.col("cents").cast("bigint").alias("cents_observed"),
        F.expr(
            "case when cents is not null then cast(cents as double)"
            " when prev_val is not null and next_val is not null then"
            "   cast(prev_val as double) + (cast(next_val as double)"
            "     - cast(prev_val as double))"
            "   * (cast(pos - prev_pos as double) / (next_pos - prev_pos))"
            " when prev_val is not null then cast(prev_val as double)"
            " else cast(next_val as double) end"
        ).alias("filled"),
        F.col("cents").isNull().alias("is_gap"),
    )


def oracle_gap_fill_interpolate(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    width: str = "hour",
) -> str:
    """DuckDB mirror: epoch floored to BIGINT (Spark's timestamp->bigint
    cast semantics), identical interpolation arithmetic."""
    return f"""
    WITH observed AS (
      SELECT {key_col}, date_trunc('{width}', {ts_col}) AS bucket,
             sum(CAST(round({value_col} * 100) AS BIGINT)) AS cents
      FROM {table} GROUP BY 1, 2
    ), bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM observed),
    spine AS (
      SELECT k.{key_col}, unnest(generate_series(lo, hi, INTERVAL 1 {width}))
               AS bucket
      FROM (SELECT DISTINCT {key_col} FROM observed) k, bounds
    ),
    j AS (
      SELECT s.{key_col}, s.bucket, o.cents,
             CAST(floor(epoch(s.bucket)) AS BIGINT) AS pos,
             CASE WHEN o.cents IS NOT NULL
                  THEN CAST(floor(epoch(s.bucket)) AS BIGINT) END AS obs_pos
      FROM spine s LEFT JOIN observed o
        ON s.{key_col} = o.{key_col} AND s.bucket = o.bucket
    ),
    p AS (
      SELECT *,
             last_value(cents IGNORE NULLS) OVER (
               PARTITION BY {key_col} ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
             last_value(obs_pos IGNORE NULLS) OVER (
               PARTITION BY {key_col} ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_pos,
             first_value(cents IGNORE NULLS) OVER (
               PARTITION BY {key_col} ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
             first_value(obs_pos IGNORE NULLS) OVER (
               PARTITION BY {key_col} ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pos
      FROM j
    )
    SELECT {key_col}, bucket, CAST(cents AS BIGINT) AS cents_observed,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
                  CAST(prev_val AS DOUBLE) + (CAST(next_val AS DOUBLE)
                    - CAST(prev_val AS DOUBLE))
                  * (CAST(pos - prev_pos AS DOUBLE) / (next_pos - prev_pos))
                WHEN prev_val IS NOT NULL THEN CAST(prev_val AS DOUBLE)
                ELSE CAST(next_val AS DOUBLE) END AS filled,
           cents IS NULL AS is_gap
    FROM p
    """


# ---------------------------------------------------------------------------
# CUSUM change-point detection — the O(1)-state sequential recurrence in its
# parallel prefix form
# ---------------------------------------------------------------------------

def cusum_alarms(events: DataFrame, h_cents: int = 50_000) -> DataFrame:
    """One-sided CUSUM change detection per key: the textbook recurrence
    ``S_t = max(0, S_{t-1} + (x_t − k))`` rewritten in its parallel prefix
    form — ``S_t = P_t − min(0, min_{j≤t} P_j)`` with ``P`` the prefix sum
    of ``x − k`` — so the 'inherently sequential' monitor becomes two
    window folds (prefix sum + running min) over one key-partitioned sort,
    fully distributed and exactly integer (cents).

    The reference level ``k`` is the per-key floor-mean of cents (exact
    integer division of exact sums); an alarm fires when S exceeds
    ``h_cents``. Output per key: (key, n_points, max_s, n_alarms,
    first_alarm_ts).
    """
    base = events.select(
        F.col("event_type").alias("k"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("eid"),
        _cents().alias("c"),
    )
    ref = base.groupBy("k").agg(
        F.floor(F.sum("c") / F.count("*")).cast("bigint").alias("kref")
    )
    w = Window.partitionBy("k").orderBy("ts", "eid")
    run = (
        base.join(ref, "k")
        .withColumn("p", F.sum(F.col("c") - F.col("kref")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("pmin", F.min(F.least(F.col("p"), F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("s", F.col("p") - F.col("pmin"))
    )
    return run.groupBy(F.col("k").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.max("s").cast("bigint").alias("max_s"),
        F.sum(F.when(F.col("s") > h_cents, 1).otherwise(0))
        .cast("bigint")
        .alias("n_alarms"),
        F.min(F.when(F.col("s") > h_cents, F.col("ts"))).alias("first_alarm_ts"),
    )


def oracle_cusum_alarms(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    h_cents: int = 50_000,
) -> str:
    """DuckDB mirror of :func:`cusum_alarms` — identical integer prefix
    forms. floor() of the identical IEEE double ratio on both
    engines pins the reference level (a bare double->bigint CAST would
    truncate in Spark but round in DuckDB)."""
    return f"""
    WITH base AS (
      SELECT {key_col} AS k, {ts_col} AS ts, event_id AS eid,
             CAST(round({value_col} * 100) AS BIGINT) AS c
      FROM {table}
    ),
    ref AS (
      SELECT k, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS kref
      FROM base GROUP BY k
    ),
    pre AS (
      SELECT b.k, b.ts, b.eid,
             sum(b.c - r.kref) OVER (PARTITION BY b.k ORDER BY b.ts, b.eid
                                     ROWS UNBOUNDED PRECEDING) AS p
      FROM base b JOIN ref r USING (k)
    ),
    run AS (
      SELECT k, ts, p,
             min(least(p, 0)) OVER (PARTITION BY k ORDER BY ts, eid
                                    ROWS UNBOUNDED PRECEDING) AS pmin
      FROM pre
    ),
    scored AS (SELECT k, ts, p - pmin AS s FROM run)
    SELECT k AS {key_col},
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(s) AS BIGINT) AS max_s,
           CAST(coalesce(sum(CASE WHEN s > {h_cents} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_alarms,
           min(CASE WHEN s > {h_cents} THEN ts END) AS first_alarm_ts
    FROM scored GROUP BY k
    """


# ---------------------------------------------------------------------------
# LTTB downsampling (largest-triangle-three-buckets), bucket-average variant
# ---------------------------------------------------------------------------

def lttb_downsample(events: DataFrame, width: str = "day") -> DataFrame:
    """Per-key time-series downsampling to one representative point per
    ``width`` bucket, keeping the point that forms the LARGEST TRIANGLE
    with its neighbor buckets' average points (Steinarsson's LTTB) — the
    visually-faithful decimation used for dashboard rendering of long
    series.

    This is the bucket-average (parallel) variant: classic LTTB anchors
    each triangle at the previously SELECTED point, a strictly sequential
    dependency; anchoring both sides at neighbor-bucket AVERAGES keeps the
    visual property and makes every bucket independent — one per-bucket
    aggregate, one lag/lead window over the (tiny) bucket table, one
    per-bucket top-1. First/last buckets keep their first/last point
    (LTTB always pins the endpoints).

    Geometry runs on exact integers (epoch seconds, cents); the doubled
    triangle area is evaluated in double with the identical operation
    order in the oracle. Output: (key, bucket, ts, cents, n_bucket).
    """
    pts = events.select(
        F.col("event_type").alias("k"),
        F.date_trunc(width, F.col("ts")).alias("bucket"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("eid"),
        F.expr("cast(ts as bigint)").alias("x"),
        _cents().alias("y"),
    )
    bag = pts.groupBy("k", "bucket").agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.count("*").alias("n")
    )
    wb = Window.partitionBy("k").orderBy("bucket")
    nb = (
        bag.withColumn("xp", F.lag(F.expr("cast(sx as double) / n")).over(wb))
        .withColumn("yp", F.lag(F.expr("cast(sy as double) / n")).over(wb))
        .withColumn("xn", F.lead(F.expr("cast(sx as double) / n")).over(wb))
        .withColumn("yn", F.lead(F.expr("cast(sy as double) / n")).over(wb))
        .select("k", "bucket", "n", "xp", "yp", "xn", "yn")
    )
    joined = pts.join(nb, ["k", "bucket"])
    area2 = (
        "abs((xp - xn) * (cast(y as double) - yp)"
        " - (xp - cast(x as double)) * (yn - yp))"
    )
    score = (
        f"case when xp is null then cast(x as double)"
        f" when xn is null then -cast(x as double)"
        f" else -({area2}) end"
    )
    ws = Window.partitionBy("k", "bucket").orderBy(
        F.expr(score).asc(), F.col("ts").asc(), F.col("eid").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("event_type"),
            "bucket",
            "ts",
            F.col("y").cast("bigint").alias("cents"),
            F.col("n").cast("bigint").alias("n_bucket"),
        )
    )


def oracle_lttb_downsample(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    width: str = "day",
) -> str:
    area2 = (
        "abs((xp - xn) * (CAST(y AS DOUBLE) - yp)"
        " - (xp - CAST(x AS DOUBLE)) * (yn - yp))"
    )
    score = (
        f"CASE WHEN xp IS NULL THEN CAST(x AS DOUBLE)"
        f" WHEN xn IS NULL THEN -CAST(x AS DOUBLE)"
        f" ELSE -({area2}) END"
    )
    return f"""
    WITH pts AS (
      SELECT {key_col} AS k, date_trunc('{width}', {ts_col}) AS bucket,
             {ts_col} AS ts, event_id AS eid,
             CAST(floor(epoch({ts_col})) AS BIGINT) AS x,
             CAST(round({value_col} * 100) AS BIGINT) AS y
      FROM {table}
    ),
    bag AS (
      SELECT k, bucket, sum(x) AS sx, sum(y) AS sy, count(*) AS n
      FROM pts GROUP BY k, bucket
    ),
    nb AS (
      SELECT k, bucket, n,
             lag(CAST(sx AS DOUBLE) / n) OVER (PARTITION BY k ORDER BY bucket) AS xp,
             lag(CAST(sy AS DOUBLE) / n) OVER (PARTITION BY k ORDER BY bucket) AS yp,
             lead(CAST(sx AS DOUBLE) / n) OVER (PARTITION BY k ORDER BY bucket) AS xn,
             lead(CAST(sy AS DOUBLE) / n) OVER (PARTITION BY k ORDER BY bucket) AS yn
      FROM bag
    ),
    joined AS (
      SELECT p.*, nb.n, nb.xp, nb.yp, nb.xn, nb.yn
      FROM pts p JOIN nb USING (k, bucket)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY k, bucket
                                   ORDER BY {score} ASC, ts ASC, eid ASC) AS rn
      FROM joined
    )
    SELECT k AS {key_col}, bucket, ts,
           CAST(y AS BIGINT) AS cents, CAST(n AS BIGINT) AS n_bucket
    FROM ranked WHERE rn = 1
    """


def m4_downsample(events: DataFrame, width: str = "hour") -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (key, time bucket)
    keep min, max, first and last — the four points that make a
    pixel-perfect line rendering of an arbitrarily long series, and the
    standard companion to LTTB (:func:`lttb_downsample`) in time-series
    stores.

    ONE keyed aggregation, no window: first/last are lexicographic
    min/max over the exact-integer ``struct(epoch_second, cents)`` — a
    total order, so ties on the timestamp break on the value identically
    in any engine (the oracle's ordered-aggregate ``first(... ORDER BY
    x, y)`` is the same total order). All outputs exact integers.

    Output: (key, bucket, n_bucket, y_min, y_max, x_first, y_first,
    x_last, y_last) with x = epoch seconds, y = value cents.
    """
    pts = events.select(
        F.col("event_type").alias("k"),
        F.date_trunc(width, F.col("ts")).alias("bucket"),
        F.expr("cast(ts as bigint)").alias("x"),
        _cents().alias("y"),
    )
    return (
        pts.groupBy("k", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_bucket"),
            F.min("y").cast("bigint").alias("y_min"),
            F.max("y").cast("bigint").alias("y_max"),
            F.min(F.struct("x", "y")).alias("f"),
            F.max(F.struct("x", "y")).alias("l"),
        )
        .select(
            F.col("k").alias("event_type"),
            "bucket",
            "n_bucket",
            "y_min",
            "y_max",
            F.col("f.x").cast("bigint").alias("x_first"),
            F.col("f.y").cast("bigint").alias("y_first"),
            F.col("l.x").cast("bigint").alias("x_last"),
            F.col("l.y").cast("bigint").alias("y_last"),
        )
    )


def oracle_m4_downsample(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    width: str = "hour",
) -> str:
    return f"""
    WITH pts AS (
      SELECT {key_col} AS k, date_trunc('{width}', {ts_col}) AS bucket,
             CAST(floor(epoch({ts_col})) AS BIGINT) AS x,
             CAST(round({value_col} * 100) AS BIGINT) AS y
      FROM {table}
    )
    SELECT k AS {key_col}, bucket,
           CAST(count(*) AS BIGINT) AS n_bucket,
           CAST(min(y) AS BIGINT) AS y_min,
           CAST(max(y) AS BIGINT) AS y_max,
           CAST(first(x ORDER BY x, y) AS BIGINT) AS x_first,
           CAST(first(y ORDER BY x, y) AS BIGINT) AS y_first,
           CAST(last(x ORDER BY x, y) AS BIGINT) AS x_last,
           CAST(last(y ORDER BY x, y) AS BIGINT) AS y_last
    FROM pts GROUP BY k, bucket
    """


def seasonal_baseline(events: DataFrame) -> DataFrame:
    """Seasonal (day-of-week × hour) baseline profile with dispersion and
    the peak deviation — the ops-monitoring primitive behind "is this
    Tuesday 9am normal for Tuesdays at 9am?": per (series, dow, hour)
    cell, exact count and integer-cents sums yield mean, population
    stddev, and the maximum absolute residual WITHOUT a second pass —
    max|x - mean| = max(max_x - mean, mean - min_x), all from one keyed
    aggregation.

    Determinism: sums/min/max are exact BIGINT cents; mean/sd/peak are
    fixed-order IEEE chains on those exact inputs (sqrt is
    correctly-rounded by IEEE-754, unlike ln), rounded to 6dp. dow is
    0=Sunday..6 on both engines (Spark dayofweek()-1 ≡ DuckDB dayofweek).
    Output: (key, dow, hour, n, avg_cents, sd_cents, peak_resid, peak_z).
    """
    cells = events.select(
        F.col("event_type").alias("k"),
        (F.dayofweek(F.col("ts")) - 1).cast("int").alias("dow"),
        F.hour(F.col("ts")).cast("int").alias("hour"),
        _cents().alias("y"),
    )
    agg = cells.groupBy("k", "dow", "hour").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
        F.min("y").cast("bigint").alias("mn"),
        F.max("y").cast("bigint").alias("mx"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("ss").cast("double") / F.col("n").cast("double") - mean * mean
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    peak = F.greatest(F.col("mx").cast("double") - mean, mean - F.col("mn").cast("double"))
    return agg.select(
        F.col("k").alias("event_type"),
        "dow",
        "hour",
        "n",
        F.round(mean, 6).alias("avg_cents"),
        F.round(sd, 6).alias("sd_cents"),
        F.round(peak, 6).alias("peak_resid"),
        F.when(sd > 0, F.round(peak / sd, 6)).otherwise(F.lit(None)).alias("peak_z"),
    )


def oracle_seasonal_baseline(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    return f"""
    WITH cells AS (
      SELECT {key_col} AS k,
             CAST(dayofweek({ts_col}) AS INT) AS dow,
             CAST(hour({ts_col}) AS INT) AS hour,
             CAST(round({value_col} * 100) AS BIGINT) AS y
      FROM {table}
    ),
    agg AS (
      SELECT k, dow, hour, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s, CAST(sum(y * y) AS BIGINT) AS ss,
             CAST(min(y) AS BIGINT) AS mn, CAST(max(y) AS BIGINT) AS mx
      FROM cells GROUP BY k, dow, hour
    )
    SELECT k AS {key_col}, dow, hour, n,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_cents,
           round(sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)), 6) AS sd_cents,
           round(greatest(CAST(mx AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - CAST(mn AS DOUBLE)), 6)
             AS peak_resid,
           CASE WHEN sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) > 0
                THEN round(greatest(CAST(mx AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
                     CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - CAST(mn AS DOUBLE))
                     / sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)), 6)
           END AS peak_z
    FROM agg
    """


def ewma_hourly(events: DataFrame, alpha: float = 0.3, max_lag: int = 48) -> DataFrame:
    """Exponentially weighted moving average over hourly bucket sums —
    the standard smoothing baseline for monitoring/forecast residuals,
    computed WITHOUT a sequential recurrence so both engines replay it
    exactly: s_t = Σ_{k=0..max_lag} w_k * y_{t-k} with
    w_k = alpha*(1-alpha)^k (truncated-window EWMA; the tail beyond
    max_lag carries (1-alpha)^max_lag ≈ 3e-8 of the mass at the
    defaults, below the 6dp output rounding).

    The weights are PYTHON-evaluated doubles injected into both engines
    as literals (the pagerank-constants discipline), so pow() never runs
    in-engine (its rounding is not cross-engine portable; IEEE only
    guarantees sqrt). Each term y*w_k is one double multiply rounded to
    DECIMAL(38,6); the per-t sum of those decimals is EXACT — the
    unigram_logprob summation discipline, so any join order matches.

    Shape: hourly aggregation first (data-scale work, one keyed
    shuffle), then the lag expansion is a bounded self-equi-join of the
    BUCKET frame with itself on (key, t-k) — Σ buckets * max_lag rows,
    metadata scale. Output: (key, bucket, y_cents, ewma_cents).
    """
    weights = [alpha * (1.0 - alpha) ** k for k in range(max_lag + 1)]
    w_arr = "array(" + ", ".join(repr(w) for w in weights) + ")"
    hourly = _series(events, "hour")
    lags = hourly.select(
        "k",
        F.col("t").alias("t_src"),
        F.col("y").alias("y_lag"),
        F.explode(F.sequence(F.lit(0), F.lit(max_lag))).alias("lag"),
    ).select("k", (F.col("t_src") + F.col("lag")).alias("t"), "y_lag", "lag")
    terms = lags.withColumn(
        "term",
        F.expr(f"cast(cast(y_lag as double) * element_at({w_arr}, lag + 1)"
               f" as decimal(38,6))"),
    )
    sm = terms.groupBy("k", "t").agg(F.sum("term").alias("s"))
    return (
        hourly.join(sm, ["k", "t"])
        .select(
            F.col("k").alias("event_type"),
            "bucket",
            F.col("y").alias("y_cents"),
            F.round(F.col("s").cast("double"), 6).alias("ewma_cents"),
        )
    )


def oracle_ewma_hourly(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    max_lag: int = 48,
) -> str:
    weights = [alpha * (1.0 - alpha) ** k for k in range(max_lag + 1)]
    w_case = (
        "CASE l.lag "
        + " ".join(f"WHEN {k} THEN CAST({w!r} AS DOUBLE)" for k, w in enumerate(weights))
        + " END"
    )
    return f"""
    WITH hourly AS (
      SELECT {key_col} AS k, date_trunc('hour', {ts_col}) AS bucket,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y_cents,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS t
      FROM {table} GROUP BY 1, 2, 4
    ),
    lags AS (
      SELECT h.k, h.t + l.lag AS t, h.y_cents AS y_lag, l.lag
      FROM hourly h, (SELECT CAST(u.x AS INT) AS lag
                      FROM UNNEST(range(0, {max_lag + 1})) AS u(x)) l
    ),
    sm AS (
      SELECT k, t,
             sum(CAST(CAST(y_lag AS DOUBLE) * ({w_case}) AS DECIMAL(38,6))) AS s
      FROM lags l GROUP BY k, t
    )
    SELECT h.k AS {key_col}, h.bucket, h.y_cents,
           round(CAST(sm.s AS DOUBLE), 6) AS ewma_cents
    FROM hourly h JOIN sm ON h.k = sm.k AND h.t = sm.t
    """


def acf_hourly(events: DataFrame, max_lag: int = 3) -> DataFrame:
    """Autocorrelation function of the hourly bucket-sum series per key,
    lags 1..max_lag — the seasonality/persistence detector (a daily cycle
    shows as a peak at lag 24): ACF_l = Σ dev_t*dev_{t+l} / Σ dev_t²
    with dev = y - mean.

    Determinism: hourly sums are exact cents; the mean is ONE division;
    each deviation product is a fixed-order double rounded to
    DECIMAL(38,6) before the EXACT per-(key,lag) decimal sum (the
    unigram_logprob discipline), so join order cannot move the result.
    The lag join runs on the BUCKET frame (calendar scale), not events.
    Output: (key, lag, n_pairs, acf).
    """
    hourly = _series(events, "hour")
    stats = hourly.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("s")
    )
    dev = hourly.join(stats, "k").select(
        "k",
        "t",
        (F.col("y").cast("double") - F.col("s").cast("double") / F.col("n").cast("double"))
        .alias("d"),
    )
    den = dev.select(
        "k", F.expr("cast(d * d as decimal(38,6))").alias("dd")
    ).groupBy("k").agg(F.sum("dd").alias("den"))
    lagged = dev.select(
        "k",
        F.col("t").alias("t2"),
        F.col("d").alias("d2"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    ).select("k", (F.col("t2") - F.col("lag")).alias("t"), "d2", "lag")
    pairs = dev.join(lagged, ["k", "t"]).select(
        "k", "lag", F.expr("cast(d * d2 as decimal(38,6))").alias("num1")
    )
    num = pairs.groupBy("k", "lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"), F.sum("num1").alias("num")
    )
    return num.join(den, "k").select(
        F.col("k").alias("event_type"),
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
            "acf"
        ),
    )


def oracle_acf_hourly(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    max_lag: int = 3,
) -> str:
    return f"""
    WITH hourly AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS t,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    ),
    stats AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM hourly GROUP BY k
    ),
    dev AS (
      SELECT h.k, h.t,
             CAST(h.y AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE) AS d
      FROM hourly h JOIN stats st ON h.k = st.k
    ),
    den AS (
      SELECT k, sum(CAST(d * d AS DECIMAL(38,6))) AS den FROM dev GROUP BY k
    ),
    lags AS (SELECT CAST(u.x AS INT) AS lag FROM UNNEST(range(1, {max_lag + 1})) u(x)),
    pairs AS (
      SELECT a.k, l.lag, CAST(a.d * b.d AS DECIMAL(38,6)) AS num1
      FROM dev a JOIN lags l ON true
                 JOIN dev b ON a.k = b.k AND b.t = a.t + l.lag
    ),
    num AS (
      SELECT k, lag, CAST(count(*) AS BIGINT) AS n_pairs, sum(num1) AS num
      FROM pairs GROUP BY k, lag
    )
    SELECT n.k AS {key_col}, CAST(n.lag AS INT) AS lag, n.n_pairs,
           round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS acf
    FROM num n JOIN den d ON n.k = d.k
    """


def ccf_hourly(
    events: DataFrame, type_a: str, type_b: str, max_lag: int = 3
) -> DataFrame:
    """Cross-correlation between two event types' hourly bucket-sum
    series at lags −max_lag..+max_lag — the lead/lag detector (a positive
    peak at lag +2 means A leads B by two hours):
    CCF_l = Σ devA_t·devB_{t+l} / sqrt(Σ devA² · Σ devB²).

    Same determinism discipline as :func:`acf_hourly`: exact cents bucket
    sums, ONE mean division per series, every deviation product rounded to
    DECIMAL(38,6) before the exact per-lag decimal sum; sqrt runs once on
    exact decimal inputs cast to double. The lag join runs on the
    calendar-scale bucket frames, never on events.
    Output: (lag, n_pairs, ccf).
    """
    hourly = _series(events.filter(F.col("event_type").isin([type_a, type_b])), "hour")
    stats = hourly.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("s")
    )
    dev = hourly.join(F.broadcast(stats), "k").select(
        "k",
        "t",
        (F.col("y").cast("double") - F.col("s").cast("double") / F.col("n").cast("double"))
        .alias("d"),
    )
    den = (
        dev.select("k", F.expr("cast(d * d as decimal(38,6))").alias("dd"))
        .groupBy("k")
        .agg(F.sum("dd").alias("ss"))
        .groupBy()
        .pivot("k", [type_a, type_b])
        .agg(F.first("ss"))
        .select(
            F.sqrt(F.col(f"`{type_a}`").cast("double") * F.col(f"`{type_b}`").cast("double"))
            .alias("den")
        )
    )
    a = dev.filter(F.col("k") == type_a).select(F.col("t").alias("t"), F.col("d").alias("da"))
    b = dev.filter(F.col("k") == type_b).select(
        F.col("t").alias("tb"),
        F.col("d").alias("db"),
        F.explode(F.sequence(F.lit(-max_lag), F.lit(max_lag))).alias("lag"),
    )
    pairs = a.join(b.withColumn("t", F.col("tb") - F.col("lag")), "t").select(
        "lag", F.expr("cast(da * db as decimal(38,6))").alias("p")
    )
    num = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"), F.sum("p").alias("num")
    )
    return (
        num.join(F.broadcast(den), how="cross")
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(F.col("num").cast("double") / F.col("den"), 6).alias("ccf"),
        )
    )


def oracle_ccf_hourly(
    table: str,
    type_a: str,
    type_b: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    max_lag: int = 3,
) -> str:
    return f"""
    WITH hourly AS (
      SELECT {type_col} AS k,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS t,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} WHERE {type_col} IN ('{type_a}', '{type_b}') GROUP BY 1, 2
    ),
    stats AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM hourly GROUP BY k
    ),
    dev AS (
      SELECT h.k, h.t,
             CAST(h.y AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE) AS d
      FROM hourly h JOIN stats st ON h.k = st.k
    ),
    den AS (
      SELECT sqrt(CAST((SELECT sum(CAST(d * d AS DECIMAL(38,6))) FROM dev WHERE k = '{type_a}') AS DOUBLE)
                  * CAST((SELECT sum(CAST(d * d AS DECIMAL(38,6))) FROM dev WHERE k = '{type_b}') AS DOUBLE))
             AS den
    ),
    lags AS (SELECT CAST(u.x AS INT) AS lag FROM UNNEST(range(-{max_lag}, {max_lag + 1})) u(x)),
    pairs AS (
      SELECT l.lag, CAST(a.d * b.d AS DECIMAL(38,6)) AS p
      FROM dev a JOIN lags l ON true
                 JOIN dev b ON b.k = '{type_b}' AND b.t = a.t + l.lag
      WHERE a.k = '{type_a}'
    )
    SELECT CAST(p.lag AS INT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(p.p) AS DOUBLE) / d.den, 6) AS ccf
    FROM pairs p, den d GROUP BY p.lag, d.den
    """


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Inter-arrival gap moments per key — mean gap, dispersion, skew —
    the Poisson-ness check (CV ≈ 1 means memoryless arrivals; CV ≫ 1
    means bursts) that sizes streaming state and retry budgets.

    Gaps are EXACT integer seconds from one key-partitioned lag window
    ordered by (ts, id) — a total order, so the gap sequence is unique.
    The moment math reuses :func:`..aggregates.group_moments`' exact
    DECIMAL(38,0) power sums. Output: (key, n, mean_val, stddev,
    skewness, kurtosis_excess, cv).
    """
    from pyspark.sql import Window as W

    from .aggregates import group_moments

    gaps = (
        events.select(
            F.col("event_type").alias("k"),
            F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
            F.col("event_id").alias("i"),
        )
        .select("k", (F.col("t") - F.lag("t").over(
            W.partitionBy("k").orderBy("t", "i")
        )).alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
    )
    m = group_moments(gaps, "k", "gap_s")
    return m.select(
        F.col("k").alias("event_type"),
        "n",
        "mean_val",
        "stddev",
        "skewness",
        "kurtosis_excess",
        F.when(
            F.col("mean_val") > 0, F.round(F.col("stddev") / F.col("mean_val"), 6)
        ).alias("cv"),
    )


def oracle_interarrival_stats(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    from .aggregates import oracle_group_moments

    gaps = f"""(
      SELECT k AS grp, gap_s FROM (
        SELECT {key_col} AS k,
               CAST(floor(epoch({ts_col})) AS BIGINT)
               - lag(CAST(floor(epoch({ts_col})) AS BIGINT))
                 OVER (PARTITION BY {key_col}
                       ORDER BY CAST(floor(epoch({ts_col})) AS BIGINT), {id_col}) AS gap_s
        FROM {table}
      ) WHERE gap_s IS NOT NULL
    ) g"""
    inner = oracle_group_moments(gaps, "grp", "gap_s")
    return f"""
    WITH m AS ({inner})
    SELECT grp AS {key_col}, n, mean_val, stddev, skewness, kurtosis_excess,
           CASE WHEN mean_val > 0 THEN round(stddev / mean_val, 6) END AS cv
    FROM m
    """


def sla_report(events: DataFrame) -> DataFrame:
    """Availability/SLA readout per key: over the key's own observed
    span, how many calendar hours had at least one event, the
    availability percentage, and the largest silent gap in seconds —
    the uptime report for an ingest feed.

    All integer arithmetic: hour buckets and gaps are exact bigints from
    one keyed aggregate + one keyed lag window; the span frame is
    calendar scale. Output: (key, span_hours, active_hours,
    availability_pct, max_gap_s).
    """
    from pyspark.sql import Window as W

    hours = events.select(
        F.col("event_type").alias("k"),
        F.expr("cast(date_trunc('hour', ts) as bigint) div 3600").alias("h"),
        F.expr("cast(unix_timestamp(ts) as bigint)").alias("t"),
    )
    per_key = hours.groupBy("k").agg(
        (F.max("h") - F.min("h") + 1).cast("bigint").alias("span_hours"),
        F.countDistinct("h").cast("bigint").alias("active_hours"),
    )
    gaps = hours.select(
        "k",
        (F.col("t") - F.lag("t").over(W.partitionBy("k").orderBy("t"))).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    mg = gaps.groupBy("k").agg(F.max("gap").cast("bigint").alias("max_gap_s"))
    return (
        per_key.join(mg, "k", "left")
        .select(
            F.col("k").alias("event_type"),
            "span_hours",
            "active_hours",
            F.round(
                F.col("active_hours").cast("double")
                / F.col("span_hours").cast("double")
                * F.lit(100.0),
                6,
            ).alias("availability_pct"),
            F.coalesce(F.col("max_gap_s"), F.lit(0)).cast("bigint").alias("max_gap_s"),
        )
    )


def oracle_sla_report(
    table: str, key_col: str = "event_type", ts_col: str = "ts"
) -> str:
    return f"""
    WITH hours AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS h,
             CAST(floor(epoch({ts_col})) AS BIGINT) AS t
      FROM {table}
    ),
    per_key AS (
      SELECT k, CAST(max(h) - min(h) + 1 AS BIGINT) AS span_hours,
             CAST(count(DISTINCT h) AS BIGINT) AS active_hours
      FROM hours GROUP BY k
    ),
    gaps AS (
      SELECT k, t - lag(t) OVER (PARTITION BY k ORDER BY t) AS gap FROM hours
    ),
    mg AS (
      SELECT k, CAST(max(gap) AS BIGINT) AS max_gap_s
      FROM gaps WHERE gap IS NOT NULL GROUP BY k
    )
    SELECT p.k AS {key_col}, p.span_hours, p.active_hours,
           round(CAST(p.active_hours AS DOUBLE) / CAST(p.span_hours AS DOUBLE)
                 * 100.0, 6) AS availability_pct,
           CAST(coalesce(m.max_gap_s, 0) AS BIGINT) AS max_gap_s
    FROM per_key p LEFT JOIN mg m ON p.k = m.k
    """


def theil_sen_hourly(events: DataFrame) -> DataFrame:
    """Theil–Sen robust trend: the median of all pairwise slopes of the
    hourly bucket-sum series per key — the outlier-immune alternative to
    the OLS trend (one corrupt hour cannot move it).

    Scale shape: the pair join runs on the BUCKET frame (calendar scale —
    B² pairs where B is hours in the span, bounded regardless of event
    volume). Each slope is ONE division of exact cents/seconds integers
    rounded to 6dp; the median is nearest-rank selection over a keyed
    window on the pair frame. Output: (key, n_pairs, slope_cents_per_hour).
    """
    hourly = _series(events, "hour")
    a = hourly.select("k", F.col("t").alias("t1"), F.col("y").alias("y1"))
    b = hourly.select("k", F.col("t").alias("t2"), F.col("y").alias("y2"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("t1") < F.col("t2"))
        .select(
            "k",
            F.round(
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("t2") - F.col("t1")).cast("double"),
                6,
            ).alias("slope"),
        )
    )
    return _median(pairs, "k", "slope").select(
        F.col("k").alias("event_type"),
        F.col("n").alias("n_pairs"),
        F.col("slope").alias("slope_cents_per_hour"),
    )


def oracle_theil_sen_hourly(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    return f"""
    WITH hourly AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS t,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.k,
             round(CAST(b.y - a.y AS DOUBLE) / CAST(b.t - a.t AS DOUBLE), 6) AS slope
      FROM hourly a JOIN hourly b ON a.k = b.k AND a.t < b.t
    ),
    ranked AS (
      SELECT k, slope,
             row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY k) AS np
      FROM pairs
    )
    SELECT k AS {key_col}, CAST(max(np) AS BIGINT) AS n_pairs,
           max(CASE WHEN rn = (np + 1) // 2 THEN slope END) AS slope_cents_per_hour
    FROM ranked GROUP BY k
    """


def backtest_wape(events: DataFrame) -> DataFrame:
    """Forecast backtest: hold out each key's LAST observed day, predict
    its hourly totals with the hour-of-day means from all earlier days
    (the seasonal-naive baseline), and score WAPE = Σ|err| / Σ|actual| —
    the denominator-robust accuracy metric (MAPE explodes on near-zero
    hours; WAPE cannot).

    Fully exact until the final division: hourly actuals are cents
    BIGINTs; the per-hour-of-day mean is ONE integer division
    (sum div n — floor, identical in both engines); errors and totals
    are integer sums. The test/train split is integer day arithmetic off
    a broadcast per-key max-day. Output: (key, n_test_hours,
    total_actual_cents, total_abs_err_cents, wape).
    """
    hourly = (
        _series(events, "hour")
        .withColumn("day", F.expr("t div 24"))
        .withColumn("hod", F.expr("t % 24"))
    )
    last_day = hourly.groupBy("k").agg(F.max("day").cast("bigint").alias("test_day"))
    tagged = hourly.join(F.broadcast(last_day), "k")
    train = tagged.filter(F.col("day") < F.col("test_day"))
    test = tagged.filter(F.col("day") == F.col("test_day"))
    model = train.groupBy("k", "hod").agg(
        F.expr("sum(y) div count(*)").cast("bigint").alias("yhat")
    )
    scored = test.join(model, ["k", "hod"], "left").select(
        "k",
        "y",
        F.abs(F.col("y") - F.coalesce(F.col("yhat"), F.lit(0))).cast("bigint").alias("abserr"),
    )
    return scored.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_test_hours"),
        F.sum("y").cast("bigint").alias("total_actual_cents"),
        F.sum("abserr").cast("bigint").alias("total_abs_err_cents"),
        F.when(
            F.sum("y") != 0,
            F.round(
                F.sum("abserr").cast("double") / F.abs(F.sum("y")).cast("double"), 6
            ),
        ).alias("wape"),
    ).select(
        F.col("k").alias("event_type"),
        "n_test_hours",
        "total_actual_cents",
        "total_abs_err_cents",
        "wape",
    )


def oracle_backtest_wape(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    return f"""
    WITH hourly AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS h,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    ),
    tagged AS (
      SELECT k, h, y, h // 24 AS day, h % 24 AS hod,
             max(h // 24) OVER (PARTITION BY k) AS test_day
      FROM hourly
    ),
    model AS (
      SELECT k, hod, CAST(sum(y) // count(*) AS BIGINT) AS yhat
      FROM tagged WHERE day < test_day GROUP BY k, hod
    ),
    scored AS (
      SELECT t.k, t.y,
             CAST(abs(t.y - coalesce(m.yhat, 0)) AS BIGINT) AS abserr
      FROM tagged t LEFT JOIN model m ON t.k = m.k AND t.hod = m.hod
      WHERE t.day = t.test_day
    )
    SELECT k AS {key_col}, CAST(count(*) AS BIGINT) AS n_test_hours,
           CAST(sum(y) AS BIGINT) AS total_actual_cents,
           CAST(sum(abserr) AS BIGINT) AS total_abs_err_cents,
           CASE WHEN sum(y) <> 0 THEN
             round(CAST(sum(abserr) AS DOUBLE) / CAST(abs(sum(y)) AS DOUBLE), 6)
           END AS wape
    FROM scored GROUP BY k
    """


def p_chart(events: DataFrame, match_expr: str) -> DataFrame:
    """Shewhart p-chart over hourly buckets: the share of matching events
    (e.g. errors) per hour against 3σ binomial control limits derived
    from the overall rate — the classic SPC monitor that complements the
    CUSUM change-point detector (CUSUM finds sustained shifts; the
    p-chart flags individual out-of-control hours).

    Hourly (n, n_match) are exact integers; p̄ is ONE division of two
    global integer sums (broadcast); limits are a fixed sqrt chain per
    bucket row (calendar scale). Output: (bucket_h, n, n_match, p, ucl,
    lcl, out_of_control).
    """
    hourly = (
        events.select(
            F.expr("cast(date_trunc('hour', ts) as bigint) div 3600").alias("h"),
            F.expr(match_expr).cast("boolean").alias("m"),
        )
        .groupBy("h")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("m"), 1).otherwise(0)).cast("bigint").alias("nm"),
        )
    )
    tot = hourly.agg(
        F.sum("n").cast("bigint").alias("tn"), F.sum("nm").cast("bigint").alias("tm")
    )
    pbar = F.col("tm").cast("double") / F.col("tn").cast("double")
    sig = F.sqrt(pbar * (F.lit(1.0) - pbar) / F.col("n").cast("double"))
    p = F.col("nm").cast("double") / F.col("n").cast("double")
    ucl = pbar + F.lit(3.0) * sig
    lcl = F.greatest(pbar - F.lit(3.0) * sig, F.lit(0.0))
    return hourly.join(F.broadcast(tot), how="cross").select(
        F.col("h").alias("bucket_h"),
        "n",
        F.col("nm").alias("n_match"),
        F.round(p, 6).alias("p"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )


def oracle_p_chart(table: str, match_expr: str, ts_col: str = "ts") -> str:
    pbar = "(CAST(tm AS DOUBLE) / CAST(tn AS DOUBLE))"
    sig = f"sqrt({pbar} * (1.0 - {pbar}) / CAST(n AS DOUBLE))"
    p = "(CAST(nm AS DOUBLE) / CAST(n AS DOUBLE))"
    return f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN CAST({match_expr} AS BOOLEAN) THEN 1 ELSE 0 END)
                  AS BIGINT) AS nm
      FROM {table} GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(nm) AS BIGINT) AS tm FROM hourly
    )
    SELECT h AS bucket_h, n, nm AS n_match,
           round({p}, 6) AS p,
           round({pbar} + 3.0 * {sig}, 6) AS ucl,
           round(greatest({pbar} - 3.0 * {sig}, 0.0), 6) AS lcl,
           ({p} > {pbar} + 3.0 * {sig} OR {p} < greatest({pbar} - 3.0 * {sig}, 0.0))
             AS out_of_control
    FROM hourly, tot
    """


def holt_linear(events: DataFrame, scale: int = 10_000) -> DataFrame:
    """Holt double exponential smoothing (level + trend) over the daily
    bucket-sum series per key — the forecasting step up from
    [[tmp_ewma]] (which has no trend term) and the model-based sibling
    of the seasonal-naive [[tmp_backtest]] baseline.

    alpha = 3/10, beta = 1/10, as integer rationals: the state (level,
    trend) is fixed-point BIGINT at ``scale`` units per cent, every
    update is integer multiply/add plus ONE truncating division per
    component (`div` in Spark, `//` in DuckDB — both truncate toward
    zero, verified), so the whole trajectory is bit-identical on any
    engine and at any parallelism. Init: l_1 = y_1, b_1 = 0; one-step
    errors accumulate from t=2 (|a| stays far below 2^63 for daily cent
    sums at `scale`=1e4 up to ~1e14 cents/day/key).

    Shape at 100 TB: the data-scale work is ONE keyed shuffle (daily
    sums); the per-key series is calendar-scale (days), so the
    collect_list + in-row `aggregate` fold is metadata-sized — same
    bounded-frame argument as [[tmp_ewma]]'s lag join. Output one row
    per key: (key, n_days, level_s, trend_s, forecast_next_s, mae_s),
    all exact scaled BIGINTs.
    """
    fold = f"""
    aggregate(
      transform(array_sort(series), s -> s.y),
      named_struct('i', cast(0 as bigint), 'l', cast(0 as bigint),
                   'b', cast(0 as bigint), 'sae', cast(0 as bigint)),
      (acc, y) -> if(acc.i = 0,
        named_struct('i', cast(1 as bigint), 'l', y * {scale},
                     'b', cast(0 as bigint), 'sae', cast(0 as bigint)),
        named_struct(
          'i', acc.i + 1,
          'l', (3 * y * {scale} + 7 * (acc.l + acc.b)) div 10,
          'b', (((3 * y * {scale} + 7 * (acc.l + acc.b)) div 10) - acc.l
                + 9 * acc.b) div 10,
          'sae', acc.sae + abs(y * {scale} - (acc.l + acc.b)))))
    """
    per_key = _series(events, "day").groupBy("k").agg(
        F.expr("collect_list(struct(t, y))").alias("series")
    )
    return per_key.select(
        F.col("k").alias("event_type"),
        F.expr(fold).alias("st"),
    ).select(
        "event_type",
        F.col("st.i").cast("bigint").alias("n_days"),
        F.col("st.l").cast("bigint").alias("level_s"),
        F.col("st.b").cast("bigint").alias("trend_s"),
        (F.col("st.l") + F.col("st.b")).cast("bigint").alias("forecast_next_s"),
        F.expr("case when st.i > 1 then st.sae div (st.i - 1) else cast(0 as bigint) end")
        .cast("bigint")
        .alias("mae_s"),
    )


def oracle_holt_linear(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    scale: int = 10_000,
) -> str:
    """DuckDB twin of :func:`holt_linear`: the identical integer
    recurrence replayed as a recursive CTE stepping t -> t+1 (bounded by
    the calendar-scale series length)."""
    return f"""
    WITH RECURSIVE daily AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('day', {ts_col}))) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    ),
    idx AS (
      SELECT k, y, row_number() OVER (PARTITION BY k ORDER BY d) AS t FROM daily
    ),
    st(k, t, l, b, sae) AS (
      SELECT k, t, y * {scale}, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM idx WHERE t = 1
      UNION ALL
      SELECT i.k, i.t,
             (3 * i.y * {scale} + 7 * (s.l + s.b)) // 10,
             (((3 * i.y * {scale} + 7 * (s.l + s.b)) // 10) - s.l + 9 * s.b) // 10,
             s.sae + abs(i.y * {scale} - (s.l + s.b))
      FROM st s JOIN idx i ON i.k = s.k AND i.t = s.t + 1
    ),
    last AS (SELECT k, max(t) AS mt FROM idx GROUP BY k)
    SELECT s.k AS {key_col}, CAST(s.t AS BIGINT) AS n_days,
           CAST(s.l AS BIGINT) AS level_s, CAST(s.b AS BIGINT) AS trend_s,
           CAST(s.l + s.b AS BIGINT) AS forecast_next_s,
           CAST(CASE WHEN s.t > 1 THEN s.sae // (s.t - 1) ELSE 0 END AS BIGINT) AS mae_s
    FROM st s JOIN last m ON s.k = m.k AND s.t = m.mt
    """


def changepoint_sse(events: DataFrame) -> DataFrame:
    """Offline single change-point per key: the split of the daily
    bucket-sum series that minimizes total within-segment SSE — one
    binary-segmentation step (Scott & Knott / CROPS family), the
    retrospective complement to the sequential [[evt_cusum]] drift
    alarm.

    Minimizing SSE is equivalent to maximizing
    V(i) = S_i^2/i + (S-S_i)^2/(n-i) over split i (prefix sums S_i of
    exact cent BIGINTs). The ARGMAX evaluates V as one fixed double
    expression from exact integers (identical IEEE ops in both engines;
    the tmp_theil_sen discipline), tie-broken by smallest i; the
    REPORTED gain is the exact rational V(i) - S^2/n over the common
    denominator i(n-i)n, computed in DECIMAL(38,0) but EMITTED as
    (gain_num STRING of exact digits, gain_den BIGINT) — rounding a
    ~1e10 double to 6dp is NOT cross-engine portable (DuckDB's round
    multiplies past 2^53), and a DECIMAL(38,0) on the hash surface is
    not portable either: pandas round-trips 38-digit decimals as
    object-dtype ``Decimal`` objects whose stringification
    (``1E+15`` vs ``1000000000000000``) varies across
    duckdb/pandas/pyarrow versions — the r7 driver red. Both engines
    cast the decimal to a plain digit string themselves, which is
    canonical on both.

    Shape: daily sums are one keyed shuffle; prefix sums and the argmax
    run on the calendar-scale bucket frame. Output: (key, n_days,
    split_t, split_day, mean_left_cents, mean_right_cents, gain_num,
    gain_den); means are truncating integer divisions.
    """
    daily = _series(events, "day").select("k", F.col("t").alias("d"), "y")
    w = Window.partitionBy("k").orderBy("d")
    wk = Window.partitionBy("k")
    pref = daily.select(
        "k",
        "d",
        F.row_number().over(w).cast("bigint").alias("t"),
        F.sum("y").over(w).cast("bigint").alias("s_i"),
        F.sum("y").over(wk).cast("bigint").alias("s"),
        F.count("*").over(wk).cast("bigint").alias("n"),
    ).filter(F.col("t") < F.col("n"))
    scored = pref.withColumn(
        "v",
        F.expr(
            "cast(s_i as double) * cast(s_i as double) / cast(t as double)"
            " + cast(s - s_i as double) * cast(s - s_i as double)"
            " / cast(n - t as double)"
        ),
    )
    pick = Window.partitionBy("k").orderBy(F.desc("v"), F.asc("t"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("event_type"),
            F.col("n").alias("n_days"),
            F.col("t").alias("split_t"),
            F.col("d").cast("bigint").alias("split_day"),
            F.expr("s_i div t").cast("bigint").alias("mean_left_cents"),
            F.expr("(s - s_i) div (n - t)").cast("bigint").alias("mean_right_cents"),
            F.expr(
                "cast(cast(cast(s_i as decimal(38,0)) * s_i * (n - t) * n"
                " + cast(s - s_i as decimal(38,0)) * (s - s_i) * t * n"
                " - cast(s as decimal(38,0)) * s * t * (n - t)"
                " as decimal(38,0)) as string)"
            ).alias("gain_num"),
            F.expr("t * (n - t) * n").cast("bigint").alias("gain_den"),
        )
    )


def oracle_changepoint_sse(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    v = ("CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE) / CAST(t AS DOUBLE)"
         " + CAST(s - s_i AS DOUBLE) * CAST(s - s_i AS DOUBLE)"
         " / CAST(n - t AS DOUBLE)")
    return f"""
    WITH daily AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('day', {ts_col}))) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    ),
    pref AS (
      SELECT k, d,
             CAST(row_number() OVER (PARTITION BY k ORDER BY d) AS BIGINT) AS t,
             CAST(sum(y) OVER (PARTITION BY k ORDER BY d
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_i,
             CAST(sum(y) OVER (PARTITION BY k) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
      FROM daily
    ),
    scored AS (
      SELECT *, {v} AS v,
             row_number() OVER (PARTITION BY k ORDER BY {v} DESC, t ASC) AS rn
      FROM pref WHERE t < n
    )
    SELECT k AS {key_col}, n AS n_days, t AS split_t, CAST(d AS BIGINT) AS split_day,
           CAST(s_i // t AS BIGINT) AS mean_left_cents,
           CAST((s - s_i) // (n - t) AS BIGINT) AS mean_right_cents,
           CAST(CAST(CAST(s_i AS DECIMAL(38,0)) * s_i * (n - t) * n
                + CAST(s - s_i AS DECIMAL(38,0)) * (s - s_i) * t * n
                - CAST(s AS DECIMAL(38,0)) * s * t * (n - t)
                AS DECIMAL(38,0)) AS VARCHAR) AS gain_num,
           CAST(t * (n - t) * n AS BIGINT) AS gain_den
    FROM scored WHERE rn = 1
    """


def rolling_features(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling feature matrix over the daily series per key: trailing
    {window}-day sum/min/max/count (RANGE frame on the day index, so
    calendar gaps shrink the window rather than stretching it) plus
    row-based lag-1 and lag-7 — the standard supervised-forecasting
    feature block that [[tmp_holt_linear]] / [[tmp_backtest]] models
    consume.

    All features are exact cent BIGINTs; absent lags surface as the -1
    sentinel (a NULL bigint round-trips as float64 through pandas on one
    engine and Int64 on the other — the driver-compare type-identity
    gotcha). One keyed shuffle for the daily sums; every window runs on
    the calendar-scale bucket frame.
    """
    wr = (
        Window.partitionBy("k")
        .orderBy("t")
        .rangeBetween(-(window_days - 1), 0)
    )
    wl = Window.partitionBy("k").orderBy("t")
    return _series(events, "day").select(
        F.col("k").alias("event_type"),
        F.col("t").cast("bigint").alias("day"),
        F.col("y").alias("y_cents"),
        F.sum("y").over(wr).cast("bigint").alias("roll_sum"),
        F.min("y").over(wr).cast("bigint").alias("roll_min"),
        F.max("y").over(wr).cast("bigint").alias("roll_max"),
        F.count("y").over(wr).cast("bigint").alias("roll_n"),
        F.coalesce(F.lag("y", 1).over(wl), F.lit(-1)).cast("bigint").alias("lag1"),
        F.coalesce(F.lag("y", 7).over(wl), F.lit(-1)).cast("bigint").alias("lag7"),
    )


def oracle_rolling_features(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window_days: int = 7,
) -> str:
    return f"""
    WITH daily AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('day', {ts_col}))) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    )
    SELECT k AS {key_col}, CAST(d AS BIGINT) AS day, y AS y_cents,
           CAST(sum(y) OVER w_r AS BIGINT) AS roll_sum,
           CAST(min(y) OVER w_r AS BIGINT) AS roll_min,
           CAST(max(y) OVER w_r AS BIGINT) AS roll_max,
           CAST(count(y) OVER w_r AS BIGINT) AS roll_n,
           CAST(coalesce(lag(y, 1) OVER w_l, -1) AS BIGINT) AS lag1,
           CAST(coalesce(lag(y, 7) OVER w_l, -1) AS BIGINT) AS lag7
    FROM daily
    WINDOW w_r AS (PARTITION BY k ORDER BY d
                   RANGE BETWEEN {window_days - 1} PRECEDING AND CURRENT ROW),
           w_l AS (PARTITION BY k ORDER BY d)
    """


def decompose_hourly(events: DataFrame, half_window: int = 12) -> DataFrame:
    """Classical seasonal decomposition of the hourly series per key:
    trend = centered ±{half_window}h moving average (RANGE frame),
    seasonal = hour-of-day mean of the detrended series, residual = the
    rest — the moving-average step of STL, the standard pre-model pass
    that [[tmp_seasonal]] / [[tmp_acf]] consumers run first.

    Determinism: hourly sums are exact cents; trend is ONE division of
    exact integers (window sum / window count); the hour-of-day mean
    accumulates per-row detrended values as DECIMAL(38,6) (the
    unigram_logprob discipline — order-free), then ONE division. Every
    emitted double is a fixed-order expression of exact operands,
    rounded to 6dp on both engines.

    Shape: one keyed shuffle for hourly sums; trend and seasonal run on
    the calendar-scale bucket frame (two window passes + one hod-keyed
    aggregate). Output: (key, bucket, y_cents, trend, seasonal,
    residual).
    """
    hourly = _series(events, "hour").withColumn("hod", F.expr("t % 24"))
    wt = Window.partitionBy("k").orderBy("t").rangeBetween(-half_window, half_window)
    detr = hourly.select(
        "k",
        "bucket",
        "hod",
        "y",
        (
            F.sum("y").over(wt).cast("double") / F.count("y").over(wt).cast("double")
        ).alias("trend"),
    ).withColumn("detr", F.col("y").cast("double") - F.col("trend"))
    seas = (
        detr.select("k", "hod", F.expr("cast(detr as decimal(38,6))").alias("dd"))
        .groupBy("k", "hod")
        .agg(
            (F.sum("dd").cast("double") / F.count("*").cast("double")).alias("seasonal")
        )
    )
    # arithmetic half-up rounding, NOT engine round(): Spark rounds the
    # shortest decimal repr (HALF_UP on "x.xx35"), DuckDB rounds the binary
    # value — on an exact 6dp half they disagree by 1e-6. floor(x*1e6+0.5)
    # is the same IEEE op chain in both engines.
    r6 = lambda c: (F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0))
    return detr.join(seas, ["k", "hod"]).select(
        F.col("k").alias("event_type"),
        "bucket",
        F.col("y").alias("y_cents"),
        r6(F.col("trend")).alias("trend"),
        r6(F.col("seasonal")).alias("seasonal"),
        r6(F.col("detr") - F.col("seasonal")).alias("residual"),
    )


def oracle_decompose_hourly(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    half_window: int = 12,
) -> str:
    return f"""
    WITH hourly AS (
      SELECT {key_col} AS k, date_trunc('hour', {ts_col}) AS bucket,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS t,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 % 24 AS hod
      FROM {table} GROUP BY 1, 2, 4, 5
    ),
    detr AS (
      SELECT k, bucket, hod, y,
             CAST(sum(y) OVER w AS DOUBLE) / CAST(count(y) OVER w AS DOUBLE) AS trend,
             CAST(y AS DOUBLE)
               - CAST(sum(y) OVER w AS DOUBLE) / CAST(count(y) OVER w AS DOUBLE) AS dv
      FROM hourly
      WINDOW w AS (PARTITION BY k ORDER BY t
                   RANGE BETWEEN {half_window} PRECEDING AND {half_window} FOLLOWING)
    ),
    seas AS (
      -- decimal -> VARCHAR -> DOUBLE: DuckDB's direct decimal->double cast
      -- scales int128 with TWO roundings and can land 1 ulp off Spark's
      -- correctly-rounded BigDecimal.doubleValue; the string route is
      -- correctly rounded in both engines
      SELECT k, hod,
             CAST(CAST(sum(CAST(dv AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS seasonal
      FROM detr GROUP BY k, hod
    )
    SELECT d.k AS {key_col}, d.bucket, d.y AS y_cents,
           floor(d.trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
           floor(s.seasonal * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
           floor((d.dv - s.seasonal) * 1000000.0 + 0.5) / 1000000.0 AS residual
    FROM detr d JOIN seas s ON d.k = s.k AND d.hod = s.hod
    """


def periodogram(events: DataFrame, periods: tuple = (24, 168)) -> DataFrame:
    """Seasonality-strength detector: the DFT power of the hourly series
    at candidate periods (daily=24h, weekly=168h), reported as the
    fitted sinusoid amplitude amp = 2*sqrt(cs²+ss²)/n — the quantitative
    answer to "does this series actually have a daily cycle" that
    [[tmp_acf]] only hints at.

    No trig runs in-engine: for period P the angle set is the P residues
    of t mod P, so cos/sin are PYTHON-evaluated literal arrays indexed by
    element_at (the [[tmp_ewma]] weight-table trick — engine cos() is
    not cross-engine portable to the last ulp). Each contribution
    y·cos/y·sin rounds to DECIMAL(38,6) before the exact per-key sum.

    Shape: one keyed shuffle for hourly sums; the projection fans each
    bucket to |periods| rows (a 2-element explode) and re-aggregates per
    (key, period) — calendar-scale frames throughout. Output:
    (key, period, n_buckets, amp).
    """
    import math

    hourly = _series(events, "hour")
    branches = []
    for p in periods:
        cos_arr = "array(" + ", ".join(
            repr(math.cos(2.0 * math.pi * i / p)) + "D" for i in range(p)
        ) + ")"
        sin_arr = "array(" + ", ".join(
            repr(math.sin(2.0 * math.pi * i / p)) + "D" for i in range(p)
        ) + ")"
        branches.append(
            hourly.select(
                "k",
                F.lit(p).cast("bigint").alias("period"),
                F.expr(
                    f"cast(cast(y as double) * element_at({cos_arr},"
                    f" cast(t % {p} as int) + 1) as decimal(38,6))"
                ).alias("c"),
                F.expr(
                    f"cast(cast(y as double) * element_at({sin_arr},"
                    f" cast(t % {p} as int) + 1) as decimal(38,6))"
                ).alias("s"),
            )
        )
    proj = branches[0]
    for b in branches[1:]:
        proj = proj.unionByName(b)
    agg = proj.groupBy("k", "period").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("c").cast("double").alias("cs"),
        F.sum("s").cast("double").alias("ss"),
    )
    # x*x, not pow(x, 2): integer-exponent pow is not guaranteed to be the
    # plain product on every libm (sqrt IS correctly rounded everywhere)
    return agg.select(
        F.col("k").alias("event_type"),
        "period",
        "n_buckets",
        F.round(
            F.lit(2.0)
            * F.sqrt(F.col("cs") * F.col("cs") + F.col("ss") * F.col("ss"))
            / F.col("n_buckets").cast("double"),
            6,
        ).alias("amp"),
    )


def oracle_periodogram(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    periods: tuple = (24, 168),
) -> str:
    import math

    branches = []
    for p in periods:
        cos_case = (
            "CASE CAST(t % " + str(p) + " AS INT) "
            + " ".join(
                f"WHEN {i} THEN CAST({math.cos(2.0 * math.pi * i / p)!r} AS DOUBLE)"
                for i in range(p)
            )
            + " END"
        )
        sin_case = (
            "CASE CAST(t % " + str(p) + " AS INT) "
            + " ".join(
                f"WHEN {i} THEN CAST({math.sin(2.0 * math.pi * i / p)!r} AS DOUBLE)"
                for i in range(p)
            )
            + " END"
        )
        branches.append(
            f"SELECT k, CAST({p} AS BIGINT) AS period,"
            f" CAST(CAST(y AS DOUBLE) * ({cos_case}) AS DECIMAL(38,6)) AS c,"
            f" CAST(CAST(y AS DOUBLE) * ({sin_case}) AS DECIMAL(38,6)) AS s"
            f" FROM hourly"
        )
    union = " UNION ALL ".join(branches)
    return f"""
    WITH hourly AS MATERIALIZED (
      SELECT {key_col} AS k,
             CAST(floor(epoch(date_trunc('hour', {ts_col}))) AS BIGINT) // 3600 AS t,
             CAST(sum(CAST(round({value_col} * 100) AS BIGINT)) AS BIGINT) AS y
      FROM {table} GROUP BY 1, 2
    ),
    proj AS ({union}),
    agg AS (
      SELECT k, period, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(c) AS DOUBLE) AS cs, CAST(sum(s) AS DOUBLE) AS ss
      FROM proj GROUP BY k, period
    )
    SELECT k AS {key_col}, period, n_buckets,
           round(2.0 * sqrt(cs * cs + ss * ss)
                 / CAST(n_buckets AS DOUBLE), 6) AS amp
    FROM agg
    """


def seasonal_anomaly(
    events: DataFrame, half_window: int = 12, n_mads: int = 3
) -> DataFrame:
    """Seasonality-aware anomaly detection: decompose the hourly series
    ([[tmp_decompose]]), then flag buckets whose RESIDUAL sits more than
    ``n_mads`` robust sigmas from the per-key residual median — the
    monitor that neither a raw threshold (fires every peak hour) nor a
    global MAD ([[evt_anomaly_mad]], fires on seasonal swings) gets
    right: only deviations the trend+seasonal model cannot explain fire.

    Exactness: residuals are the 6dp-rounded decompose outputs; median
    and MAD are exact nearest-rank order statistics over those rounded
    values (no interpolation — identical on both engines); the fence
    compare runs on 1.4826·MAD with the constant repr-injected. Output:
    only the anomalous rows (key, bucket, y_cents, residual, med, mad).
    """
    dec = decompose_hourly(events, half_window)
    med = _median(dec, "event_type", "residual").select(
        "event_type", F.col("residual").alias("med")
    )
    dev = dec.join(med, "event_type").select(
        "event_type",
        "bucket",
        "y_cents",
        "residual",
        "med",
        (F.floor(F.abs(F.col("residual") - F.col("med")) * F.lit(1000000.0)
                 + F.lit(0.5)) / F.lit(1000000.0)).alias("ad"),
    )
    mad = _median(dev, "event_type", "ad").select(
        "event_type", F.col("ad").alias("mad")
    )
    k_sigma = 1.4826 * n_mads
    return (
        dev.join(mad, "event_type")
        .filter(
            F.abs(F.col("residual") - F.col("med"))
            > F.lit(float(k_sigma)) * F.col("mad")
        )
        .select("event_type", "bucket", "y_cents", "residual", "med", "mad")
    )


def oracle_seasonal_anomaly(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    half_window: int = 12,
    n_mads: int = 3,
) -> str:
    base = oracle_decompose_hourly(table, key_col, ts_col, value_col, half_window)
    k_sigma = 1.4826 * n_mads
    return f"""
    WITH dec AS MATERIALIZED ({base}),
    med AS (
      SELECT {key_col}, residual AS med FROM (
        SELECT {key_col}, residual,
               row_number() OVER (PARTITION BY {key_col} ORDER BY residual) AS rn,
               count(*) OVER (PARTITION BY {key_col}) AS n
        FROM dec
      ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT d.{key_col}, d.bucket, d.y_cents, d.residual, m.med,
             floor(abs(d.residual - m.med) * 1000000.0 + 0.5) / 1000000.0 AS ad
      FROM dec d JOIN med m USING ({key_col})
    ),
    mad AS (
      SELECT {key_col}, ad AS mad FROM (
        SELECT {key_col}, ad,
               row_number() OVER (PARTITION BY {key_col} ORDER BY ad) AS rn,
               count(*) OVER (PARTITION BY {key_col}) AS n
        FROM dev
      ) WHERE rn = (n + 1) // 2
    )
    SELECT d.{key_col}, d.bucket, d.y_cents, d.residual, d.med, x.mad
    FROM dev d JOIN mad x USING ({key_col})
    WHERE abs(d.residual - d.med) > CAST({float(k_sigma)!r} AS DOUBLE) * x.mad
    """
