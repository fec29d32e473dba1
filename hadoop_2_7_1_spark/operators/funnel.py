"""Event-sequence analytics: conversion funnels, cohort retention, A/B
readouts and journey models.

Most are pure keyed-aggregate pipelines — every shuffle keys on user_id (or
the cohort pair), so partitions stay balanced whenever user cardinality
exceeds core count, which is always true at corpus scale.

Every operator reads the events table's own columns, ``event_id``,
``user_id``, ``event_type``, ``ts`` and ``value``, and only those it uses.
Values become exact cents through ``temporal._cents``; gap sessions come
from :func:`_sessions`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .temporal import _cents


def _sessions(pts: DataFrame, gap_s: int) -> DataFrame:
    """Adds ``sid``, the user's session number, to ``(u, x)`` rows with
    ``x`` in epoch seconds: a session opens at a user's first event and
    after every gap of more than ``gap_s`` seconds (lag, flag, running
    sum over one user-keyed sort). Rows tied on ``x`` are 0 s apart, so
    every row gets the same session whatever order the tie takes."""
    w_u = Window.partitionBy("u").orderBy("x")
    return pts.withColumn("prev", F.lag("x").over(w_u)).withColumn(
        "sid",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("x") - F.col("prev") > gap_s), 1
            ).otherwise(0)
        ).over(w_u.rowsBetween(Window.unboundedPreceding, 0)),
    )


def funnel(
    events: DataFrame, steps: list[str], within: str | None = None
) -> DataFrame:
    """Ordered conversion funnel: a user reaches step k at the earliest
    event of type steps[k] strictly after their step-(k-1) time — and,
    when ``within`` is set (an INTERVAL string like ``'7 days'``), no
    later than ``within`` after their funnel ENTRY time (the standard
    product-analytics conversion window, anchored at step 1).

    Output: (stage, step, n_users) — stage is 1-based. Each stage is one
    filter + user-keyed min + co-partitioned join; nothing is ever sorted
    per user, so there is no per-user state beyond two timestamps (entry
    + previous step). The frame is a plan: building it runs no job. Stage
    k's count re-plans the joins of stages 2..k-1 but not their scans:
    exchange reuse serves them. The executed plan of the 3-step funnel
    scans ``events`` 4 times — once per step, plus once for the stage-1
    count, which reads only ``user_id`` — and holds 2 ``ReusedExchange``
    nodes (stage 3 reuses stage 2's step broadcast and stage-1 shuffle).
    """
    reached = None
    stage_counts = []
    for i, step in enumerate(steps):
        sel = events.filter(F.col("event_type") == step).select(
            F.col("user_id").alias("u"), F.col("ts").alias("t")
        )
        if reached is None:
            reached = (
                sel.groupBy("u")
                .agg(F.min("t").alias("t_prev"))
                .withColumn("t0", F.col("t_prev"))
            )
        else:
            nxt = sel.join(reached, "u").filter(F.col("t") > F.col("t_prev"))
            if within is not None:
                nxt = nxt.filter(F.expr(f"t <= t0 + INTERVAL {within}"))
            reached = nxt.groupBy("u", "t0").agg(F.min("t").alias("t_prev"))
        stage_counts.append(
            reached.agg(
                F.lit(i + 1).cast("bigint").alias("stage"),
                F.lit(step).alias("step"),
                F.count("*").cast("bigint").alias("n_users"),
            )
        )
    out = stage_counts[0]
    for df in stage_counts[1:]:
        out = out.unionByName(df)
    return out


def oracle_funnel(table: str, steps: list[str], within: str | None = None) -> str:
    ctes = []
    prev = None
    for i, step in enumerate(steps):
        name = f"s{i}"
        if prev is None:
            ctes.append(
                f"{name} AS (SELECT user_id AS u, min(ts) AS t_prev,"
                f" min(ts) AS t0"
                f" FROM {table} WHERE event_type = '{step}' GROUP BY user_id)"
            )
        else:
            win = (
                f" AND e.ts <= p.t0 + INTERVAL '{within}'" if within else ""
            )
            ctes.append(
                f"{name} AS (SELECT e.user_id AS u, min(e.ts) AS t_prev, p.t0"
                f" FROM {table} e JOIN {prev} p ON e.user_id = p.u"
                f" WHERE e.event_type = '{step}' AND e.ts > p.t_prev{win}"
                f" GROUP BY e.user_id, p.t0)"
            )
        prev = name
    selects = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS stage, '{step}' AS step,"
        f" CAST((SELECT count(*) FROM s{i}) AS BIGINT) AS n_users"
        for i, step in enumerate(steps)
    )
    return f"WITH {', '.join(ctes)} {selects}"


def retention(events: DataFrame, period: str = "month") -> DataFrame:
    """Cohort retention: users grouped by the period of their first event;
    for each (cohort, activity period), how many of them were active.

    Output: (cohort_ts, active_ts, n_users). Two user-keyed aggregates and
    one (cohort, period)-keyed count — the cohort matrix itself is
    periods², metadata-sized.
    """
    cohort = events.groupBy(F.col("user_id").alias("u")).agg(
        F.date_trunc(period, F.min("ts")).alias("cohort_ts")
    )
    active = events.select(
        F.col("user_id").alias("u"), F.date_trunc(period, F.col("ts")).alias("active_ts")
    ).distinct()
    return (
        active.join(cohort, "u")
        .groupBy("cohort_ts", "active_ts")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


def oracle_retention(table: str, period: str = "month") -> str:
    return f"""
    WITH cohort AS (
      SELECT user_id AS u, date_trunc('{period}', min(ts)) AS cohort_ts
      FROM {table} GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id AS u, date_trunc('{period}', ts) AS active_ts
      FROM {table}
    )
    SELECT cohort_ts, active_ts, CAST(count(*) AS BIGINT) AS n_users
    FROM active JOIN cohort USING (u)
    GROUP BY cohort_ts, active_ts
    """


def ohlc_bars(events: DataFrame, width: str = "hour") -> DataFrame:
    """Time-series OHLC rollup: per (key, time bucket) the opening/closing
    values (first/last by event time, ``event_id`` tie-break) plus high, low,
    count and a decimal-accumulated volume — the hypertable
    continuous-aggregate shape.

    One shuffle, one sort: first/last come from a single ascending
    row_number per bucket; the "last" rank is derived as n - rank + 1 from
    an unordered count over the same partition, so no second descending
    sort. At 100 TB the bucket key is (key, hour) — naturally bounded
    cardinality, no skew salt needed.
    """
    w_sort = Window.partitionBy("bucket", "event_type").orderBy("ts", "event_id")
    w_all = Window.partitionBy("bucket", "event_type")
    b = (
        events.withColumn("bucket", F.date_trunc(width, F.col("ts")))
        .withColumn("ra", F.row_number().over(w_sort))
        .withColumn("nn", F.count("*").over(w_all))
    )
    return b.groupBy("bucket", "event_type").agg(
        F.min(F.when(F.col("ra") == 1, F.col("value"))).cast("double").alias("open"),
        F.max(F.col("value")).cast("double").alias("high"),
        F.min(F.col("value")).cast("double").alias("low"),
        F.min(F.when(F.col("ra") == F.col("nn"), F.col("value")))
        .cast("double")
        .alias("close"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("volume"),
    )


def oracle_ohlc_bars(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    width: str = "hour",
    id_col: str = "event_id",
) -> str:
    return f"""
    WITH b AS (
      SELECT date_trunc('{width}', {ts_col}) AS bucket, {key_col}, {ts_col},
             {id_col}, {value_col},
             row_number() OVER (PARTITION BY date_trunc('{width}', {ts_col}), {key_col}
                                ORDER BY {ts_col}, {id_col}) AS ra,
             count(*) OVER (PARTITION BY date_trunc('{width}', {ts_col}), {key_col}) AS nn
      FROM {table}
    )
    SELECT bucket, {key_col},
           CAST(min(CASE WHEN ra = 1 THEN {value_col} END) AS DOUBLE) AS open,
           CAST(max({value_col}) AS DOUBLE) AS high,
           CAST(min({value_col}) AS DOUBLE) AS low,
           CAST(min(CASE WHEN ra = nn THEN {value_col} END) AS DOUBLE) AS close,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST({value_col} AS DECIMAL(38,6))) AS DOUBLE) AS volume
    FROM b GROUP BY bucket, {key_col}
    """


def trend_ols(events: DataFrame) -> DataFrame:
    """Per-group ordinary-least-squares trend (slope per second + intercept)
    of value over time, from exact decimal sufficient statistics.

    Closed form: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). The x axis is
    epoch seconds re-based to the corpus minimum (broadcast scalar), which
    keeps every decimal product inside 38 digits, so all four sums and both
    closed-form combinations are EXACT integer arithmetic — bit-identical
    at any parallelism — with doubles appearing only in the final division
    (then rounded to 6 decimals). One scan + one group agg; the regression
    itself costs nothing beyond the sums.
    """
    x0 = events.agg(
        F.min(F.unix_timestamp("ts")).alias("x0")
    )
    rows = events.crossJoin(F.broadcast(x0)).select(
        F.col("event_type"),
        (F.unix_timestamp("ts") - F.col("x0")).alias("xr"),
        F.col("value").alias("yr"),
    )
    g = rows.groupBy("event_type").agg(
        F.count("*").cast("decimal(10,0)").alias("n"),
        F.sum(F.col("xr").cast("decimal(18,0)")).cast("decimal(18,0)").alias("sx"),
        F.sum((F.col("xr") * F.col("xr")).cast("decimal(28,0)"))
        .cast("decimal(28,0)")
        .alias("sxx"),
        F.sum(F.col("yr").cast("decimal(19,6)")).cast("decimal(19,6)").alias("sy"),
        F.sum((F.col("xr") * F.col("yr")).cast("decimal(25,6)"))
        .cast("decimal(25,6)")
        .alias("sxy"),
    )
    # Sums are EXACT decimals; the closed-form combination runs in double
    # (identical operation order on both engines) and the result rounds to
    # 6 decimals — the same discipline as the ln()-based scorers. Doing the
    # combination in decimal instead trips DuckDB's decimal-width rules.
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    slope = F.round((n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d), 6)
    intercept = F.round((sy_d - slope * sx_d) / n_d, 6)
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope_per_sec"),
        intercept.alias("intercept"),
    )


def oracle_trend_ols(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    return f"""
    WITH bnds AS (
      -- floor to whole seconds: Spark's unix_timestamp truncates, DuckDB's
      -- epoch() keeps the fraction as DOUBLE
      SELECT min(CAST(floor(epoch({ts_col})) AS BIGINT)) AS tmin FROM {table}
    ),
    rows_ AS (
      SELECT {key_col}, CAST(floor(epoch({ts_col})) AS BIGINT) - bnds.tmin AS xr,
             {value_col} AS yr
      FROM {table}, bnds
    ), g AS (
      SELECT {key_col},
             CAST(count(*) AS DECIMAL(10,0)) AS n,
             CAST(sum(CAST(xr AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS sx,
             CAST(sum(CAST(xr * xr AS DECIMAL(28,0))) AS DECIMAL(28,0)) AS sxx,
             CAST(sum(CAST(yr AS DECIMAL(19,6))) AS DECIMAL(19,6)) AS sy,
             CAST(sum(CAST(xr * yr AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS sxy
      FROM rows_ GROUP BY {key_col}
    )
    SELECT {key_col}, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope_per_sec,
           round((CAST(sy AS DOUBLE)
                  - round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept
    FROM g
    """


# ---------------------------------------------------------------------------
# A/B test evaluation (two-proportion z + Welch z, exact accumulators)
# ---------------------------------------------------------------------------

def ab_test(
    events: DataFrame, convert_type: str = "purchase", min_count: int = 1
) -> DataFrame:
    """Experiment readout over an event stream: users split into variants by
    ``user_id % 2``, then per-metric significance tests.

    Two rows out:
      * ``conversion`` — share of users with >= ``min_count``
        ``convert_type`` events; two-proportion z-test on the pooled
        standard error.
      * ``revenue_per_user`` — mean per-user conversion value; Welch z-test
        from per-variant mean/variance.

    Scale + determinism: one user-keyed aggregate (uniform key), then a
    2-row variant rollup. Money is accumulated as exact integer cents and
    squared cents (bit-identical at any parallelism); the closed-form
    z formulas run on doubles derived from those exact integers, so both
    engines produce the same IEEE result. At 100 TB nothing but the 2-row
    rollup ever leaves the per-user aggregate.
    """
    per_user = (
        events.groupBy(F.col("user_id").alias("uid"))
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == convert_type, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                >= min_count,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("conv"),
            F.sum(
                F.when(F.col("event_type") == convert_type, _cents()).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("cents"),
        )
        .withColumn("variant", (F.col("uid") % 2).cast("int"))
    )
    per_var = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("x"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.expr("cents * cents")).cast("bigint").alias("s2"),
    )
    both = per_var.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == 0, F.col("s1"))).alias("s1_a"),
        F.max(F.when(F.col("variant") == 0, F.col("s2"))).alias("s2_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
        F.max(F.when(F.col("variant") == 1, F.col("s1"))).alias("s1_b"),
        F.max(F.when(F.col("variant") == 1, F.col("s2"))).alias("s2_b"),
    )
    conv = both.select(
        F.lit("conversion").alias("metric"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("cast(x_a as double) / n_a").alias("stat_a"),
        F.expr("cast(x_b as double) / n_b").alias("stat_b"),
        F.expr("cast(x_b as double) / n_b - cast(x_a as double) / n_a").alias("lift"),
        F.expr(
            "case when sqrt((cast(x_a + x_b as double) / (n_a + n_b))"
            " * (1 - cast(x_a + x_b as double) / (n_a + n_b))"
            " * (cast(1 as double) / n_a + cast(1 as double) / n_b)) = 0 then cast(0 as double)"
            " else (cast(x_b as double) / n_b - cast(x_a as double) / n_a)"
            " / sqrt((cast(x_a + x_b as double) / (n_a + n_b))"
            " * (1 - cast(x_a + x_b as double) / (n_a + n_b))"
            " * (cast(1 as double) / n_a + cast(1 as double) / n_b)) end"
        ).alias("z"),
    )
    # Welch: variance from exact sums; cents -> dollars only at the end.
    var_a = "((cast(s2_a as double) - cast(s1_a as double) * s1_a / n_a) / (n_a - 1))"
    var_b = "((cast(s2_b as double) - cast(s1_b as double) * s1_b / n_b) / (n_b - 1))"
    se = f"sqrt({var_a} / n_a + {var_b} / n_b)"
    rev = both.select(
        F.lit("revenue_per_user").alias("metric"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("cast(s1_a as double) / n_a / 100").alias("stat_a"),
        F.expr("cast(s1_b as double) / n_b / 100").alias("stat_b"),
        F.expr(
            "cast(s1_b as double) / n_b / 100 - cast(s1_a as double) / n_a / 100"
        ).alias("lift"),
        # n<=1 guarded explicitly: Welch's (n-1) divisor would divide by
        # zero there, where Spark (non-ANSI) yields NULL but DuckDB yields
        # inf/NaN — the engines must agree on degenerate inputs.
        F.expr(
            f"case when n_a <= 1 or n_b <= 1 then cast(0 as double)"
            f" when {se} = 0 then cast(0 as double)"
            f" else (cast(s1_b as double) / n_b - cast(s1_a as double) / n_a)"
            f" / {se} end"
        ).alias("z"),
    )
    return conv.unionByName(rev).withColumn(
        "significant", F.expr("abs(z) >= 1.96")
    )


def oracle_ab_test(
    table: str, convert_type: str = "purchase", min_count: int = 1
) -> str:
    """DuckDB mirror of :func:`ab_test` — identical accumulators and
    identical left-to-right double arithmetic."""
    var_a = "((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1))"
    var_b = "((CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1))"
    se = f"sqrt({var_a} / n_a + {var_b} / n_b)"
    pooled = "(CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))"
    conv_se = (
        f"sqrt({pooled} * (1 - {pooled})"
        f" * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
    )
    return f"""
    WITH per_user AS (
      SELECT user_id AS uid,
             CASE WHEN sum(CASE WHEN event_type = '{convert_type}' THEN 1 ELSE 0 END)
                       >= {min_count} THEN 1 ELSE 0 END AS conv,
             sum(CASE WHEN event_type = '{convert_type}'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END) AS cents
      FROM {table} GROUP BY user_id
    ),
    per_var AS (
      SELECT CAST(uid % 2 AS INT) AS variant,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x,
             CAST(sum(cents) AS BIGINT) AS s1,
             CAST(sum(cents * cents) AS BIGINT) AS s2
      FROM per_user GROUP BY 1
    ),
    ab AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
             max(CASE WHEN variant = 0 THEN x END) AS x_a,
             max(CASE WHEN variant = 0 THEN s1 END) AS s1_a,
             max(CASE WHEN variant = 0 THEN s2 END) AS s2_a,
             max(CASE WHEN variant = 1 THEN n END) AS n_b,
             max(CASE WHEN variant = 1 THEN x END) AS x_b,
             max(CASE WHEN variant = 1 THEN s1 END) AS s1_b,
             max(CASE WHEN variant = 1 THEN s2 END) AS s2_b
      FROM per_var
    ),
    o AS (
      SELECT 'conversion' AS metric, n_a, n_b,
             CAST(x_a AS DOUBLE) / n_a AS stat_a,
             CAST(x_b AS DOUBLE) / n_b AS stat_b,
             CAST(x_b AS DOUBLE) / n_b - CAST(x_a AS DOUBLE) / n_a AS lift,
             CASE WHEN {conv_se} = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (CAST(x_b AS DOUBLE) / n_b - CAST(x_a AS DOUBLE) / n_a)
                       / {conv_se} END AS z
      FROM ab
      UNION ALL
      SELECT 'revenue_per_user' AS metric, n_a, n_b,
             CAST(s1_a AS DOUBLE) / n_a / 100 AS stat_a,
             CAST(s1_b AS DOUBLE) / n_b / 100 AS stat_b,
             CAST(s1_b AS DOUBLE) / n_b / 100
               - CAST(s1_a AS DOUBLE) / n_a / 100 AS lift,
             CASE WHEN n_a <= 1 OR n_b <= 1 THEN CAST(0 AS DOUBLE)
                  WHEN {se} = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (CAST(s1_b AS DOUBLE) / n_b - CAST(s1_a AS DOUBLE) / n_a)
                       / {se} END AS z
      FROM ab
    )
    SELECT metric, n_a, n_b, stat_a, stat_b, lift, z, abs(z) >= 1.96 AS significant
    FROM o
    """


def attribution_linear(
    events: DataFrame,
    convert_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_hours: int = 24,
) -> DataFrame:
    """Multi-touch attribution, linear model with EXACT integer credit: each
    conversion's cents are split equally across the user's touch events
    (click/view) in the ``lookback_hours`` before it; the integer remainder
    goes to the earliest touch, so credits sum exactly to revenue at any
    parallelism. Conversions with no preceding touch credit a synthetic
    'direct' channel.

    Join shape: conversions ⋈ touches on the USER key (equi — per-user
    event counts are bounded in any real event stream; the same shape as
    the funnel operators) with the time window as a residual filter, then
    one per-conversion rank and one channel rollup.
    Output: (channel, n_conversions, credited_cents).
    """
    conv = events.filter(F.col("event_type") == convert_type).select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("ts_c"),
        F.col("event_id").alias("cid"),
        _cents().alias("cents"),
    )
    touch = events.filter(F.col("event_type").isin(*touch_types)).select(
        F.col("user_id").alias("t_uid"),
        F.col("ts").alias("ts_t"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    # The window predicate lives IN the join condition: a conversion whose
    # touches all fall outside the lookback must still surface (as a NULL
    # touch row -> 'direct' credit), which a post-join WHERE would drop.
    cond = (
        (conv["uid"] == touch["t_uid"])
        & (touch["ts_t"] <= conv["ts_c"])
        & (
            touch["ts_t"]
            >= conv["ts_c"] - F.expr(f"interval {lookback_hours} hours")
        )
    )
    joined = conv.join(touch, cond, "left")
    w = Window.partitionBy("cid")
    ws = Window.partitionBy("cid").orderBy("ts_t", "tid")
    per_touch = (
        joined.withColumn("n_touch", F.count("tid").over(w))
        .withColumn(
            "rk", F.when(F.col("tid").isNotNull(), F.row_number().over(ws))
        )
    )
    credited = per_touch.select(
        F.when(F.col("tid").isNull(), F.lit("direct"))
        .otherwise(F.col("channel"))
        .alias("channel"),
        "cid",
        F.when(F.col("tid").isNull(), F.col("cents"))
        .when(
            F.col("rk") == 1,
            F.expr("cents - (n_touch - 1) * (cents div n_touch)"),
        )
        .otherwise(F.expr("cents div n_touch"))
        .cast("bigint")
        .alias("credit"),
    )
    return credited.groupBy("channel").agg(
        F.count_distinct("cid").cast("bigint").alias("n_conversions"),
        F.sum("credit").cast("bigint").alias("credited_cents"),
    )


def oracle_attribution_linear(
    table: str,
    convert_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_hours: int = 24,
) -> str:
    """DuckDB mirror of :func:`attribution_linear` — identical integer
    floor-division credit split, remainder to the earliest touch."""
    tl = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
    WITH conv AS (
      SELECT user_id AS uid, ts AS ts_c, event_id AS cid,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {table} WHERE event_type = '{convert_type}'
    ),
    touch AS (
      SELECT user_id AS uid, ts AS ts_t, event_id AS tid, event_type AS channel
      FROM {table} WHERE event_type IN ({tl})
    ),
    joined AS (
      SELECT c.*, t.ts_t, t.tid, t.channel
      FROM conv c LEFT JOIN touch t
        ON c.uid = t.uid
       AND t.ts_t <= c.ts_c
       AND t.ts_t >= c.ts_c - INTERVAL {lookback_hours} HOURS
    ),
    ranked AS (
      SELECT *, count(tid) OVER (PARTITION BY cid) AS n_touch,
             CASE WHEN tid IS NOT NULL THEN
               row_number() OVER (PARTITION BY cid ORDER BY ts_t, tid) END AS rk
      FROM joined
    ),
    credited AS (
      SELECT CASE WHEN tid IS NULL THEN 'direct' ELSE channel END AS channel,
             cid,
             CAST(CASE WHEN tid IS NULL THEN cents
                       WHEN rk = 1 THEN cents - (n_touch - 1) * (cents // n_touch)
                       ELSE cents // n_touch END AS BIGINT) AS credit
      FROM ranked
    )
    SELECT channel, CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
           CAST(sum(credit) AS BIGINT) AS credited_cents
    FROM credited GROUP BY channel
    """


def survival_km(events: DataFrame, censor_days: int = 7) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime — the standard
    right-censored retention curve (Kaplan & Meier, JASA 1958): users whose
    last activity is within ``censor_days`` of the corpus end are censored
    (still alive), everyone else churned at lifetime = last_day - first_day.

    At each distinct lifetime t: n_at_risk = users with lifetime >= t,
    d = churns at t, c = censored at t, and S(t) multiplies in
    (n_at_risk - d) / n_at_risk. The product is computed as
    exp(Σ ln(factor)) with each per-step ln rounded to DECIMAL(38,6)
    before the EXACT decimal cumulative sum — the unigram_logprob
    summation-order discipline, so any partial-sum grouping and any
    engine produce the same digits. Counts are all exact integers.

    Scale shape: one user-keyed aggregation over the data (map-side
    combined), then everything else happens on the per-lifetime frame —
    at most max-lifetime-days rows, metadata scale — where the single
    unpartitioned cumulative window is the textbook KM recurrence, not a
    data-scale shuffle. Output: (t_days, n_at_risk, n_events, n_censored,
    log_s, survival).
    """
    days = events.select(
        F.col("user_id").alias("u"), F.to_date(F.col("ts")).alias("d")
    )
    spans = days.groupBy("u").agg(
        F.min("d").alias("first_d"), F.max("d").alias("last_d")
    )
    gmax = spans.agg(F.max("last_d").alias("__gmax"))
    users = spans.crossJoin(F.broadcast(gmax)).select(
        F.datediff(F.col("last_d"), F.col("first_d")).alias("t"),
        F.when(
            F.datediff(F.col("__gmax"), F.col("last_d")) >= censor_days, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("churn"),
    )
    steps = users.groupBy("t").agg(
        F.sum("churn").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("churn")).cast("bigint").alias("c"),
    )
    n_tot = users.agg(F.count("*").cast("bigint").alias("__n"))
    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = (
        steps.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "n_at_risk",
            (
                F.col("__n")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
            ).cast("bigint"),
        )
        .withColumn(
            "__term",
            F.when(
                F.col("n_at_risk") > F.col("d"),
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk").cast("double")
                ).cast("decimal(38,6)"),
            ),
        )
        .withColumn("__extinct", F.max(F.col("d") >= F.col("n_at_risk")).over(w_cum))
        .withColumn("__logsum", F.sum("__term").over(w_cum))
    )
    return at_risk.select(
        F.col("t").cast("int").alias("t_days"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(F.col("__extinct"), F.lit(None).cast("double"))
        .otherwise(F.coalesce(F.col("__logsum").cast("double"), F.lit(0.0)))
        .alias("log_s"),
        F.when(F.col("__extinct"), F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.coalesce(F.col("__logsum").cast("double"), F.lit(0.0))), 6)
        )
        .alias("survival"),
    )


def oracle_survival_km(
    table: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = 7,
) -> str:
    return f"""
    WITH spans AS (
      SELECT {user_col} AS u,
             min(CAST({ts_col} AS DATE)) AS first_d,
             max(CAST({ts_col} AS DATE)) AS last_d
      FROM {table} GROUP BY 1
    ),
    gmax AS (SELECT max(last_d) AS g FROM spans),
    users AS (
      SELECT date_diff('day', first_d, last_d) AS t,
             CASE WHEN date_diff('day', last_d, gmax.g) >= {censor_days}
                  THEN 1 ELSE 0 END AS churn
      FROM spans, gmax
    ),
    steps AS (
      SELECT t, CAST(sum(churn) AS BIGINT) AS d,
             CAST(sum(1 - churn) AS BIGINT) AS c
      FROM users GROUP BY t
    ),
    ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM users),
    ar AS (
      SELECT t, d, c,
             CAST(ntot.n - coalesce(sum(d + c) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_at_risk
      FROM steps, ntot
    ),
    terms AS (
      SELECT t, d, c, n_at_risk,
             CASE WHEN n_at_risk > d
                  THEN CAST(ln(CAST(n_at_risk - d AS DOUBLE)
                               / CAST(n_at_risk AS DOUBLE)) AS DECIMAL(38,6))
             END AS term,
             max(d >= n_at_risk) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS extinct
      FROM ar
    ),
    cum AS (
      SELECT t, d, c, n_at_risk, extinct,
             sum(term) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS logsum
      FROM terms
    )
    SELECT CAST(t AS INT) AS t_days, n_at_risk,
           d AS n_events, c AS n_censored,
           CASE WHEN extinct THEN NULL
                ELSE CAST(coalesce(logsum, 0) AS DOUBLE) END AS log_s,
           CASE WHEN extinct THEN CAST(0 AS DOUBLE)
                ELSE round(exp(CAST(coalesce(logsum, 0) AS DOUBLE)), 6)
           END AS survival
    FROM cum
    """


def burst_flags(
    events: DataFrame, window_s: int = 60, threshold: int = 5
) -> DataFrame:
    """Burst / bot-rate screen: each user's PEAK event count inside any
    sliding ``window_s``-second window (anchored at each event — the exact
    sliding-window maximum, not a bucketed approximation), flagged against
    ``threshold``. The standard abuse-detection primitive: humans don't
    emit 20 events in 60 seconds, scrapers do.

    ONE user-keyed RANGE window over epoch seconds (count of events in
    [t - window_s + 1, t]) followed by the per-user max — a single shuffle
    on the user key, no self-join, no per-user arrays. Output:
    (user_id, n_events, peak_rate, is_burst).
    """
    pts = events.select(
        F.col("user_id").alias("u"),
        F.expr("cast(ts as bigint)").alias("x"),
    )
    w = Window.partitionBy("u").orderBy("x").rangeBetween(-(window_s - 1), 0)
    cnt = pts.withColumn("c", F.count("*").over(w))
    return cnt.groupBy("u").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("c").cast("bigint").alias("peak_rate"),
    ).select(
        F.col("u").alias("user_id"),
        "n_events",
        "peak_rate",
        (F.col("peak_rate") >= threshold).alias("is_burst"),
    )


def oracle_burst_flags(
    table: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_s: int = 60,
    threshold: int = 5,
) -> str:
    return f"""
    WITH pts AS (
      SELECT {user_col} AS u, CAST(floor(epoch({ts_col})) AS BIGINT) AS x
      FROM {table}
    ),
    cnt AS (
      SELECT u, count(*) OVER (PARTITION BY u ORDER BY x
               RANGE BETWEEN {window_s - 1} PRECEDING AND CURRENT ROW) AS c
      FROM pts
    )
    SELECT u AS {user_col}, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(c) AS BIGINT) AS peak_rate,
           max(c) >= {threshold} AS is_burst
    FROM cnt GROUP BY u
    """


def peak_concurrency(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Peak number of SIMULTANEOUSLY active sessions — the capacity
    question ("how many seats were in use at the worst moment?") answered
    exactly by a sweep line over session boundaries: sessionize (gap
    rule), emit +1 at each session start and -1 just after its end, take
    the running sum in (time, delta) order; the maximum of that sum is
    the peak concurrency and is ORDER-INDEPENDENT under ties (within a
    same-timestamp group of equal deltas the running values form the same
    multiset whatever the order — ends sort before starts so touching
    sessions never double-count).

    Scale shape: sessionization is one user-keyed window; the sweep is a
    two-phase prefix over boundary rows (2 per session — session-scale,
    not event-scale), never a one-task global window. Output one row:
    (n_sessions, peak_concurrent, peak_at_epoch) — the earliest second
    the peak is reached.
    """
    from ..operators.partitioning import two_phase_prefix

    pts = events.select(
        F.col("user_id").alias("u"),
        F.expr("cast(ts as bigint)").alias("x"),
    )
    sess = (
        _sessions(pts, gap_s)
        .groupBy("u", "sid")
        .agg(F.min("x").alias("s_start"), F.max("x").alias("s_end"))
    )
    bounds = sess.select(
        F.col("s_start").alias("x"), F.lit(1).alias("delta")
    ).union(
        sess.select((F.col("s_end") + 1).alias("x"), F.lit(-1).alias("delta"))
    )
    cum = two_phase_prefix(
        bounds, [F.col("x"), F.col("delta")], F.col("delta"), "cc"
    )
    n_sessions = sess.agg(F.count("*").cast("bigint").alias("n_sessions"))
    peak = cum.agg(F.max("cc").cast("bigint").alias("peak_concurrent"))
    peak_at = (
        cum.join(F.broadcast(peak), cum["cc"] == peak["peak_concurrent"])
        .agg(F.min("x").cast("bigint").alias("peak_at_epoch"))
    )
    return n_sessions.crossJoin(F.broadcast(peak)).crossJoin(F.broadcast(peak_at))


def oracle_peak_concurrency(
    table: str, user_col: str = "user_id", ts_col: str = "ts", gap_s: int = 1800
) -> str:
    return f"""
    WITH pts AS (
      SELECT {user_col} AS u, CAST(floor(epoch({ts_col})) AS BIGINT) AS x
      FROM {table}
    ),
    marked AS (
      SELECT u, x,
             CASE WHEN lag(x) OVER (PARTITION BY u ORDER BY x) IS NULL
                    OR x - lag(x) OVER (PARTITION BY u ORDER BY x) > {gap_s}
                  THEN 1 ELSE 0 END AS new_s
      FROM pts
    ),
    sids AS (
      SELECT u, x, CAST(sum(new_s) OVER (PARTITION BY u ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM marked
    ),
    sess AS (
      SELECT u, sid, min(x) AS s_start, max(x) AS s_end
      FROM sids GROUP BY u, sid
    ),
    bounds AS (
      SELECT s_start AS x, 1 AS delta FROM sess
      UNION ALL
      SELECT s_end + 1 AS x, -1 AS delta FROM sess
    ),
    cum AS (
      SELECT x, CAST(sum(delta) OVER (ORDER BY x, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
      FROM bounds
    ),
    pk AS (SELECT CAST(max(cc) AS BIGINT) AS peak_concurrent FROM cum)
    SELECT CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
           pk.peak_concurrent,
           CAST((SELECT min(x) FROM cum, pk WHERE cum.cc = pk.peak_concurrent)
                AS BIGINT) AS peak_at_epoch
    FROM pk
    """


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning growth report — the first dashboard every
    product ships: per day, active users, first-seen-today users,
    returning users, and the running total of distinct users ever seen
    (computed WITHOUT a running count-distinct: cumulative sum of the
    per-day new-user counts, which is the same number by definition).

    Shape: one (user, day) distinct, one user-keyed min for first-seen,
    one day-keyed count pass, then the cumulative window runs over the
    per-day frame — calendar scale, metadata-sized. All outputs exact
    integers. Output: (day, n_active, n_new, n_returning, cum_users).
    """
    ud = events.select(
        F.col("user_id").alias("u"), F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    first = ud.groupBy("u").agg(F.min("day").alias("first_day"))
    active = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("n_active"))
    new = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(new, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            (F.col("n_active") - F.coalesce("n_new", F.lit(0)))
            .cast("bigint")
            .alias("n_returning"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w_cum).cast("bigint"))
    )


def oracle_new_vs_returning(
    table: str, user_col: str = "user_id", ts_col: str = "ts"
) -> str:
    return f"""
    WITH ud AS (
      SELECT DISTINCT {user_col} AS u, date_trunc('day', {ts_col}) AS day FROM {table}
    ),
    first AS (SELECT u, min(day) AS first_day FROM ud GROUP BY u),
    active AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active FROM ud GROUP BY day),
    nw AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
           FROM first GROUP BY first_day)
    SELECT a.day, a.n_active,
           CAST(coalesce(nw.n_new, 0) AS BIGINT) AS n_new,
           CAST(a.n_active - coalesce(nw.n_new, 0) AS BIGINT) AS n_returning,
           CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY a.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM active a LEFT JOIN nw ON a.day = nw.day
    """


_MK_SCALE = 1_000_000_000_000_000  # 1e15 as an exact integer literal


def markov_attribution(
    events: DataFrame,
    channels: list[str],
    conv_type: str = "purchase",
    gap_s: int = 1800,
    steps: int = 8,
) -> DataFrame:
    """Markov-chain multi-touch attribution with REMOVAL EFFECTS — the
    standard data-driven attribution model (Anderl et al. 2014): build
    the first-order journey chain start -> touches -> {conv, null} from
    sessionized user paths (truncated at the first conversion), then for
    each channel ask "how much conversion probability disappears if this
    channel vanishes?" and share credit proportionally.

    Conversion probability is the ``steps``-step absorption mass reaching
    'conv' from 'start' — a fixed-iteration value-vector recurrence
    v_{t+1}(s) = Σ P(s->s') v_t(s'), the pagerank determinism recipe:
    v carries as scaled BIGINT (x1e15), each edge term is
    round(P * v) with P an exact bigint/bigint double division, so every
    scenario probability is an EXACT INTEGER on any engine and the oracle
    replays the unrolled CTE chain. Removal of channel c filters edges
    touching c but KEEPS the original denominators (lost mass = journeys
    that died with c — the definition of the removal effect). Credit
    shares are ratios of exact integer effect masses — no float
    accumulation anywhere.

    Scale shape: sessionization + edge counting is the data-scale part
    (two user-keyed windows, one (src,dst) count); the edge table is
    channel-vocabulary sized and localCheckpointed once (annotated:
    metadata scale), so the 1 + |channels| scenario recurrences run on a
    tiny in-memory frame. Output per channel:
    (channel, p_base, p_removed, removal_effect, attribution_share).
    """
    pts = events.select(
        F.col("user_id").alias("u"),
        F.expr("cast(ts as bigint)").alias("x"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("t"),
    )
    sess = _sessions(pts, gap_s)
    w_s = Window.partitionBy("u", "sid").orderBy("x", "eid")
    w_sf = w_s.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pos = sess.withColumn("pos", F.row_number().over(w_s)).withColumn(
        "conv_pos",
        F.min(F.when(F.col("t") == conv_type, F.col("pos"))).over(w_sf),
    )
    kept = pos.filter(
        (F.col("t") != conv_type)
        & (F.col("conv_pos").isNull() | (F.col("pos") < F.col("conv_pos")))
    )
    w_k = Window.partitionBy("u", "sid").orderBy("pos")
    k2 = kept.withColumn("nxt", F.lead("t").over(w_k)).withColumn(
        "krank", F.row_number().over(w_k)
    )
    terminal = F.when(F.col("conv_pos").isNotNull(), F.lit("conv")).otherwise(
        F.lit("null")
    )
    internal = k2.select(
        F.col("t").alias("src"), F.coalesce("nxt", terminal).alias("dst")
    )
    starts = k2.filter(F.col("krank") == 1).select(
        F.lit("start").alias("src"), F.col("t").alias("dst")
    )
    empty = (
        pos.groupBy("u", "sid")
        .agg(
            F.max(F.when(F.col("t") == conv_type, 1).otherwise(0)).alias("hc"),
            F.sum(
                F.when(
                    (F.col("t") != conv_type)
                    & (F.col("conv_pos").isNull() | (F.col("pos") < F.col("conv_pos"))),
                    1,
                ).otherwise(0)
            ).alias("nk"),
        )
        .filter(F.col("nk") == 0)
        .select(
            F.lit("start").alias("src"),
            F.when(F.col("hc") == 1, F.lit("conv")).otherwise(F.lit("null")).alias("dst"),
        )
    )
    edges = (
        internal.union(starts)
        .union(empty)
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    den = edges.groupBy("src").agg(F.sum("n").cast("bigint").alias("den"))
    ew = edges.join(den, "src")
    # ALL scenarios (base + one per removed channel) stacked into one
    # scenario-tagged edge frame, so the recurrence below runs ONCE for
    # every scenario simultaneously — 8 tiny stages total instead of a
    # separate 8-step chain per scenario (measured 173s -> seconds).
    # Channel-vocabulary-sized; the single localCheckpoint pins it.
    parts = [ew.withColumn("sc", F.lit("__base__"))]
    for ch in channels:
        parts.append(
            ew.filter((F.col("src") != ch) & (F.col("dst") != ch)).withColumn(
                "sc", F.lit(ch)
            )
        )
    sce = parts[0]
    for p_ in parts[1:]:
        sce = sce.union(p_)
    sce = sce.localCheckpoint()
    conv_rows = (
        sce.select("sc")
        .distinct()
        .select(
            "sc", F.lit("conv").alias("state"), F.lit(_MK_SCALE).cast("bigint").alias("v")
        )
        .localCheckpoint()
    )
    v = conv_rows
    for _ in range(steps):
        contrib = (
            sce.alias("e")
            .join(
                v.alias("vv"),
                (F.col("e.sc") == F.col("vv.sc"))
                & (F.col("e.dst") == F.col("vv.state")),
            )
            .select(
                F.col("e.sc").alias("sc"),
                F.col("e.src").alias("src"),
                F.round(
                    (F.col("e.n").cast("double") / F.col("e.den").cast("double"))
                    * F.col("vv.v").cast("double")
                )
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("sc", "src")
            .agg(F.sum("c").cast("bigint").alias("v"))
            .select("sc", F.col("src").alias("state"), "v")
        )
        v = contrib.union(conv_rows)
    p_sc = (
        v.filter(F.col("state") == "start")
        .groupBy("sc")
        .agg(F.sum("v").cast("bigint").alias("p"))
        .localCheckpoint()
    )
    base = p_sc.filter(F.col("sc") == "__base__").select(F.col("p").alias("pb"))
    spark = events.sparkSession
    chf = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in channels])).alias("channel")
    )
    rows = (
        chf.join(
            p_sc.select(F.col("sc").alias("channel"), F.col("p").alias("pr")),
            "channel",
            "left",
        )
        .withColumn("pr", F.coalesce(F.col("pr"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(base))
    )
    eff = rows.withColumn("es", (F.col("pb") - F.col("pr")).cast("bigint"))
    tot = eff.agg(F.sum("es").cast("bigint").alias("te"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            (F.col("pb").cast("double") / F.lit(float(_MK_SCALE))).alias("p_base"),
            (F.col("pr").cast("double") / F.lit(float(_MK_SCALE))).alias("p_removed"),
            (F.col("es").cast("double") / F.col("pb").cast("double")).alias(
                "removal_effect"
            ),
            (F.col("es").cast("double") / F.col("te").cast("double")).alias(
                "attribution_share"
            ),
        )
    )


def oracle_markov_attribution(
    table: str,
    channels: list[str],
    conv_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    steps: int = 8,
) -> str:
    """Unrolled-CTE replay: same sessionized edge counts, same scaled
    bigint absorption recurrence per scenario, same exact-integer credit
    ratios."""
    scale = _MK_SCALE
    sql = f"""
    WITH pts AS (
      SELECT {user_col} AS u, CAST(floor(epoch({ts_col})) AS BIGINT) AS x,
             event_id AS eid, event_type AS t
      FROM {table}
    ),
    marked AS (
      SELECT u, x, eid, t,
             CASE WHEN lag(x) OVER (PARTITION BY u ORDER BY x, eid) IS NULL
                    OR x - lag(x) OVER (PARTITION BY u ORDER BY x, eid) > {gap_s}
                  THEN 1 ELSE 0 END AS new_s
      FROM pts
    ),
    sids AS (
      SELECT u, x, eid, t,
             CAST(sum(new_s) OVER (PARTITION BY u ORDER BY x, eid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM marked
    ),
    posn AS (
      SELECT u, sid, t,
             row_number() OVER (PARTITION BY u, sid ORDER BY x, eid) AS pos
      FROM sids
    ),
    cp AS (
      SELECT u, sid, t, pos,
             min(CASE WHEN t = '{conv_type}' THEN pos END)
               OVER (PARTITION BY u, sid) AS conv_pos
      FROM posn
    ),
    k2 AS (
      SELECT u, sid, t, pos, conv_pos,
             lead(t) OVER (PARTITION BY u, sid ORDER BY pos) AS nxt,
             row_number() OVER (PARTITION BY u, sid ORDER BY pos) AS krank
      FROM cp
      WHERE t <> '{conv_type}' AND (conv_pos IS NULL OR pos < conv_pos)
    ),
    internal AS (
      SELECT t AS src,
             coalesce(nxt, CASE WHEN conv_pos IS NOT NULL
                                THEN 'conv' ELSE 'null' END) AS dst
      FROM k2
    ),
    starts AS (SELECT 'start' AS src, t AS dst FROM k2 WHERE krank = 1),
    empties AS (
      SELECT 'start' AS src,
             CASE WHEN hc = 1 THEN 'conv' ELSE 'null' END AS dst
      FROM (
        SELECT u, sid,
               max(CASE WHEN t = '{conv_type}' THEN 1 ELSE 0 END) AS hc,
               sum(CASE WHEN t <> '{conv_type}'
                         AND (conv_pos IS NULL OR pos < conv_pos)
                        THEN 1 ELSE 0 END) AS nk
        FROM cp GROUP BY u, sid
      ) WHERE nk = 0
    ),
    edges AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT * FROM internal
        UNION ALL SELECT * FROM starts
        UNION ALL SELECT * FROM empties
      ) GROUP BY src, dst
    ),
    den AS (SELECT src, CAST(sum(n) AS BIGINT) AS den FROM edges GROUP BY src),
    ew AS MATERIALIZED (
      SELECT e.src, e.dst, e.n, d.den FROM edges e JOIN den d ON e.src = d.src
    )"""
    scenarios = [("base", None)] + [(f"c{i}", ch) for i, ch in enumerate(channels)]
    for name, ch in scenarios:
        flt = "" if ch is None else f" WHERE e.src <> '{ch}' AND e.dst <> '{ch}'"
        sql += f""",
    v_{name}_0 AS (SELECT 'conv' AS state, CAST({scale} AS BIGINT) AS v)"""
        for t in range(steps):
            sql += f""",
    v_{name}_{t + 1} AS (
      SELECT e.src AS state,
             CAST(sum(CAST(round(CAST(e.n AS DOUBLE) / CAST(e.den AS DOUBLE)
                  * CAST(v.v AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
      FROM ew e JOIN v_{name}_{t} v ON e.dst = v.state{flt}
      GROUP BY e.src
      UNION ALL SELECT 'conv', CAST({scale} AS BIGINT)
    )"""
        sql += f""",
    p_{name} AS (
      SELECT CAST(coalesce(sum(v), 0) AS BIGINT) AS p
      FROM v_{name}_{steps} WHERE state = 'start'
    )"""
    ch_rows = "\n      UNION ALL ".join(
        f"SELECT '{ch}' AS channel, p_base.p AS pb, p_c{i}.p AS pr"
        f" FROM p_base, p_c{i}"
        for i, ch in enumerate(channels)
    )
    sql += f""",
    eff AS (
      SELECT channel, pb, pr, CAST(pb - pr AS BIGINT) AS es FROM (
      {ch_rows}
      )
    ),
    tot AS (SELECT CAST(sum(es) AS BIGINT) AS te FROM eff)
    SELECT channel,
           CAST(pb AS DOUBLE) / {float(scale)!r} AS p_base,
           CAST(pr AS DOUBLE) / {float(scale)!r} AS p_removed,
           CAST(es AS DOUBLE) / CAST(pb AS DOUBLE) AS removal_effect,
           CAST(es AS DOUBLE) / CAST(tot.te AS DOUBLE) AS attribution_share
    FROM eff, tot
    """
    return sql


def pareto_tiers(events: DataFrame, tiers: list[int] = (1, 10, 50)) -> DataFrame:
    """Activity-concentration (Pareto) report: what share of all events
    comes from the top 1% / 10% / 50% most active users — the
    "80/20 rule" readout behind capacity planning, abuse review, and
    power-user analysis.

    Users are ranked by exact event count (ties broken by user id — a
    total order, so tier membership is deterministic); tier cutoff is
    ceil(p% * n_users). The rank runs over the per-USER aggregate (one
    row per user — user-scale, far below event scale; at extreme
    cardinality swap in two_phase_prefix, same contract as
    global_sort_with_rank). All outputs exact integers plus one rounded
    ratio. Output: (tier_pct, n_users_tier, n_events_tier, pct_events).
    """
    per_user = events.groupBy(F.col("user_id").alias("u")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("u"))
    ranked = per_user.withColumn("rnk", F.row_number().over(w))
    totals = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    r = ranked.crossJoin(F.broadcast(totals))
    out = None
    for p in tiers:
        cut = F.ceil(F.col("n_users") * p / 100).cast("bigint")
        tier = r.filter(F.col("rnk") <= cut).agg(
            F.lit(p).cast("int").alias("tier_pct"),
            F.count("*").cast("bigint").alias("n_users_tier"),
            F.sum("n").cast("bigint").alias("n_events_tier"),
            F.round(
                F.sum("n").cast("double") / F.first("n_events").cast("double") * 100.0,
                6,
            ).alias("pct_events"),
        )
        out = tier if out is None else out.union(tier)
    return out


def oracle_pareto_tiers(
    table: str, user_col: str = "user_id", tiers: list[int] = (1, 10, 50)
) -> str:
    parts = []
    for p in tiers:
        parts.append(f"""
    SELECT CAST({p} AS INT) AS tier_pct,
           CAST(count(*) AS BIGINT) AS n_users_tier,
           CAST(sum(n) AS BIGINT) AS n_events_tier,
           round(CAST(sum(n) AS DOUBLE) / CAST(any_value(ne) AS DOUBLE) * 100.0, 6)
             AS pct_events
    FROM ranked WHERE rnk <= CAST(ceil(nu * {p} / 100.0) AS BIGINT)""")
    return f"""
    WITH per_user AS (
      SELECT {user_col} AS u, CAST(count(*) AS BIGINT) AS n
      FROM {table} GROUP BY 1
    ),
    ranked AS (
      SELECT u, n, row_number() OVER (ORDER BY n DESC, u) AS rnk,
             (SELECT count(*) FROM per_user) AS nu,
             (SELECT CAST(sum(n) AS BIGINT) FROM per_user) AS ne
      FROM per_user
    )
    {" UNION ALL ".join(parts)}
    """


def transition_entropy(events: DataFrame) -> DataFrame:
    """Journey predictability: Shannon entropy of the next-event
    distribution per current state — low entropy = scripted/funnel-like
    behavior (or a bot), high entropy = exploratory. The sequence-level
    sibling of prof_column_entropy, computed from the same first-order
    transition counts as evt_markov_transitions.

    Per state: H = -Σ p ln p with p = n/tot an exact bigint/bigint
    division and each p*ln(p) term rounded to DECIMAL(38,6) before the
    EXACT per-state decimal sum (the unigram_logprob discipline). Also
    reports the normalized entropy H / ln(k) over k observed successors.
    Output: (state, n_out, n_next, entropy, norm_entropy).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = seq.groupBy("cur", "nxt").agg(F.count("*").cast("bigint").alias("n"))
    tot = counts.groupBy("cur").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("k"),
    )
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    terms = counts.join(tot, "cur").withColumn(
        "term", (p * F.log(p)).cast("decimal(38,6)")
    )
    return terms.groupBy("cur").agg(
        F.first("tot").cast("bigint").alias("n_out"),
        F.first("k").cast("bigint").alias("n_next"),
        (-F.sum("term")).cast("double").alias("entropy"),
        F.when(
            F.first("k") > 1,
            F.round(
                (-F.sum("term")).cast("double")
                / F.log(F.first("k").cast("double")),
                6,
            ),
        ).alias("norm_entropy"),
    ).select(
        F.col("cur").alias("state"), "n_out", "n_next", "entropy", "norm_entropy"
    )


def oracle_transition_entropy(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> str:
    return f"""
    WITH seq AS (
      SELECT {type_col} AS cur,
             lead({type_col}) OVER (PARTITION BY {user_col}
                                    ORDER BY {ts_col}, event_id) AS nxt
      FROM {table}
    ),
    counts AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (
      SELECT cur, CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS k
      FROM counts GROUP BY cur
    ),
    terms AS (
      SELECT c.cur, t.tot, t.k,
             CAST((CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
                  * ln(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
                  AS DECIMAL(38,6)) AS term
      FROM counts c JOIN tot t ON c.cur = t.cur
    )
    SELECT cur AS state, CAST(any_value(tot) AS BIGINT) AS n_out,
           CAST(any_value(k) AS BIGINT) AS n_next,
           CAST(-sum(term) AS DOUBLE) AS entropy,
           CASE WHEN any_value(k) > 1
                THEN round(CAST(-sum(term) AS DOUBLE)
                           / ln(CAST(any_value(k) AS DOUBLE)), 6)
           END AS norm_entropy
    FROM terms GROUP BY cur
    """


def ab_chisq(
    events: DataFrame, convert_type: str = "purchase", min_count: int = 1
) -> DataFrame:
    """Pearson chi-square independence test on the conversion 2×2 — the
    categorical sibling of :func:`ab_test`'s z-tests: variants split by
    ``user_id % 2`` (the same deterministic assignment), cells are exact
    per-user conversion counts, X² = n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))
    runs as ONE fixed-order double chain on those exact integers.
    ``significant`` compares X² against the df=1, α=0.05 critical value
    3.841459 — a constant, so no p-value special function is needed.

    Output: (metric, n_users, conv_a, n_a, conv_b, n_b, chi2, significant).
    """
    per_user = events.groupBy(F.col("user_id").alias("uid")).agg(
        F.when(
            F.sum(F.when(F.col("event_type") == convert_type, 1).otherwise(0)) >= min_count,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("conv")
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("uid") % 2 == 0) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("uid") % 2 == 0) & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("uid") % 2 == 1) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("uid") % 2 == 1) & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    ad, bd, cd, dd = (F.col(x).cast("double") for x in "abcd")
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    det = ad * dd - bd * cd
    denom = (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)
    chi2 = F.when(denom > 0, F.round(n.cast("double") * det * det / denom, 6))
    return cells.select(
        F.lit("conversion_chisq").alias("metric"),
        n.cast("bigint").alias("n_users"),
        F.col("a").alias("conv_a"),
        (F.col("a") + F.col("b")).cast("bigint").alias("n_a"),
        F.col("c").alias("conv_b"),
        (F.col("c") + F.col("d")).cast("bigint").alias("n_b"),
        chi2.alias("chi2"),
        (F.coalesce(chi2, F.lit(0.0)) > F.lit(3.841459)).alias("significant"),
    )


def oracle_ab_chisq(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    convert_type: str = "purchase",
    min_count: int = 1,
) -> str:
    return f"""
    WITH per_user AS (
      SELECT {user_col} AS uid,
             CASE WHEN sum(CASE WHEN {type_col} = '{convert_type}' THEN 1 ELSE 0 END)
                       >= {min_count} THEN 1 ELSE 0 END AS conv
      FROM {table} GROUP BY 1
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN uid % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN uid % 2 = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN uid % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN uid % 2 = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM per_user
    )
    SELECT 'conversion_chisq' AS metric,
           CAST(a + b + c + d AS BIGINT) AS n_users,
           a AS conv_a, CAST(a + b AS BIGINT) AS n_a,
           c AS conv_b, CAST(c + d AS BIGINT) AS n_b,
           CASE WHEN (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                     * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                     * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                     * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) > 0 THEN
             round(CAST(a + b + c + d AS DOUBLE)
                   * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                   * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                   / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                      * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                      * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                      * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))), 6)
           END AS chi2,
           coalesce(CASE WHEN (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                     * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                     * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                     * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) > 0 THEN
             round(CAST(a + b + c + d AS DOUBLE)
                   * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                   * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                   / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                      * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
                      * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                      * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))), 6)
           END, 0.0) > 3.841459 AS significant
    FROM cells
    """


# df=1 two-sided alpha=0.05 and 80% power normal quantiles — public
# constants (z_{0.975}, z_{0.80}); injected via repr so both engines see
# the identical IEEE doubles.
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621


def ab_power(
    events: DataFrame, convert_type: str = "purchase", min_count: int = 1
) -> DataFrame:
    """Experiment-design readout for the A/B harness: observed conversion
    rates per variant (user_id % 2, the evt_ab_test assignment), the
    minimum detectable effect at the CURRENT sample size, and the
    required per-arm n to detect the OBSERVED delta — both from the
    standard two-proportion normal approximation
    n = (z_α/2 + z_β)² · (p_a(1−p_a) + p_b(1−p_b)) / δ².

    All counts are exact integers from one user-keyed aggregate; the
    closed forms are fixed-order double chains (sqrt only — correctly
    rounded), so both engines emit identical bits. δ=0 yields NULL
    required_n, not a division blowup.

    Output: (metric, n_a, p_a, n_b, p_b, delta, mde, required_n_per_arm).
    """
    per_user = events.groupBy(F.col("user_id").alias("uid")).agg(
        F.when(
            F.sum(F.when(F.col("event_type") == convert_type, 1).otherwise(0)) >= min_count,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("conv")
    )
    cells = per_user.agg(
        F.sum(F.when(F.col("uid") % 2 == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when((F.col("uid") % 2 == 0) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("uid") % 2 == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when((F.col("uid") % 2 == 1) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    z2 = (_Z_ALPHA + _Z_BETA) ** 2
    pa = F.col("ca").cast("double") / F.col("n_a").cast("double")
    pb = F.col("cb").cast("double") / F.col("n_b").cast("double")
    var = pa * (F.lit(1.0) - pa) + pb * (F.lit(1.0) - pb)
    delta = F.abs(pa - pb)
    return cells.select(
        F.lit("conversion_power").alias("metric"),
        "n_a",
        F.round(pa, 6).alias("p_a"),
        "n_b",
        F.round(pb, 6).alias("p_b"),
        F.round(delta, 6).alias("delta"),
        F.round(
            F.lit(_Z_ALPHA + _Z_BETA)
            * F.sqrt(
                pa * (F.lit(1.0) - pa) / F.col("n_a").cast("double")
                + pb * (F.lit(1.0) - pb) / F.col("n_b").cast("double")
            ),
            6,
        ).alias("mde"),
        F.when(delta > 0, F.round(F.lit(z2) * var / (delta * delta), 6)).alias(
            "required_n_per_arm"
        ),
    )


def oracle_ab_power(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    convert_type: str = "purchase",
    min_count: int = 1,
) -> str:
    z_sum = _Z_ALPHA + _Z_BETA
    z2 = z_sum ** 2
    pa = "(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE))"
    pb = "(CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))"
    var = f"({pa} * (1.0 - {pa}) + {pb} * (1.0 - {pb}))"
    delta = f"abs({pa} - {pb})"
    return f"""
    WITH per_user AS (
      SELECT {user_col} AS uid,
             CASE WHEN sum(CASE WHEN {type_col} = '{convert_type}' THEN 1 ELSE 0 END)
                       >= {min_count} THEN 1 ELSE 0 END AS conv
      FROM {table} GROUP BY 1
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN uid % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN uid % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN uid % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN uid % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM per_user
    )
    SELECT 'conversion_power' AS metric,
           n_a, round({pa}, 6) AS p_a,
           n_b, round({pb}, 6) AS p_b,
           round({delta}, 6) AS delta,
           round(CAST({z_sum!r} AS DOUBLE)
                 * sqrt({pa} * (1.0 - {pa}) / CAST(n_a AS DOUBLE)
                        + {pb} * (1.0 - {pb}) / CAST(n_b AS DOUBLE)), 6) AS mde,
           CASE WHEN {delta} > 0 THEN
             round(CAST({z2!r} AS DOUBLE) * {var} / ({delta} * {delta}), 6)
           END AS required_n_per_arm
    FROM cells
    """


def srm_check(events: DataFrame) -> DataFrame:
    """Sample Ratio Mismatch guardrail: chi-square goodness-of-fit of the
    observed variant split (user_id % 2) against the designed 50/50 —
    THE first check on any experiment readout; a significant SRM
    invalidates the A/B result before any metric is looked at.

    For two cells at 50/50 the statistic collapses to
    X² = (n_a − n_b)² / (n_a + n_b): exact integers, one division,
    df=1 critical constant. Output: (metric, n_a, n_b, chi2, srm_detected).
    """
    users = events.select(F.col("user_id").alias("uid")).distinct()
    cells = users.agg(
        F.sum(F.when(F.col("uid") % 2 == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("uid") % 2 == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    diff = (F.col("n_a") - F.col("n_b")).cast("double")
    tot = (F.col("n_a") + F.col("n_b")).cast("double")
    chi2 = F.round(diff * diff / tot, 6)
    return cells.select(
        F.lit("srm_50_50").alias("metric"),
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("srm_detected"),
    )


def oracle_srm_check(table: str, user_col: str = "user_id") -> str:
    return f"""
    WITH users AS (SELECT DISTINCT {user_col} AS uid FROM {table}),
    cells AS (
      SELECT CAST(sum(CASE WHEN uid % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN uid % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM users
    )
    SELECT 'srm_50_50' AS metric, n_a, n_b,
           round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
           round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE), 6) > 3.841459 AS srm_detected
    FROM cells
    """


def stickiness(events: DataFrame) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the canonical product-
    engagement ratio: average daily active users over monthly active
    users (1.0 = everyone active every day).

    Two distinct-count aggregates (day-keyed and month-keyed) and one
    month-frame join; every ratio is one division of exact BIGINTs.
    Output: (month, n_days, mau, avg_dau, stickiness).
    """
    base = events.select(
        F.col("user_id").alias("uid"),
        F.expr("date_trunc('day', ts)").alias("d"),
        F.expr("date_trunc('month', ts)").alias("m"),
    )
    dau = base.groupBy("m", "d").agg(F.countDistinct("uid").cast("bigint").alias("dau"))
    per_month = dau.groupBy("m").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    mau = base.groupBy("m").agg(F.countDistinct("uid").cast("bigint").alias("mau"))
    return (
        per_month.join(mau, "m")
        .select(
            F.col("m").alias("month"),
            "n_days",
            "mau",
            F.round(F.col("dau_sum").cast("double") / F.col("n_days").cast("double"), 6)
            .alias("avg_dau"),
            F.round(
                F.col("dau_sum").cast("double")
                / F.col("n_days").cast("double")
                / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


def oracle_stickiness(
    table: str, user_col: str = "user_id", ts_col: str = "ts"
) -> str:
    return f"""
    WITH base AS (
      SELECT {user_col} AS uid, date_trunc('day', {ts_col}) AS d,
             date_trunc('month', {ts_col}) AS m
      FROM {table}
    ),
    dau AS (
      SELECT m, d, CAST(count(DISTINCT uid) AS BIGINT) AS dau
      FROM base GROUP BY 1, 2
    ),
    per_month AS (
      SELECT m, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(dau) AS BIGINT) AS dau_sum
      FROM dau GROUP BY m
    ),
    mau AS (SELECT m, CAST(count(DISTINCT uid) AS BIGINT) AS mau FROM base GROUP BY m)
    SELECT p.m AS month, p.n_days, u.mau,
           round(CAST(p.dau_sum AS DOUBLE) / CAST(p.n_days AS DOUBLE), 6) AS avg_dau,
           round(CAST(p.dau_sum AS DOUBLE) / CAST(p.n_days AS DOUBLE)
                 / CAST(u.mau AS DOUBLE), 6) AS stickiness
    FROM per_month p JOIN mau u ON p.m = u.m
    """


def bot_flags(
    events: DataFrame, burst_threshold: int = 5, rapid_ms: int = 1000
) -> DataFrame:
    """Bot/abuse screening per user: peak events-per-minute and the count
    of sub-second consecutive gaps — the two superhuman-rate signals a
    curation pipeline uses to drop automated traffic before computing
    engagement metrics.

    One minute-bucket keyed aggregate for the burst peak; one user-keyed
    lag window (total (ts, id) order) for rapid-fire gaps; both exact
    integers, the flag is an integer-threshold OR.
    Output: (user_id, n_events, peak_per_minute, n_rapid, is_bot).
    """
    base = events.select(
        F.col("user_id").alias("uid"),
        F.expr("cast(unix_millis(ts) as bigint)").alias("tms"),
        F.col("event_id").alias("eid"),
    )
    per_min = (
        base.withColumn("minute", F.expr("tms div 60000"))
        .groupBy("uid", "minute")
        .agg(F.count("*").cast("bigint").alias("c"))
        .groupBy("uid")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.max("c").cast("bigint").alias("peak_per_minute"),
        )
    )
    w = Window.partitionBy("uid").orderBy("tms", "eid")
    rapid = (
        base.select("uid", (F.col("tms") - F.lag("tms").over(w)).alias("gap_ms"))
        .filter(F.col("gap_ms").isNotNull() & (F.col("gap_ms") < rapid_ms))
        .groupBy("uid")
        .agg(F.count("*").cast("bigint").alias("n_rapid"))
    )
    return (
        per_min.join(rapid, "uid", "left")
        .select(
            F.col("uid").alias("user_id"),
            "n_events",
            "peak_per_minute",
            F.coalesce(F.col("n_rapid"), F.lit(0)).cast("bigint").alias("n_rapid"),
            (
                (F.col("peak_per_minute") >= burst_threshold)
                | (F.coalesce(F.col("n_rapid"), F.lit(0)) > 0)
            ).alias("is_bot"),
        )
    )


def oracle_bot_flags(
    table: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    burst_threshold: int = 5,
    rapid_ms: int = 1000,
) -> str:
    return f"""
    WITH base AS (
      SELECT {user_col} AS uid,
             CAST(floor(epoch_ms(CAST({ts_col} AS TIMESTAMP))) AS BIGINT) AS tms,
             {id_col} AS eid
      FROM {table}
    ),
    per_min AS (
      SELECT uid, CAST(sum(c) AS BIGINT) AS n_events,
             CAST(max(c) AS BIGINT) AS peak_per_minute
      FROM (
        SELECT uid, tms // 60000 AS minute, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2
      ) GROUP BY uid
    ),
    rapid AS (
      SELECT uid, CAST(count(*) AS BIGINT) AS n_rapid
      FROM (
        SELECT uid, tms - lag(tms) OVER (PARTITION BY uid ORDER BY tms, eid) AS gap_ms
        FROM base
      ) WHERE gap_ms IS NOT NULL AND gap_ms < {rapid_ms}
      GROUP BY uid
    )
    SELECT p.uid AS {user_col}, p.n_events, p.peak_per_minute,
           CAST(coalesce(r.n_rapid, 0) AS BIGINT) AS n_rapid,
           (p.peak_per_minute >= {burst_threshold}
            OR coalesce(r.n_rapid, 0) > 0) AS is_bot
    FROM per_min p LEFT JOIN rapid r ON p.uid = r.uid
    """


def ratio_metric_ci(events: DataFrame, numer_type: str = "purchase") -> DataFrame:
    """Delta-method confidence interval for a per-user ratio metric —
    revenue cents per event, θ = Σr/Σs — per variant (user_id % 2).
    Naive per-user-average CIs are wrong for ratio metrics because users
    are the randomization unit; the delta method
    se² = (var_r − 2θ·cov_rs + θ²·var_s) / (n·s̄²) is the standard fix.

    ONE user-keyed aggregate produces exact integer (r, s) per user; all
    second moments (Σr², Σs², Σrs) accumulate as DECIMAL(38,0); the
    closed form is a fixed-order double chain with sqrt only. z = the
    repr-injected 97.5% normal quantile.
    Output: (variant, n_users, theta, se, ci_lo, ci_hi).
    """
    per_user = events.groupBy(F.col("user_id").alias("uid")).agg(
        F.sum(F.when(F.col("event_type") == numer_type, _cents()).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("r"),
        F.count("*").cast("bigint").alias("s"),
    )
    rd, sd = F.col("r").cast("decimal(38,0)"), F.col("s").cast("decimal(38,0)")
    agg = per_user.groupBy((F.col("uid") % 2).cast("int").alias("variant")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum(rd * rd).alias("srr"),
        F.sum(sd * sd).alias("sss"),
        F.sum(rd * sd).alias("srs"),
    )
    nd = F.col("n").cast("double")
    rbar = F.col("sr").cast("double") / nd
    sbar = F.col("ss").cast("double") / nd
    theta = F.col("sr").cast("double") / F.col("ss").cast("double")
    var_r = F.col("srr").cast("double") / nd - rbar * rbar
    var_s = F.col("sss").cast("double") / nd - sbar * sbar
    cov = F.col("srs").cast("double") / nd - rbar * sbar
    se = F.sqrt(
        (var_r - F.lit(2.0) * theta * cov + theta * theta * var_s) / (nd * sbar * sbar)
    )
    z = 1.959964
    return agg.select(
        "variant",
        F.col("n").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(se, 6).alias("se"),
        F.round(theta - F.lit(z) * se, 6).alias("ci_lo"),
        F.round(theta + F.lit(z) * se, 6).alias("ci_hi"),
    )


def oracle_ratio_metric_ci(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    numer_type: str = "purchase",
) -> str:
    nd = "CAST(n AS DOUBLE)"
    rbar = f"(CAST(sr AS DOUBLE) / {nd})"
    sbar = f"(CAST(ss AS DOUBLE) / {nd})"
    theta = "(CAST(sr AS DOUBLE) / CAST(ss AS DOUBLE))"
    var_r = f"(CAST(srr AS DOUBLE) / {nd} - {rbar} * {rbar})"
    var_s = f"(CAST(sss AS DOUBLE) / {nd} - {sbar} * {sbar})"
    cov = f"(CAST(srs AS DOUBLE) / {nd} - {rbar} * {sbar})"
    se = (
        f"sqrt(({var_r} - 2.0 * {theta} * {cov} + {theta} * {theta} * {var_s})"
        f" / ({nd} * {sbar} * {sbar}))"
    )
    return f"""
    WITH per_user AS (
      SELECT {user_col} AS uid,
             CAST(sum(CASE WHEN {type_col} = '{numer_type}'
                  THEN CAST(round({value_col} * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS r,
             CAST(count(*) AS BIGINT) AS s
      FROM {table} GROUP BY 1
    ),
    agg AS (
      SELECT CAST(uid % 2 AS INT) AS variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS sr, CAST(sum(s) AS BIGINT) AS ss,
             sum(CAST(r AS DECIMAL(38,0)) * r) AS srr,
             sum(CAST(s AS DECIMAL(38,0)) * s) AS sss,
             sum(CAST(r AS DECIMAL(38,0)) * s) AS srs
      FROM per_user GROUP BY 1
    )
    SELECT variant, n AS n_users,
           round({theta}, 6) AS theta,
           round({se}, 6) AS se,
           round({theta} - 1.959964 * {se}, 6) AS ci_lo,
           round({theta} + 1.959964 * {se}, 6) AS ci_hi
    FROM agg
    """


def match_pattern(events: DataFrame, pattern: str, type_chars: dict) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern matching over each user's
    time-ordered event sequence — the CEP primitive ("a view that reaches
    a purchase with no error in between") that window functions can't
    express and SQL's MATCH_RECOGNIZE clause exists for.

    Each event type maps to ONE character (``type_chars``); the user's
    ordered history becomes a compact string via an in-row sorted fold
    (array_sort(collect_list(struct(ts, id, chr))) — the canonical
    deterministic-order trick), and ``pattern`` runs with
    regexp_count-style semantics on both engines. Keep the pattern
    lookaround-free and greedy (Java regex and DuckDB's RE2 then find
    identical non-overlapping spans — the documented regex-portability
    envelope).

    Shape: ONE user-keyed aggregate (histories are per-user, bounded);
    the regex runs once per user on a metadata-sized string. Output:
    (user, n_events, n_matches) for users with >= 1 match.
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in type_chars.items() for x in kv]
    )
    seq = (
        events.select(
            F.col("user_id").alias("u"),
            F.col("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            mapping[F.col("event_type")].alias("ch"),
        )
        .groupBy("u")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(ts, eid, ch))),"
                " s -> s.ch), '')"
            ).alias("hist"),
        )
    )
    return (
        seq.select(
            F.col("u").cast("bigint").alias("user_id"),
            "n_events",
            F.expr(f"size(regexp_extract_all(hist, '{pattern}', 0))")
            .cast("bigint")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
    )


def oracle_match_pattern(
    table: str,
    pattern: str,
    type_chars: dict,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    chr_case = (
        f"CASE {type_col} "
        + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in type_chars.items())
        + " END"
    )
    return f"""
    WITH seq AS (
      SELECT {user_col} AS u, CAST(count(*) AS BIGINT) AS n_events,
             string_agg({chr_case}, '' ORDER BY {ts_col}, {id_col}) AS hist
      FROM {table} GROUP BY {user_col}
    )
    SELECT CAST(u AS BIGINT) AS {user_col}, n_events,
           CAST(len(regexp_extract_all(hist, '{pattern}', 0)) AS BIGINT)
             AS n_matches
    FROM seq
    WHERE len(regexp_extract_all(hist, '{pattern}', 0)) >= 1
    """


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Time-weighted average (TWAP semantics): each observation holds
    until the next one (LOCF), so the mean weights each value by its holding
    interval — the correct average for irregularly sampled gauges, where
    the plain mean over-counts bursts ([[evt_interarrival]]'s CV tells
    you when the two diverge).

    Exact: holding intervals are BIGINT seconds (lead(ts) - ts, last
    observation contributes zero width — declared half-open semantics);
    each weighted term v_cents * dt_s is an exact BIGINT product summed as
    DECIMAL(38,0); ONE division at the end. Output: (key, n_obs,
    span_s, twap_cents) with twap rounded 6dp.
    """
    w = Window.partitionBy("k").orderBy("ts", "eid")
    obs = events.select(
        F.col("event_type").alias("k"),
        F.expr("cast(ts as bigint)").alias("ts"),
        F.col("event_id").alias("eid"),
        _cents().alias("v"),
    ).withColumn("dt", (F.lead("ts").over(w) - F.col("ts")).cast("bigint"))
    return (
        obs.filter(F.col("dt").isNotNull())
        .select("k", "v", "dt", F.expr("cast(v * dt as decimal(38,0))").alias("vdt"))
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum("dt").cast("bigint").alias("span_s"),
            F.round(
                F.sum("vdt").cast("double") / F.sum("dt").cast("double"), 6
            ).alias("twap_cents"),
        )
        .select(F.col("k").alias("event_type"), "n_obs", "span_s", "twap_cents")
    )


def oracle_time_weighted_avg(
    table: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    return f"""
    WITH obs AS (
      SELECT {key_col} AS k,
             CAST(floor(epoch({ts_col})) AS BIGINT) AS ts,
             event_id AS eid,
             CAST(round({value_col} * 100) AS BIGINT) AS v
      FROM {table}
    ),
    d AS (
      SELECT k, v,
             CAST(lead(ts) OVER (PARTITION BY k ORDER BY ts, eid) - ts
                  AS BIGINT) AS dt
      FROM obs
    )
    SELECT k AS {key_col}, CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(dt) AS BIGINT) AS span_s,
           round(CAST(sum(CAST(v * dt AS DECIMAL(38,0))) AS DOUBLE)
                 / CAST(sum(dt) AS DOUBLE), 6) AS twap_cents
    FROM d WHERE dt IS NOT NULL GROUP BY k
    """
