"""Deterministic sampling for dataset curation.

Spark's `sample`/`sampleBy` are seeded but engine-specific (their RNG stream
is not reproducible outside Spark). Curation pipelines want *content-stable*
sampling: whether a row is kept depends only on its key, so reruns,
backfills, and other engines (the DuckDB oracle, a downstream trainer)
agree row-for-row. All operators here threshold the md5-derived 32-bit hash
from :mod:`..functions` — the same trick as the reference's MD5-based
`SequenceFileInputFilter` (SequenceFileInputFilter.java:202), generalized.

Everything is a filter/withColumn — pushes into the scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hex_hash32, oracle_hash32

HASH_SPACE = 1 << 32


def deterministic_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ~fraction of rows, decided by hash(key) alone."""
    return df.filter(hex_hash32(key_col) < int(fraction * HASH_SPACE))


def stratified_sample(
    df: DataFrame, key_col: str, strata_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language doc quotas).

    Strata absent from ``fractions`` are dropped (matching `sampleBy`).
    """
    thresh = F.lit(None).cast("bigint")
    expr: Column = thresh
    for value, frac in fractions.items():
        expr = F.when(F.col(strata_col) == value, int(frac * HASH_SPACE)).otherwise(expr)
    return df.withColumn("_t", expr).filter(hex_hash32(key_col) < F.col("_t")).drop("_t")


def train_test_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.1, split_col: str = "split"
) -> DataFrame:
    """Adds 'train'/'test' label; assignment is stable under reruns and
    unaffected by row order or partitioning."""
    return df.withColumn(
        split_col,
        F.when(hex_hash32(key_col) < int(test_fraction * HASH_SPACE), "test").otherwise(
            "train"
        ),
    )


def oracle_hash_threshold(key_expr: str, fraction: float) -> str:
    """DuckDB predicate matching deterministic_sample."""
    return (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" < {int(fraction * HASH_SPACE)}"
    )


def sample_mixture(
    df: DataFrame, key_col: str, source_col: str, weights: dict[str, float]
) -> DataFrame:
    """Down-sample per-source so the surviving corpus matches a target
    mixture (the domain-mixing step of a training-data pipeline), keeping as
    much data as possible: the most over-asked source is kept whole and
    every other source is hash-thresholded to its proportional share.

    Deterministic (content-stable md5 on ``key_col``), so reruns and other
    engines select identical rows. Sources absent from ``weights`` are
    dropped. The per-source scaling factors live on a sources-sized
    aggregate that broadcasts; the data pass is one scan + filter.
    """
    import itertools

    w = F.create_map(
        *itertools.chain.from_iterable(
            (F.lit(s), F.lit(wt)) for s, wt in weights.items()
        )
    )
    counts = (
        df.filter(F.col(source_col).isin(*weights))
        .groupBy(source_col)
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__wt", w[F.col(source_col)])
    )
    # T = min over sources of count/weight; target_s = T * w_s
    t = counts.agg(F.min(F.col("__cnt") / F.col("__wt")).alias("__T"))
    fracs = counts.crossJoin(F.broadcast(t)).select(
        source_col,
        (F.col("__T") * F.col("__wt") / F.col("__cnt")).alias("__frac"),
    )
    return (
        df.join(F.broadcast(fracs), source_col)
        .filter(hex_hash32(key_col) < F.col("__frac") * HASH_SPACE)
        .drop("__frac")
    )


def oracle_sample_mixture(
    table: str, key_col: str, source_col: str, weights: dict[str, float]
) -> str:
    """DuckDB twin of sample_mixture (same md5 thresholds, same T)."""
    values = ", ".join(f"('{s}', CAST({wt} AS DOUBLE))" for s, wt in weights.items())
    hash32 = f"CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"""
    WITH w(src, wt) AS (VALUES {values}),
    c AS (
      SELECT {source_col} AS src, count(*) AS cnt
      FROM {table} WHERE {source_col} IN (SELECT src FROM w)
      GROUP BY 1
    ),
    f AS (
      SELECT c.src, (SELECT min(cnt / wt) FROM c JOIN w ON c.src = w.src) * wt / cnt AS frac
      FROM c JOIN w ON c.src = w.src
    )
    SELECT t.* FROM {table} t JOIN f ON t.{source_col} = f.src
    WHERE {hash32} < frac * {HASH_SPACE}
    """


def temperature_resample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    alpha: float = 0.5,
    total: int | None = None,
) -> DataFrame:
    """Temperature-scaled domain resampling WITH replacement — the standard
    multilingual/multi-domain pre-training mix: source s is drawn with
    probability ∝ n_s^alpha (alpha < 1 upweights rare domains), so a doc of
    source s appears on average rate_s = target_s / n_s times. Whole copies
    replicate deterministically; the fractional copy is kept by the same
    content-stable hash threshold as every sampler here — reruns and other
    engines agree row-for-row.

    Output rows carry a ``copy`` index (0-based) alongside the original
    columns. ``total`` defaults to the corpus size (pure re-mix).

    Scale shape: source stats are a tiny aggregate joined back by
    broadcast; replication is a JVM-side explode of `ceil(rate)` ints; no
    shuffle beyond the stats aggregate.
    """
    stats = df.groupBy(F.col(source_col).alias("__s")).agg(F.count("*").alias("__n"))
    rows = stats.collect()  # one row per domain — model-scale
    n_total = sum(r["__n"] for r in rows) if total is None else total
    wsum = sum(r["__n"] ** alpha for r in rows)
    rates = {r["__s"]: (r["__n"] ** alpha / wsum) * n_total / r["__n"] for r in rows}
    rate_expr = F.lit(None).cast("double")
    for s, rate in rates.items():
        rate_expr = F.when(F.col(source_col) == s, F.lit(rate)).otherwise(rate_expr)
    with_rate = df.withColumn("__rate", rate_expr)
    # copies 0..floor(rate)-1 always kept; copy floor(rate) kept when the
    # content hash falls under the fractional part
    # floor() before the bigint comparison on BOTH engines: Spark's cast
    # truncates but DuckDB's rounds, so the explicit floor keeps thresholds
    # identical
    frac_keep = hex_hash32(key_col) < F.floor(
        (F.col("__rate") - F.floor("__rate")) * HASH_SPACE
    ).cast("bigint")
    return (
        with_rate.withColumn(
            "copy",
            F.explode(
                F.expr("sequence(0, cast(floor(__rate) as int) - 1 + 1)")
            ),
        )
        .filter((F.col("copy") < F.floor("__rate")) | frac_keep)
        .drop("__rate")
        .withColumn("copy", F.col("copy").cast("bigint"))
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n_buckets: int = 256,
    top_k: int = 100,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its hashed n-gram features
    are under a target domain than under the raw corpus, then keep the
    top-k. ``target`` is a boolean Column marking the in-domain subset
    (e.g. ``F.col("lang") == "en"``); features are hashed unigram buckets
    (the paper's hashed n-grams with n=1 — the bucket hash is the shared
    md5-derived :func:`~..functions.hex_hash32`, so the oracle replays it).

    Per-bucket log ratio (add-1 smoothing over ``n_buckets``):
    ``ln(((t_f+1)/(T+B)) / ((r_f+1)/(R+B)))``; a doc's log importance
    weight is the count-weighted sum of its buckets' ratios.

    Determinism (the exact-hash oracle contract): the ratio is rounded to
    integer MICRO-units (scaled bigint, absorbing JVM-vs-libm ln ulp
    drift), so the per-doc weight accumulates as a pure integer sum —
    exact at any parallelism — and the only float op is one final
    division. Ties at the top-k boundary break on doc id.

    Scale shape: one (doc, bucket) aggregation on the exploded tokens, a
    B-row bucket table (map-side combined, then broadcast back), one
    per-doc aggregation — two data shuffles, no window, no cartesian. The
    bucket products stay < 2^53 up to ~10^13 tokens per side; beyond that
    compute the ratio as ``ln(t_f+1) - ln(T+B) - ...`` termwise.
    """
    from ..functions import ws_tokens_sql

    toks = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        target.cast("boolean").alias("is_t"),
        F.explode(F.expr(ws_tokens_sql(text_col))).alias("tok"),
    )
    doc_bucket = (
        toks.select(
            "id", "is_t", (hex_hash32("tok", salt="dsir") % n_buckets).alias("bucket")
        )
        .groupBy("id", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"), F.max("is_t").alias("is_t"))
    )
    bstats = doc_bucket.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_f"),
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(F.lit(0))).alias("tgt_f"),
    )
    tot = bstats.agg(F.sum("raw_f").alias("__R"), F.sum("tgt_f").alias("__T"))
    ratio = bstats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("tgt_f") + 1) * (F.col("__R") + n_buckets)).cast("double")
                / ((F.col("raw_f") + 1) * (F.col("__T") + n_buckets)).cast("double")
            )
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    weights = (
        doc_bucket.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lr_micro")).cast("bigint").alias("w_micro"),
        )
    )
    return (
        weights.select(
            "id",
            "n_tokens",
            (F.col("w_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "dsir_logweight"
            ),
        )
        .orderBy(F.col("dsir_logweight").desc(), "id")
        .limit(top_k)
    )


def oracle_dsir_importance(
    table: str,
    id_col: str,
    text_col: str,
    target_sql: str,
    n_buckets: int = 256,
    top_k: int = 100,
) -> str:
    """DuckDB twin of :func:`dsir_importance` (same md5 buckets, same
    micro-unit rounding, same smoothing and tie-break)."""
    from ..functions import WS, oracle_hash32

    toks = (
        f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    )
    h = oracle_hash32("tok", salt="dsir")
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id, ({target_sql}) AS is_t, unnest({toks}) AS tok
      FROM {table}
    ), db AS (
      SELECT id, bucket, count(*) AS cnt, bool_or(is_t) AS is_t
      FROM (SELECT id, is_t, ({h}) % {n_buckets} AS bucket FROM toks)
      GROUP BY id, bucket
    ), bstats AS (
      SELECT bucket, sum(cnt) AS raw_f,
             sum(CASE WHEN is_t THEN cnt ELSE 0 END) AS tgt_f
      FROM db GROUP BY bucket
    ), tot AS (SELECT sum(raw_f) AS r_tot, sum(tgt_f) AS t_tot FROM bstats),
    ratio AS (
      SELECT bucket,
             CAST(round(ln(CAST((tgt_f + 1) * (r_tot + {n_buckets}) AS DOUBLE)
                           / CAST((raw_f + 1) * (t_tot + {n_buckets}) AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS lr_micro
      FROM bstats, tot
    ), w AS (
      SELECT id, sum(cnt) AS n_tokens, sum(cnt * lr_micro) AS w_micro
      FROM db JOIN ratio USING (bucket) GROUP BY id
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(w_micro AS DOUBLE) / 1000000.0 AS dsir_logweight
    FROM w ORDER BY dsir_logweight DESC, id LIMIT {top_k}
    """


def oracle_temperature_counts(
    table: str, key_expr: str, source_col: str, alpha: float = 0.5
) -> str:
    """DuckDB twin of the per-source resampled counts (total defaults to
    corpus size, matching temperature_resample)."""
    return f"""
    WITH stats AS (
      SELECT {source_col} AS s, count(*) AS n FROM {table} GROUP BY {source_col}
    ), rates AS (
      SELECT s, n,
             (pow(n, {alpha}) / (SELECT sum(pow(n, {alpha})) FROM stats))
               * (SELECT sum(n) FROM stats) / n AS rate
      FROM stats
    ), frac_kept AS (
      SELECT t.{source_col} AS s, count(*) AS n_frac
      FROM {table} t JOIN rates r ON t.{source_col} = r.s
      WHERE CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)
            < CAST(floor((r.rate - floor(r.rate)) * {HASH_SPACE}) AS BIGINT)
      GROUP BY t.{source_col}
    )
    SELECT r.s AS source, CAST(r.n AS BIGINT) AS n_orig,
           CAST(r.n * CAST(floor(r.rate) AS BIGINT) + coalesce(f.n_frac, 0) AS BIGINT)
             AS n_sampled
    FROM rates r LEFT JOIN frac_kept f ON r.s = f.s
    """


def domain_quota(
    df: DataFrame, key_col: str, domain_col: str, cap: int
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, chosen by content-stable
    priority (hash of the key), not arrival order.

    The standard crawl-curation balancer: no single domain may contribute
    more than its quota to the training mix, and reruns/backfills pick the
    SAME winners because priority depends only on the key. One shuffle on
    the domain; Spark's WindowGroupLimit rewrite turns the rank filter into
    a map-side partial top-``cap`` before the exchange, so a mega-domain
    ships at most ``cap`` rows per input partition rather than its whole
    crawl (the skew story at 100 TB).
    """
    from pyspark.sql import Window

    pri = hex_hash32(key_col)
    w = Window.partitionBy(domain_col).orderBy(pri.asc(), F.col(key_col).asc())
    return (
        df.withColumn("quota_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("quota_rank") <= cap)
        .select(
            F.col(domain_col).alias("domain"),
            F.col(key_col).cast("bigint").alias("id"),
            "quota_rank",
        )
    )


def oracle_domain_quota(table: str, key_col: str, domain_col: str, cap: int) -> str:
    pri = oracle_hash32(f"CAST({key_col} AS VARCHAR)")
    return f"""
    SELECT domain, id, quota_rank FROM (
      SELECT {domain_col} AS domain, CAST({key_col} AS BIGINT) AS id,
             CAST(row_number() OVER (
               PARTITION BY {domain_col}
               ORDER BY {pri} ASC, {key_col} ASC) AS BIGINT) AS quota_rank
      FROM {table}
    ) WHERE quota_rank <= {cap}
    """


def epoch_mixture(
    df: DataFrame, key_col: str, domain_col: str, weights: dict[str, float]
) -> DataFrame:
    """Epoch-aware mixture upsampling: each row is emitted
    floor(w(domain)) times plus one extra copy with probability frac(w),
    decided by a content-stable hash — so a 2.5x domain weight yields
    exactly the right expected token share and reruns emit the SAME copies.

    Each copy carries its epoch index and an epoch-salted shuffle key, so
    downstream global shuffling interleaves epochs differently (the
    "repeat data, reshuffle each epoch" recipe from LLM training). Pure
    fan-out: sequence+explode in the map stage, no shuffle here at all —
    the shuffle belongs to the consumer's sort/partition by shuffle_key.
    Domains absent from ``weights`` default to 1.0 (one epoch).
    """
    w_expr = F.lit(1.0)
    for dom, w in weights.items():
        w_expr = F.when(F.col(domain_col) == dom, F.lit(float(w))).otherwise(w_expr)
    frac_bonus = (
        hex_hash32(F.col(key_col), salt="ep") < (w_expr % 1.0) * HASH_SPACE
    ).cast("int")
    n_copies = F.floor(w_expr).cast("int") + frac_bonus
    # sequence(1, 0) in Spark yields a DESCENDING [1, 0], not empty — rows
    # with zero copies (w < 1, hash above the fraction) need an explicit
    # empty array
    epochs = F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies)).otherwise(
        F.expr("cast(array() as array<int>)")
    )
    out = df.select(
        F.col(key_col).cast("bigint").alias("id"),
        F.col(domain_col).alias("domain"),
        F.explode(epochs).alias("epoch"),
    )
    return out.select(
        "id", "domain", F.col("epoch").cast("bigint").alias("epoch"),
        hex_hash32(
            F.concat(F.col("id").cast("string"), F.lit("#"), F.col("epoch").cast("string"))
        ).alias("shuffle_key"),
    )


def oracle_epoch_mixture(
    table: str, key_col: str, domain_col: str, weights: dict[str, float]
) -> str:
    cases = " ".join(
        f"WHEN {domain_col} = '{dom}' THEN {float(w)!r}" for dom, w in weights.items()
    )
    w = f"(CASE {cases} ELSE 1.0 END)"
    bonus = (
        f"(CASE WHEN {oracle_hash32(f'CAST({key_col} AS VARCHAR)', salt='ep')}"
        f" < ({w} % 1.0) * {float(HASH_SPACE)!r} THEN 1 ELSE 0 END)"
    )
    sk = oracle_hash32(f"(CAST(id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR))")
    return f"""
    WITH base AS (
      SELECT CAST({key_col} AS BIGINT) AS id, {domain_col} AS domain,
             CAST(floor({w}) AS INT) + {bonus} AS n_copies
      FROM {table}
    ), fanned AS (
      SELECT id, domain, CAST(epoch AS BIGINT) AS epoch
      FROM base, UNNEST(range(1, n_copies + 1)) AS u(epoch)
    )
    SELECT id, domain, epoch, {sk} AS shuffle_key FROM fanned
    """


def interleave_sources(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    key_salt: str = "interleave",
) -> DataFrame:
    """Deterministic balanced interleaving: order documents so sources
    alternate (round-robin by within-source rank) — the training-order
    curriculum that prevents long single-source runs after per-source
    concatenation.

    Within-source rank comes from a content-stable md5 order (no RNG, same
    [[cur_global_shuffle]] trick), so the interleave is reproducible and
    shuffle-free to CHANGE (re-salt to get a new epoch order). The
    interleave position is pure integer arithmetic:
    ``pos = rank * n_sources + source_idx`` — a total order with sources
    cycling every n_sources positions. One domain-keyed window (balanced
    while domains are) + a broadcast source-index table.
    """
    src_idx = (
        df.select(F.col(domain_col).alias("d"))
        .distinct()
        .withColumn(
            "source_idx",
            F.row_number().over(Window.orderBy("d")) - 1,
        )
    )
    # Source count as a broadcast 1-row aggregate of the (tiny) source-index
    # table — NOT a constant-partitioned window over the joined rows, which
    # would funnel the whole dataset through one task.
    n_src_row = src_idx.agg(F.count("*").cast("bigint").alias("__n_src"))
    ranked = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(domain_col).alias("d"),
            hex_hash32(F.concat_ws(":", F.lit(key_salt), F.col(id_col).cast("string"))).alias("__h"),
        )
        .withColumn(
            "rank_in_source",
            F.row_number().over(Window.partitionBy("d").orderBy("__h", "id")) - 1,
        )
        .drop("__h")
    )
    joined = ranked.join(F.broadcast(src_idx), "d").crossJoin(
        F.broadcast(n_src_row)
    )
    return joined.select(
        F.col("id").cast("bigint").alias(id_col),
        F.col("d").alias(domain_col),
        F.col("rank_in_source").cast("bigint"),
        F.col("source_idx").cast("bigint"),
        (F.col("rank_in_source") * F.col("__n_src") + F.col("source_idx"))
        .cast("bigint")
        .alias("interleave_pos"),
    )


def oracle_interleave_sources(
    table: str, id_col: str, domain_col: str, key_salt: str = "interleave"
) -> str:
    from ..functions import oracle_hash32

    h = oracle_hash32(f"'{key_salt}' || ':' || CAST({id_col} AS VARCHAR)")
    return f"""
    WITH src AS (
      SELECT d, row_number() OVER (ORDER BY d) - 1 AS source_idx
      FROM (SELECT DISTINCT {domain_col} AS d FROM {table})
    ),
    n AS (SELECT count(*) AS n_src FROM src),
    ranked AS (
      SELECT {id_col} AS id, {domain_col} AS d,
             row_number() OVER (PARTITION BY {domain_col}
                                ORDER BY {h}, {id_col}) - 1 AS rank_in_source
      FROM {table}
    )
    SELECT CAST(r.id AS BIGINT) AS {id_col}, r.d AS {domain_col},
           CAST(r.rank_in_source AS BIGINT) AS rank_in_source,
           CAST(s.source_idx AS BIGINT) AS source_idx,
           CAST(r.rank_in_source * n.n_src + s.source_idx AS BIGINT)
             AS interleave_pos
    FROM ranked r JOIN src s USING (d), n
    """


def categorical_draws(
    df: DataFrame,
    text_col: str = "text",
    n_draws: int = 10_000,
    power: float = 0.75,
    min_count: int = 10,
    n_buckets: int = 256,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic inverse-CDF sampling from a LEARNED categorical
    distribution — word2vec's negative-sampling table (unigram^0.75) as a
    distributed primitive: build integer cumulative weight ranges over the
    vocabulary, then resolve ``n_draws`` md5-derived uniforms to tokens via
    a BUCKETED range join (each range row covers its bucket span, each
    draw probes exactly one bucket) — never a per-draw binary search on the
    driver and never a draws × vocab cross join.

    Weights: ``wt = round(count^power · 1e6)`` (one documented
    round-after-pow, the same ulp discipline as the ln() scorers);
    cumulative ranges come from ONE vocab-sized ordered window (metadata
    scale, the BPE-merge-table precedent); draw u_i = md5(salt:i) low 60
    bits mod Σwt. Join fan-out is O(vocab + n_buckets + n_draws).

    Output: (token, wt, n_drawn) for every vocab token with
    ``count >= min_count`` — the draw histogram IS the check that the
    sampler follows the table.
    """
    from .sketches import _hash60

    from ..functions import ws_tokens_sql

    toks = df.select(F.explode(F.expr(ws_tokens_sql(text_col))).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .withColumn(
            "wt",
            F.expr(f"cast(round(pow(cast(cnt as double), {power!r}) * 1e6) as bigint)"),
        )
    )
    # vocab-scale ordered window (single partition over the vocabulary —
    # the BPE merge-table precedent, documented metadata-scale)
    wcum = Window.orderBy("token").rowsBetween(Window.unboundedPreceding, 0)
    ranges = vocab.withColumn("cum_hi", F.sum("wt").over(wcum)).withColumn(
        "cum_lo", F.col("cum_hi") - F.col("wt")
    )
    total = ranges.agg(F.max("cum_hi").alias("w_total"))
    width_expr = "cast((w_total + {b} - 1) div {b} as bigint)".format(b=n_buckets)
    r_bucketed = (
        ranges.crossJoin(F.broadcast(total))
        .withColumn("width", F.expr(width_expr))
        .select(
            "token",
            "wt",
            "cum_lo",
            "cum_hi",
            F.explode(
                F.expr("sequence(cum_lo div width, (cum_hi - 1) div width)")
            ).alias("bucket"),
        )
    )
    draws = (
        df.sparkSession.range(n_draws)
        .crossJoin(F.broadcast(total))
        .withColumn("width", F.expr(width_expr))
        .select(
            (
                _hash60(F.concat_ws(":", F.lit(salt), F.col("id").cast("string")))
                % F.col("w_total")
            ).alias("v"),
            "width",
        )
        .select("v", F.expr("v div width").alias("bucket"))
    )
    hits = (
        draws.join(r_bucketed, "bucket")
        .filter((F.col("v") >= F.col("cum_lo")) & (F.col("v") < F.col("cum_hi")))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    return (
        ranges.select("token", "wt")
        .join(hits, "token", "left")
        .select(
            "token",
            F.col("wt").cast("bigint").alias("wt"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_drawn"),
        )
    )


def oracle_categorical_draws(
    table: str,
    text_col: str = "text",
    n_draws: int = 10_000,
    power: float = 0.75,
    min_count: int = 10,
    n_buckets: int = 256,
    salt: str = "neg",
) -> str:
    from ..functions import WS

    h60 = (
        f"CAST(('0x' || substr(md5('{salt}' || ':' || CAST(i AS VARCHAR)), 1, 15))"
        f" AS BIGINT)"
    )
    return f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                    t -> t <> '')) AS token
      FROM {table}
    ),
    vocab AS (
      SELECT token, count(*) AS cnt,
             CAST(round(pow(CAST(count(*) AS DOUBLE), {power!r}) * 1e6) AS BIGINT) AS wt
      FROM toks GROUP BY token HAVING count(*) >= {min_count}
    ),
    ranges AS (
      SELECT token, wt,
             CAST(sum(wt) OVER (ORDER BY token ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_hi,
             CAST(sum(wt) OVER (ORDER BY token ROWS UNBOUNDED PRECEDING) - wt
                  AS BIGINT) AS cum_lo
      FROM vocab
    ),
    tot AS (SELECT CAST(max(cum_hi) AS BIGINT) AS w_total,
                   CAST((max(cum_hi) + {n_buckets} - 1) // {n_buckets}
                        AS BIGINT) AS width
            FROM ranges),
    r_bucketed AS (
      SELECT r.token, r.cum_lo, r.cum_hi,
             unnest(range(r.cum_lo // t.width, (r.cum_hi - 1) // t.width + 1)) AS bucket
      FROM ranges r, tot t
    ),
    draws AS (
      SELECT ({h60}) % t.w_total AS v, (({h60}) % t.w_total) // t.width AS bucket
      FROM range({n_draws}) u(i), tot t
    ),
    hits AS (
      SELECT b.token, count(*) AS n
      FROM draws d JOIN r_bucketed b ON d.bucket = b.bucket
      WHERE d.v >= b.cum_lo AND d.v < b.cum_hi
      GROUP BY b.token
    )
    SELECT r.token, CAST(r.wt AS BIGINT) AS wt,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_drawn
    FROM ranges r LEFT JOIN hits h USING (token)
    """


def kfold_assign(
    df: DataFrame, key_col: str, k: int = 5, fold_col: str = "fold"
) -> DataFrame:
    """K-fold cross-validation assignment: fold = md5(key) mod k — stable
    under reruns, row order, partitioning, and engine (the same
    content-stable hashing contract as :func:`train_test_split`, so a
    later ingest assigns old keys to their old folds). Narrow map, no
    shuffle; fold i's train set is ``fold != i`` — no materialization of
    k copies.
    """
    return df.withColumn(fold_col, (hex_hash32(key_col) % k).cast("int"))


def oracle_kfold(key_expr: str, k: int) -> str:
    """DuckDB expression matching :func:`kfold_assign`'s fold id."""
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % {k} AS INT)"
    )


def systematic_resample(
    df: DataFrame, key_col: str, weight_col: str, n_out: int
) -> DataFrame:
    """Deterministic weighted SYSTEMATIC resampling: exactly ``n_out``
    draws (with multiplicity) proportional to integer weights, no RNG —
    the stride sampler from particle filtering / survey sampling, and the
    zero-variance way to materialize DSIR-style importance weights into an
    actual training subset.

    Lay all weights on a line (cumulative sum in content-stable order:
    md5(key), key), then take strides at positions (i + 1/2) * W / n_out.
    A record owning interval (cum - w, cum] is drawn
    f(cum) - f(cum - w) times where f(c) = (2*n_out*c + W) div (2W) —
    pure integer arithmetic (numerators kept positive so truncating and
    flooring division agree on every engine), so the multiset of draws is
    exact: Σ n_picked == n_out ALWAYS, and each record gets floor or ceil
    of its expectation — variance provably below any multinomial scheme.

    Scale shape: the cumulative sum is :func:`..operators.partitioning.
    two_phase_prefix` (range partition + local windows + broadcast
    offsets), never a one-task global window; the total W is a broadcast
    1-row aggregate. Headroom: needs 2 * n_out * W < 2^63 — at larger
    products, run the same formula in decimal(38,0) on both engines.

    Output: (key, weight, n_picked) for records drawn at least once.
    """
    from .partitioning import two_phase_prefix

    base = df.select(
        F.col(key_col).alias("k"),
        F.col(weight_col).cast("bigint").alias("__w"),
        hex_hash32(key_col).alias("__h"),
    ).filter(F.col("__w") > 0)
    cum = two_phase_prefix(base, [F.col("__h"), F.col("k")], F.col("__w"), "cum")
    tot = base.agg(F.sum("__w").cast("bigint").alias("__wtot"))
    n2 = 2 * n_out
    picked = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_picked",
            (
                F.expr(f"({n2} * cum + __wtot) div (2 * __wtot)")
                - F.expr(f"({n2} * (cum - __w) + __wtot) div (2 * __wtot)")
            ).cast("bigint"),
        )
        .filter(F.col("n_picked") >= 1)
    )
    return picked.select(
        F.col("k").alias(key_col),
        F.col("__w").alias("weight"),
        "n_picked",
    )


def oracle_systematic_resample(
    table: str, key_col: str, weight_col: str, n_out: int
) -> str:
    h = oracle_hash32(f"CAST({key_col} AS VARCHAR)")
    n2 = 2 * n_out
    return f"""
    WITH base AS (
      SELECT {key_col} AS k, CAST({weight_col} AS BIGINT) AS w, {h} AS h
      FROM {table} WHERE {weight_col} > 0
    ),
    cum AS (
      SELECT k, w, CAST(sum(w) OVER (ORDER BY h, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
      FROM base
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM base)
    SELECT k AS {key_col}, w AS weight,
           CAST(({n2} * c + wt) // (2 * wt)
                - ({n2} * (c - w) + wt) // (2 * wt) AS BIGINT) AS n_picked
    FROM cum, tot
    WHERE ({n2} * c + wt) // (2 * wt) - ({n2} * (c - w) + wt) // (2 * wt) >= 1
    """


def class_balance(
    df: DataFrame, class_col: str, key_col: str
) -> DataFrame:
    """Deterministic class rebalancing report: downsample every class to
    the MINORITY class size by content-stable hash thresholding — the
    standard prep step before training on skewed labels, with zero RNG
    (same rows survive any rerun/partitioning/engine).

    keep(class c) = md5-fraction(key) < n_min / n_c. Expected kept ≈
    n_min per class; exact counts of what actually survived ride along
    (the hash is uniform, not stratified-exact — report, don't assume).
    Two passes: one keyed count (broadcast back), one narrow filter.
    Output: (class, n_before, n_after, target_rate).
    """
    counts = df.groupBy(F.col(class_col).alias("cls")).agg(
        F.count("*").cast("bigint").alias("n_before")
    )
    n_min = counts.agg(F.min("n_before").cast("bigint").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).withColumn(
        "rate", F.col("n_min").cast("double") / F.col("n_before").cast("double")
    )
    frac = (
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 60))
    )
    kept = (
        df.select(F.col(class_col).alias("cls"), frac.alias("f"))
        .join(F.broadcast(rates), "cls")
        .filter(F.col("f") < F.col("rate"))
        .groupBy("cls")
        .agg(F.count("*").cast("bigint").alias("n_after"))
    )
    return (
        rates.join(kept, "cls", "left")
        .select(
            F.col("cls").alias(class_col),
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.round("rate", 6).alias("target_rate"),
        )
    )


def oracle_class_balance(table: str, class_col: str, key_col: str) -> str:
    frac = (
        f"CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15)) AS BIGINT)"
        f" / {float(1 << 60)!r}"
    )
    return f"""
    WITH counts AS (
      SELECT {class_col} AS cls, CAST(count(*) AS BIGINT) AS n_before
      FROM {table} GROUP BY 1
    ),
    nm AS (SELECT CAST(min(n_before) AS BIGINT) AS n_min FROM counts),
    rates AS (
      SELECT cls, n_before,
             CAST(nm.n_min AS DOUBLE) / CAST(n_before AS DOUBLE) AS rate
      FROM counts, nm
    ),
    kept AS (
      SELECT t.{class_col} AS cls, CAST(count(*) AS BIGINT) AS n_after
      FROM {table} t JOIN rates r ON t.{class_col} = r.cls
      WHERE {frac} < r.rate
      GROUP BY t.{class_col}
    )
    SELECT r.cls AS {class_col}, r.n_before,
           CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after,
           round(r.rate, 6) AS target_rate
    FROM rates r LEFT JOIN kept k ON r.cls = k.cls
    """


def rebalance_classes(
    df: DataFrame, class_col: str, id_col: str
) -> DataFrame:
    """Deterministic class-rebalance plan: downsample every class to the
    minority class size by keeping the rows with the smallest
    (content-stable hash, id) per class — exact target counts (a
    probability threshold only hits the target in expectation), no RNG,
    same selection on every engine and every run.

    One keyed rank window per class (balanced when classes are) plus a
    broadcast minimum. Output proves the selection, not just the counts:
    (class, n_before, n_after, kept_id_sum).
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(class_col).alias("cls"),
        F.col(id_col).cast("bigint").alias("id"),
        hex_hash32(id_col).alias("h"),
    )
    sizes = base.groupBy("cls").agg(F.count("*").cast("bigint").alias("n_before"))
    min_n = sizes.agg(F.min("n_before").cast("bigint").alias("target"))
    w = W.partitionBy("cls").orderBy("h", "id")
    kept = (
        base.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(min_n), how="cross")
        .filter(F.col("rn") <= F.col("target"))
    )
    after = kept.groupBy("cls").agg(
        F.count("*").cast("bigint").alias("n_after"),
        F.sum("id").cast("bigint").alias("kept_id_sum"),
    )
    return sizes.join(after, "cls").select(
        F.col("cls").alias(class_col), "n_before", "n_after", "kept_id_sum"
    )


def oracle_rebalance_classes(table: str, class_col: str, id_col: str) -> str:
    h = oracle_hash32(f"CAST({id_col} AS VARCHAR)")
    return f"""
    WITH base AS (
      SELECT {class_col} AS cls, CAST({id_col} AS BIGINT) AS id, {h} AS h
      FROM {table}
    ),
    sizes AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_before FROM base GROUP BY cls),
    min_n AS (SELECT CAST(min(n_before) AS BIGINT) AS target FROM sizes),
    kept AS (
      SELECT cls, id FROM (
        SELECT cls, id, row_number() OVER (PARTITION BY cls ORDER BY h, id) AS rn
        FROM base
      ), min_n WHERE rn <= target
    ),
    after AS (
      SELECT cls, CAST(count(*) AS BIGINT) AS n_after,
             CAST(sum(id) AS BIGINT) AS kept_id_sum
      FROM kept GROUP BY cls
    )
    SELECT s.cls AS {class_col}, s.n_before, a.n_after, a.kept_id_sum
    FROM sizes s JOIN after a ON s.cls = a.cls
    """


def uncertainty_sample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    pivot: int,
    k: int = 20,
) -> DataFrame:
    """Uncertainty sampling for an annotation queue: the k rows whose
    integer score sits closest to the decision ``pivot`` — for a
    monotone scorer (e.g. the logistic length gate), |score − pivot|
    orders exactly like |p − 0.5|, so the selection is PURE INTEGER
    (no probability floats anywhere near the boundary).

    TakeOrderedAndProject on (|score−pivot|, id) — never a global sort.
    Output: (id, score, dist).
    """
    t = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.expr(score_col).cast("bigint").alias("score"),
    ).withColumn("dist", F.abs(F.col("score") - F.lit(pivot)).cast("bigint"))
    return t.orderBy(F.asc("dist"), F.asc("id")).limit(k)


def oracle_uncertainty_sample(
    table: str, id_col: str, score_expr: str, pivot: int, k: int = 20
) -> str:
    return f"""
    SELECT CAST({id_col} AS BIGINT) AS id,
           CAST({score_expr} AS BIGINT) AS score,
           CAST(abs(CAST({score_expr} AS BIGINT) - {pivot}) AS BIGINT) AS dist
    FROM {table}
    ORDER BY dist, id LIMIT {k}
    """


def group_split(
    df: DataFrame,
    group_col: str,
    n_folds: int = 5,
    salt: str = "groupsplit",
) -> DataFrame:
    """Leakage-safe k-fold assignment at the GROUP level: every row of a
    group (user, session, document family) lands in the same fold,
    because fold = content-stable hash of the group key — the split
    discipline that keeps a user's history out of both train and test.
    (Row-hash splits — smp_kfold — leak whenever rows within a group are
    correlated.)

    One keyed aggregate; fold assignment is the md5 bucket of the key,
    so the split replays identically anywhere. Output per fold:
    (fold, n_groups, n_rows).
    """
    base = df.select(
        F.col(group_col).alias("g"),
        (hex_hash32(group_col, salt=salt) % n_folds).cast("int").alias("fold"),
    )
    return base.groupBy("fold").agg(
        F.countDistinct("g").cast("bigint").alias("n_groups"),
        F.count("*").cast("bigint").alias("n_rows"),
    )


def oracle_group_split(
    table: str, group_col: str, n_folds: int = 5, salt: str = "groupsplit"
) -> str:
    h = oracle_hash32(f"CAST({group_col} AS VARCHAR)", salt=salt)
    return f"""
    WITH base AS (
      SELECT {group_col} AS g, CAST({h} % {n_folds} AS INT) AS fold
      FROM {table}
    )
    SELECT fold, CAST(count(DISTINCT g) AS BIGINT) AS n_groups,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM base GROUP BY fold
    """


def sequential_poisson_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling without replacement, content-stable: sequential
    Poisson sampling (Ohlsson 1998, the survey-statistics standard for
    probability-proportional-to-size samples) — priority = u / w with
    u = (hash32(id)+1)/2^32, keep the k SMALLEST priorities. Heavier
    rows draw proportionally smaller priorities, so inclusion
    probability approaches w_i/Σw without any sequential pass or RNG
    stream.

    Unlike exponential-key weighted reservoirs (-ln(u)/w), the priority
    here is two divisions of exact integers — bit-identical IEEE doubles
    on every engine, no transcendental portability tax. The same
    content-stable-hash trick as [[smp_deterministic_sample]]: reruns
    and other engines agree row-for-row.

    Non-positive weights are EXCLUDED up front: weight 0 would yield
    +Inf priority (silently never sampled) and a negative weight a
    negative priority that always wins the top-k, inverting the PPS
    semantics — both are data errors, not sampling outcomes.

    Shape: a narrow map + global top-k (TakeOrderedAndProject — never a
    full sort). Output: (id, weight, priority), ties broken by id.
    """
    pri = (
        (hex_hash32(id_col) + F.lit(1)).cast("double") / F.lit(float(HASH_SPACE))
    ) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(weight_col).cast("bigint").alias("weight"),
            pri.alias("priority"),
        )
        .orderBy(F.asc("priority"), F.asc("id"))
        .limit(k)
    )


def oracle_sequential_poisson(
    table: str, id_col: str, weight_col: str, k: int
) -> str:
    h = oracle_hash32(f"CAST({id_col} AS VARCHAR)")
    return f"""
    SELECT CAST({id_col} AS BIGINT) AS id, CAST({weight_col} AS BIGINT) AS weight,
           (CAST({h} + 1 AS DOUBLE) / CAST({float(HASH_SPACE)!r} AS DOUBLE))
             / CAST({weight_col} AS DOUBLE) AS priority
    FROM {table}
    WHERE CAST({weight_col} AS DOUBLE) > 0
    ORDER BY priority ASC, id ASC
    LIMIT {k}
    """


def time_split_purged(
    df: DataFrame,
    ts_col: str,
    test_start: str,
    test_end: str,
    embargo_days: int = 1,
) -> DataFrame:
    """Leakage-safe TEMPORAL split with an embargo gap (the purged
    time-series split of Lopez de Prado 2018): train = strictly before
    test_start - embargo, embargo = the gap rows (excluded entirely),
    test = [test_start, test_end). [[smp_group_split]] kills ENTITY
    leakage; this kills TEMPORAL leakage — rolling features computed
    near the boundary would otherwise smuggle test-window information
    into train ([[tmp_rolling_features]]'s 7-day lookback is exactly
    such a leak without the embargo).

    Pure timestamp comparisons — a pushed scan filter per split at any
    scale, no shuffle. Output: one row per split with exact row counts
    and the min/max epoch actually observed (the boundary audit).
    """
    t0 = F.to_timestamp(F.lit(test_start))
    t1 = F.to_timestamp(F.lit(test_end))
    emb = t0 - F.expr(f"INTERVAL {embargo_days} DAYS")
    tagged = df.select(
        F.when(F.col(ts_col) < emb, "train")
        .when((F.col(ts_col) >= t0) & (F.col(ts_col) < t1), "test")
        .when((F.col(ts_col) >= emb) & (F.col(ts_col) < t0), "embargo")
        .otherwise("future")
        .alias("split"),
        F.expr(f"cast({ts_col} as bigint)").alias("t"),
    )
    return tagged.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("t").cast("bigint").alias("min_epoch"),
        F.max("t").cast("bigint").alias("max_epoch"),
    )


def oracle_time_split_purged(
    table: str,
    ts_col: str,
    test_start: str,
    test_end: str,
    embargo_days: int = 1,
) -> str:
    return f"""
    WITH tagged AS (
      SELECT CASE
        WHEN {ts_col} < TIMESTAMP '{test_start}' - INTERVAL {embargo_days} DAY
          THEN 'train'
        WHEN {ts_col} >= TIMESTAMP '{test_start}'
             AND {ts_col} < TIMESTAMP '{test_end}' THEN 'test'
        WHEN {ts_col} >= TIMESTAMP '{test_start}' - INTERVAL {embargo_days} DAY
             AND {ts_col} < TIMESTAMP '{test_start}' THEN 'embargo'
        ELSE 'future' END AS split,
        CAST(floor(epoch({ts_col})) AS BIGINT) AS t
      FROM {table}
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(t) AS BIGINT) AS min_epoch,
           CAST(max(t) AS BIGINT) AS max_epoch
    FROM tagged GROUP BY split
    """
