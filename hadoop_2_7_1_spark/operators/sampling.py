"""Deterministic sampling for dataset curation.

Spark's `sample`/`sampleBy` are seeded but engine-specific (their RNG stream
is not reproducible outside Spark). Curation pipelines want *content-stable*
sampling: whether a row is kept depends only on its key, so reruns,
backfills, and other engines (the DuckDB oracle, a downstream trainer)
agree row-for-row. All operators here threshold the md5-derived 32-bit hash
from :mod:`..functions` — the same trick as the reference's MD5-based
`SequenceFileInputFilter` (SequenceFileInputFilter.java:202), generalized.

Every operator reads its table's own columns: ``doc_id``, ``text``,
``lang``, ``source`` and ``n_chars`` of the documents table, or ``user_id``
and ``ts`` of the events table (:func:`group_split`,
:func:`time_split_purged`), only those it uses. A hand-built frame names its
columns that way.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hex_hash32, oracle_hash32, ws_tokens_sql

HASH_SPACE = 1 << 32


def _case(col: str, values: dict, default: Column) -> Column:
    """The literal ``values[v]`` on rows whose ``col`` is ``v``, else
    ``default``."""
    expr = default
    for value, out in values.items():
        expr = F.when(F.col(col) == value, F.lit(out)).otherwise(expr)
    return expr


def _kept(bound, salt: str | None = None) -> Column:
    """The content-stable keep-test: the md5-derived 32-bit hash of
    ``doc_id`` is under ``bound``, a fraction of HASH_SPACE. Each caller
    rounds its bound as its oracle does (``int(...)``, ``F.floor(...)`` or
    not at all); the rounding decides the rows at the boundary."""
    return hex_hash32("doc_id", salt=salt) < bound


def stratified_sample(docs: DataFrame, fractions: dict[str, float]) -> DataFrame:
    """Per-language deterministic sampling (e.g. per-language doc quotas).

    Languages absent from ``fractions`` are dropped (matching `sampleBy`).
    """
    bounds = {lang: int(frac * HASH_SPACE) for lang, frac in fractions.items()}
    return docs.filter(_kept(_case("lang", bounds, F.lit(None).cast("bigint"))))


def train_test_split(docs: DataFrame) -> DataFrame:
    """Adds a ``split`` label, 'test' for 10% of the documents and 'train'
    for the rest; assignment is stable under reruns and unaffected by row
    order or partitioning."""
    return docs.withColumn(
        "split", F.when(_kept(int(0.1 * HASH_SPACE)), "test").otherwise("train")
    )


def oracle_hash_threshold(key_expr: str, fraction: float) -> str:
    """DuckDB predicate matching :func:`_kept` under an ``int(...)`` bound."""
    return (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" < {int(fraction * HASH_SPACE)}"
    )


def sample_mixture(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Down-sample per-source so the surviving corpus matches a target
    mixture (the domain-mixing step of a training-data pipeline), keeping as
    much data as possible: the most over-asked source is kept whole and
    every other source is hash-thresholded to its proportional share.

    Deterministic (content-stable md5 on ``doc_id``), so reruns and other
    engines select identical rows. Sources absent from ``weights`` are
    dropped. The per-source scaling factors live on a sources-sized
    aggregate that broadcasts; the data pass is one scan + filter.
    """
    w = F.create_map(
        *itertools.chain.from_iterable(
            (F.lit(s), F.lit(wt)) for s, wt in weights.items()
        )
    )
    counts = (
        docs.filter(F.col("source").isin(*weights))
        .groupBy("source")
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__wt", w[F.col("source")])
    )
    # T = min over sources of count/weight; target_s = T * w_s
    t = counts.agg(F.min(F.col("__cnt") / F.col("__wt")).alias("__T"))
    fracs = counts.crossJoin(F.broadcast(t)).select(
        "source",
        (F.col("__T") * F.col("__wt") / F.col("__cnt")).alias("__frac"),
    )
    return (
        docs.join(F.broadcast(fracs), "source")
        .filter(_kept(F.col("__frac") * HASH_SPACE))
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


def temperature_resample(docs: DataFrame) -> DataFrame:
    """Temperature-scaled domain resampling WITH replacement — the standard
    multilingual/multi-domain pre-training mix: source s is drawn with
    probability ∝ n_s^0.5 (an exponent below 1 upweights rare domains), so
    a doc of source s appears on average rate_s = target_s / n_s times,
    for a total of the corpus size (a pure re-mix). Whole copies
    replicate deterministically; the fractional copy is kept by the same
    content-stable hash threshold as every sampler here — reruns and other
    engines agree row-for-row.

    Output rows carry a ``copy`` index (0-based) alongside the original
    columns.

    Scale shape: source stats are a tiny aggregate joined back by
    broadcast; replication is a JVM-side explode of `ceil(rate)` ints; no
    shuffle beyond the stats aggregate.
    """
    stats = docs.groupBy(F.col("source").alias("__s")).agg(F.count("*").alias("__n"))
    rows = stats.collect()  # one row per domain — model-scale
    n_total = sum(r["__n"] for r in rows)
    wsum = sum(r["__n"] ** 0.5 for r in rows)
    rates = {r["__s"]: (r["__n"] ** 0.5 / wsum) * n_total / r["__n"] for r in rows}
    with_rate = docs.withColumn(
        "__rate", _case("source", rates, F.lit(None).cast("double"))
    )
    # copies 0..floor(rate)-1 always kept; copy floor(rate) kept when the
    # content hash falls under the fractional part
    # floor() before the bigint comparison on BOTH engines: Spark's cast
    # truncates but DuckDB's rounds, so the explicit floor keeps thresholds
    # identical
    frac_keep = _kept(
        F.floor((F.col("__rate") - F.floor("__rate")) * HASH_SPACE).cast("bigint")
    )
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


def dsir_importance(docs: DataFrame, target: Column) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its hashed n-gram features
    are under a target domain than under the raw corpus, then keep the
    top 100. ``target`` is a boolean Column marking the in-domain subset
    (e.g. ``F.col("lang") == "en"``); features are hashed unigram buckets
    (the paper's hashed n-grams with n=1 — the bucket hash is the shared
    md5-derived :func:`~..functions.hex_hash32`, so the oracle replays it).

    Per-bucket log ratio (add-1 smoothing over B = 256 buckets):
    ``ln(((t_f+1)/(T+B)) / ((r_f+1)/(R+B)))``; a doc's log importance
    weight is the count-weighted sum of its buckets' ratios.

    Determinism (the exact-hash oracle contract): the ratio is rounded to
    integer MICRO-units (scaled bigint, absorbing JVM-vs-libm ln ulp
    drift), so the per-doc weight accumulates as a pure integer sum —
    exact at any parallelism — and the only float op is one final
    division. Ties at the top-100 boundary break on doc id.

    Scale shape: one (doc, bucket) aggregation on the exploded tokens, a
    B-row bucket table (map-side combined, then broadcast back), one
    per-doc aggregation — two data shuffles, no window, no cartesian. The
    bucket products stay < 2^53 up to ~10^13 tokens per side; beyond that
    compute the ratio as ``ln(t_f+1) - ln(T+B) - ...`` termwise.
    """
    n_buckets = 256
    toks = docs.select(
        F.col("doc_id").cast("bigint").alias("id"),
        target.cast("boolean").alias("is_t"),
        F.explode(F.expr(ws_tokens_sql("text"))).alias("tok"),
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
        .limit(100)
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


def domain_quota(docs: DataFrame, cap: int) -> DataFrame:
    """Keep at most ``cap`` documents per source, chosen by content-stable
    priority (hash of ``doc_id``), not arrival order.

    The standard crawl-curation balancer: no single domain may contribute
    more than its quota to the training mix, and reruns/backfills pick the
    SAME winners because priority depends only on the key. One shuffle on
    the domain; Spark's WindowGroupLimit rewrite turns the rank filter into
    a map-side partial top-``cap`` before the exchange, so a mega-domain
    ships at most ``cap`` rows per input partition rather than its whole
    crawl (the skew story at 100 TB).
    """
    pri = hex_hash32("doc_id")
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("quota_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("quota_rank") <= cap)
        .select(
            F.col("source").alias("domain"),
            F.col("doc_id").cast("bigint").alias("id"),
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


def epoch_mixture(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
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
    w_expr = _case("source", {d: float(w) for d, w in weights.items()}, F.lit(1.0))
    frac_bonus = _kept((w_expr % 1.0) * HASH_SPACE, salt="ep").cast("int")
    n_copies = F.floor(w_expr).cast("int") + frac_bonus
    # sequence(1, 0) in Spark yields a DESCENDING [1, 0], not empty — rows
    # with zero copies (w < 1, hash above the fraction) need an explicit
    # empty array
    epochs = F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies)).otherwise(
        F.expr("cast(array() as array<int>)")
    )
    out = docs.select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.col("source").alias("domain"),
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


def interleave_sources(docs: DataFrame) -> DataFrame:
    """Deterministic balanced interleaving: order documents so sources
    alternate (round-robin by within-source rank) — the training-order
    curriculum that prevents long single-source runs after per-source
    concatenation.

    Within-source rank comes from a content-stable md5 order (no RNG, same
    [[cur_global_shuffle]] trick, salted "interleave"), so the interleave
    is reproducible and shuffle-free to CHANGE (re-salt to get a new epoch
    order). The interleave position is pure integer arithmetic:
    ``pos = rank * n_sources + source_idx`` — a total order with sources
    cycling every n_sources positions. One domain-keyed window (balanced
    while domains are) + a broadcast source-index table.
    """
    src_idx = (
        docs.select(F.col("source").alias("d"))
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
        docs.select(
            F.col("doc_id").alias("id"),
            F.col("source").alias("d"),
            hex_hash32(
                F.concat_ws(":", F.lit("interleave"), F.col("doc_id").cast("string"))
            ).alias("__h"),
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
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("d").alias("source"),
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


def categorical_draws(docs: DataFrame) -> DataFrame:
    """Deterministic inverse-CDF sampling from a LEARNED categorical
    distribution — word2vec's negative-sampling table (unigram^0.75) as a
    distributed primitive: build integer cumulative weight ranges over the
    vocabulary of the ``text`` tokens, then resolve 10,000 md5-derived
    uniforms to tokens via a BUCKETED range join over 256 buckets (each
    range row covers its bucket span, each draw probes exactly one
    bucket) — never a per-draw binary search on the driver and never a
    draws × vocab cross join.

    Weights: ``wt = round(count^0.75 · 1e6)`` (one documented
    round-after-pow, the same ulp discipline as the ln() scorers);
    cumulative ranges come from ONE vocab-sized ordered window (metadata
    scale, the BPE-merge-table precedent); draw u_i = md5("neg":i) low 60
    bits mod Σwt. Join fan-out is O(vocab + buckets + draws).

    Output: (token, wt, n_drawn) for every vocab token with
    ``count >= 10`` — the draw histogram IS the check that the
    sampler follows the table.
    """
    from .sketches import _hash60

    toks = docs.select(F.explode(F.expr(ws_tokens_sql("text"))).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .withColumn(
            "wt", F.expr("cast(round(pow(cast(cnt as double), 0.75) * 1e6) as bigint)")
        )
    )
    # vocab-scale ordered window (single partition over the vocabulary —
    # the BPE merge-table precedent, documented metadata-scale)
    wcum = Window.orderBy("token").rowsBetween(Window.unboundedPreceding, 0)
    ranges = vocab.withColumn("cum_hi", F.sum("wt").over(wcum)).withColumn(
        "cum_lo", F.col("cum_hi") - F.col("wt")
    )
    total = ranges.agg(F.max("cum_hi").alias("w_total"))
    width_expr = "cast((w_total + 256 - 1) div 256 as bigint)"
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
        docs.sparkSession.range(10_000)
        .crossJoin(F.broadcast(total))
        .withColumn("width", F.expr(width_expr))
        .select(
            (
                _hash60(F.concat_ws(":", F.lit("neg"), F.col("id").cast("string")))
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


def kfold_assign(docs: DataFrame) -> DataFrame:
    """5-fold cross-validation assignment: a ``fold`` column, md5(doc_id)
    mod 5 — stable under reruns, row order, partitioning, and engine (the
    same content-stable hashing contract as :func:`train_test_split`, so
    a later ingest assigns old keys to their old folds). Narrow map, no
    shuffle; fold i's train set is ``fold != i`` — no materialization of
    k copies.
    """
    return docs.withColumn("fold", (hex_hash32("doc_id") % 5).cast("int"))


def oracle_kfold(key_expr: str, k: int) -> str:
    """DuckDB expression matching :func:`kfold_assign`'s fold id."""
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % {k} AS INT)"
    )


def systematic_resample(docs: DataFrame, n_out: int) -> DataFrame:
    """Deterministic weighted SYSTEMATIC resampling: exactly ``n_out``
    draws (with multiplicity) proportional to the integer ``n_chars``
    weights, no RNG — the stride sampler from particle filtering / survey
    sampling, and the
    zero-variance way to materialize DSIR-style importance weights into an
    actual training subset.

    Lay all weights on a line (cumulative sum in content-stable order:
    md5(doc_id), doc_id), then take strides at positions (i + 1/2) * W / n_out.
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

    Output: (doc_id, weight, n_picked) for records drawn at least once.
    """
    from .partitioning import two_phase_prefix

    base = docs.select(
        F.col("doc_id").alias("k"),
        F.col("n_chars").cast("bigint").alias("__w"),
        hex_hash32("doc_id").alias("__h"),
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
        F.col("k").alias("doc_id"),
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


def class_balance(docs: DataFrame) -> DataFrame:
    """Deterministic class rebalancing report: downsample every language
    to the MINORITY language's size by content-stable hash thresholding —
    the standard prep step before training on skewed labels, with zero RNG
    (same rows survive any rerun/partitioning/engine).

    keep(class c) = md5-fraction(doc_id) < n_min / n_c. Expected kept ≈
    n_min per class; exact counts of what actually survived ride along
    (the hash is uniform, not stratified-exact — report, don't assume).
    Two passes: one keyed count (broadcast back), one narrow filter.
    Output: (lang, n_before, n_after, target_rate).
    """
    counts = docs.groupBy(F.col("lang").alias("cls")).agg(
        F.count("*").cast("bigint").alias("n_before")
    )
    n_min = counts.agg(F.min("n_before").cast("bigint").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).withColumn(
        "rate", F.col("n_min").cast("double") / F.col("n_before").cast("double")
    )
    frac = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 60))
    )
    kept = (
        docs.select(F.col("lang").alias("cls"), frac.alias("f"))
        .join(F.broadcast(rates), "cls")
        .filter(F.col("f") < F.col("rate"))
        .groupBy("cls")
        .agg(F.count("*").cast("bigint").alias("n_after"))
    )
    return (
        rates.join(kept, "cls", "left")
        .select(
            F.col("cls").alias("lang"),
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


def rebalance_classes(docs: DataFrame) -> DataFrame:
    """Deterministic class-rebalance plan: downsample every language to
    the minority language's size by keeping the rows with the smallest
    (content-stable hash, doc_id) per language — exact target counts (a
    probability threshold only hits the target in expectation), no RNG,
    same selection on every engine and every run.

    One keyed rank window per class (balanced when classes are) plus a
    broadcast minimum. Output proves the selection, not just the counts:
    (lang, n_before, n_after, kept_id_sum).
    """
    base = docs.select(
        F.col("lang").alias("cls"),
        F.col("doc_id").cast("bigint").alias("id"),
        hex_hash32("doc_id").alias("h"),
    )
    sizes = base.groupBy("cls").agg(F.count("*").cast("bigint").alias("n_before"))
    min_n = sizes.agg(F.min("n_before").cast("bigint").alias("target"))
    w = Window.partitionBy("cls").orderBy("h", "id")
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
        F.col("cls").alias("lang"), "n_before", "n_after", "kept_id_sum"
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


def uncertainty_sample(docs: DataFrame, pivot: int) -> DataFrame:
    """Uncertainty sampling for an annotation queue: the 20 documents
    whose integer score (``n_chars``) sits closest to the decision
    ``pivot`` — for a monotone scorer (e.g. the logistic length gate),
    |score − pivot| orders exactly like |p − 0.5|, so the selection is
    PURE INTEGER (no probability floats anywhere near the boundary).

    TakeOrderedAndProject on (|score−pivot|, id) — never a global sort.
    Output: (id, score, dist).
    """
    t = docs.select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.col("n_chars").cast("bigint").alias("score"),
    ).withColumn("dist", F.abs(F.col("score") - F.lit(pivot)).cast("bigint"))
    return t.orderBy(F.asc("dist"), F.asc("id")).limit(20)


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


def group_split(events: DataFrame) -> DataFrame:
    """Leakage-safe 5-fold assignment at the USER level: every event of a
    user lands in the same fold, because fold = content-stable hash of
    ``user_id`` (salted "groupsplit") — the split discipline that keeps a
    user's history out of both train and test.
    (Row-hash splits — smp_kfold — leak whenever rows within a group are
    correlated.)

    One keyed aggregate; fold assignment is the md5 bucket of the key,
    so the split replays identically anywhere. Output per fold:
    (fold, n_groups, n_rows).
    """
    base = events.select(
        F.col("user_id").alias("g"),
        (hex_hash32("user_id", salt="groupsplit") % 5).cast("int").alias("fold"),
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


def sequential_poisson_sample(docs: DataFrame, k: int) -> DataFrame:
    """Weighted sampling without replacement, content-stable: sequential
    Poisson sampling (Ohlsson 1998, the survey-statistics standard for
    probability-proportional-to-size samples) — priority = u / w with
    u = (hash32(doc_id)+1)/2^32 and w = ``n_chars``, keep the k SMALLEST
    priorities. Heavier rows draw proportionally smaller priorities, so
    inclusion probability approaches w_i/Σw without any sequential pass or
    RNG stream.

    Unlike exponential-key weighted reservoirs (-ln(u)/w), the priority
    here is two divisions of exact integers — bit-identical IEEE doubles
    on every engine, no transcendental portability tax. The same
    content-stable-hash trick as :func:`_kept`: reruns
    and other engines agree row-for-row.

    Non-positive weights are EXCLUDED up front: weight 0 would yield
    +Inf priority (silently never sampled) and a negative weight a
    negative priority that always wins the top-k, inverting the PPS
    semantics — both are data errors, not sampling outcomes.

    Shape: a narrow map + global top-k (TakeOrderedAndProject — never a
    full sort). Output: (id, weight, priority), ties broken by id.
    """
    pri = (
        (hex_hash32("doc_id") + F.lit(1)).cast("double") / F.lit(float(HASH_SPACE))
    ) / F.col("n_chars").cast("double")
    return (
        docs.filter(F.col("n_chars").cast("double") > 0)
        .select(
            F.col("doc_id").cast("bigint").alias("id"),
            F.col("n_chars").cast("bigint").alias("weight"),
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


def time_split_purged(events: DataFrame, test_start: str, test_end: str) -> DataFrame:
    """Leakage-safe TEMPORAL split of the events' ``ts`` with a one-day
    embargo gap (the purged time-series split of Lopez de Prado 2018):
    train = strictly before test_start - 1 day, embargo = the gap rows
    (excluded entirely), test = [test_start, test_end). [[smp_group_split]] kills ENTITY
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
    emb = t0 - F.expr("INTERVAL 1 DAYS")
    ts = F.col("ts")
    tagged = events.select(
        F.when(ts < emb, "train")
        .when((ts >= t0) & (ts < t1), "test")
        .when((ts >= emb) & (ts < t0), "embargo")
        .otherwise("future")
        .alias("split"),
        ts.cast("bigint").alias("t"),
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
