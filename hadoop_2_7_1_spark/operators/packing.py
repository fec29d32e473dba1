"""Sequence packing for LLM pre-training (north-star addition).

GPT-style block packing: documents are concatenated in a deterministic
order and the token stream is chunked into fixed-length training sequences;
a document may span a block boundary. The operator computes, fully
distributed, each document's global token start offset and the range of
sequence ids it lands in.

Scale shape: the global offset is NOT a global window (which would funnel
100 TB through one task). Same two-phase scheme as
``partitioning.global_sort_with_rank``: range-partition by id, per-partition
token totals (tiny: one row per partition) become broadcast prefix offsets,
then a per-partition cumulative sum adds the local part. The only
single-partition step touches ``num_partitions`` rows of metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    num_partitions: int = 32,
) -> DataFrame:
    """Assign each doc its token ``start_offset`` in the concatenated corpus
    stream (ordered by ``id_col``) and the sequence ids ``seq_first`` /
    ``seq_last`` its tokens fall into for blocks of ``seq_len`` tokens.

    Zero-token docs get ``seq_last = seq_first`` (they occupy no tokens but
    sit at their offset's block).
    """
    from .partitioning import two_phase_prefix

    keyed = docs.select(
        F.col(id_col).alias("id"), F.col(token_col).cast("bigint").alias("toks")
    )
    out = two_phase_prefix(
        keyed, [F.col("id")], F.col("toks"), "__end", num_partitions
    ).withColumn("start_offset", F.col("__end") - F.col("toks")).drop("__end")
    return out.select(
        F.col("id").cast("bigint").alias(id_col),
        F.col("toks").cast("bigint").alias(token_col),
        F.col("start_offset").cast("bigint"),
        F.expr(f"start_offset DIV {seq_len}").cast("bigint").alias("seq_first"),
        F.expr(
            f"(start_offset + greatest(toks - 1, 0L)) DIV {seq_len}"
        ).cast("bigint").alias("seq_last"),
    )


def oracle_pack_sequences(
    table: str, seq_len: int, id_col: str, token_expr: str
) -> str:
    """DuckDB twin: one global window (fine at oracle scale)."""
    return f"""
    WITH t AS (
      SELECT {id_col} AS id, CAST({token_expr} AS BIGINT) AS toks FROM {table}
    ), c AS (
      SELECT id, toks,
             sum(toks) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) - toks AS start_off
      FROM t
    )
    SELECT CAST(id AS BIGINT) AS {id_col}, CAST(toks AS BIGINT) AS n_tokens,
           CAST(start_off AS BIGINT) AS start_offset,
           CAST(start_off // {seq_len} AS BIGINT) AS seq_first,
           CAST((start_off + greatest(toks - 1, 0)) // {seq_len} AS BIGINT) AS seq_last
    FROM c
    """


def split_long_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window chunking: docs longer than ``max_tokens`` split into
    chunks of ``max_tokens`` with ``overlap`` tokens of stride-back — the
    standard long-document prep for a fixed context window (each chunk
    starts at k*(max_tokens-overlap)).

    Pure JVM expressions: tokenize once, explode a chunk-index sequence,
    slice the token array per chunk. Map-side only — zero shuffles; at
    100 TB this is embarrassingly parallel.
    """
    from ..functions import ws_tokens_sql

    stride = max_tokens - overlap
    toks = ws_tokens_sql(text_col)
    n = f"size({toks})"
    n_chunks = f"1 + CAST(ceil(greatest({n} - {max_tokens}, 0) / {stride}.0) AS INT)"
    return (
        df.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.expr(toks).alias("_toks"),
            F.expr(n_chunks).alias("_nc"),
        )
        .select(
            "id",
            F.expr("explode(sequence(0, _nc - 1))").alias("chunk_idx"),
            "_toks",
        )
        .select(
            "id",
            F.col("chunk_idx").cast("bigint"),
            (F.col("chunk_idx") * stride).cast("bigint").alias("start_tok"),
            F.expr(
                f"array_join(slice(_toks, chunk_idx * {stride} + 1, {max_tokens}), ' ')"
            ).alias("chunk_text"),
            F.expr(
                f"size(slice(_toks, chunk_idx * {stride} + 1, {max_tokens}))"
            ).cast("bigint").alias("n_chunk_tokens"),
        )
    )


def oracle_split_long_docs(
    table: str, id_col: str, text_col: str, max_tokens: int = 64, overlap: int = 16
) -> str:
    from ..functions import WS

    stride = max_tokens - overlap
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH base AS (
      SELECT {id_col} AS id, {toks} AS toks,
             1 + CAST(ceil(greatest(len({toks}) - {max_tokens}, 0) / {stride}.0) AS INT) AS nc
      FROM {table}
    ), chunks AS (
      SELECT id, toks, unnest(range(nc)) AS chunk_idx FROM base
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {stride} AS BIGINT) AS start_tok,
           array_to_string(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {max_tokens}], ' ')
             AS chunk_text,
           CAST(len(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {max_tokens}]) AS BIGINT)
             AS n_chunk_tokens
    FROM chunks
    """


def water_filling_budget(
    per_source: DataFrame,
    key_col: str,
    tokens_col: str,
    budget_num: int = 1,
    budget_den: int = 2,
) -> DataFrame:
    """Water-filling token-budget allocation across sources: with budget
    B = Σtokens · num/den (integer arithmetic), sources below the water
    level keep everything; larger sources are clipped to a common cap
    C = the largest level with Σ min(tokens, C) ≤ B — the standard fair
    mixture-budgeting rule ("cap the giants, keep the tails whole").

    Pure integer arithmetic on the SOURCE frame (mixture scale — tens of
    rows): sort ascending, one cumulative window; a source is fully
    funded iff cum_before + tokens·remaining ≤ B; the cap is one integer
    division of the leftover. Output: (key, tokens, allocated, capped).
    """
    w = Window.orderBy("t", "k").rowsBetween(Window.unboundedPreceding, -1)
    wn = Window.orderBy("t", "k")
    base = per_source.select(
        F.col(key_col).alias("k"), F.col(tokens_col).cast("bigint").alias("t")
    )
    tot = base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(f"(sum(t) * {budget_num}) div {budget_den}").cast("bigint").alias("b"),
    )
    ranked = (
        base.join(F.broadcast(tot), how="cross")
        .withColumn("cum_before", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint"))
        .withColumn("rnk", F.row_number().over(wn).cast("bigint"))
        .withColumn(
            "funded",
            F.col("cum_before") + F.col("t") * (F.col("n") - F.col("rnk") + 1)
            <= F.col("b"),
        )
    )
    funded_agg = ranked.filter(F.col("funded")).agg(
        F.max("rnk").cast("bigint").alias("j"),
        F.max(F.col("cum_before") + F.col("t")).cast("bigint").alias("cum_j"),
    )
    cap = funded_agg.join(F.broadcast(tot), how="cross").select(
        F.when(
            F.coalesce(F.col("j"), F.lit(0)) < F.col("n"),
            F.expr("(b - coalesce(cum_j, 0)) div (n - coalesce(j, 0))"),
        )
        .otherwise(F.col("b"))
        .cast("bigint")
        .alias("cap"),
    )
    return (
        ranked.join(F.broadcast(cap), how="cross")
        .select(
            F.col("k").alias(key_col),
            F.col("t").alias("tokens"),
            F.when(F.col("funded"), F.col("t"))
            .otherwise(F.least(F.col("t"), F.col("cap")))
            .cast("bigint")
            .alias("allocated"),
            (~F.col("funded") & (F.col("t") > F.col("cap"))).alias("capped"),
        )
    )


def oracle_water_filling_budget(
    rows_sql: str, budget_num: int = 1, budget_den: int = 2
) -> str:
    """DuckDB twin; ``rows_sql`` yields (k, t) per-source token counts."""
    return f"""
    WITH base AS (SELECT k, CAST(t AS BIGINT) AS t FROM ({rows_sql})),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST((CAST(sum(t) AS BIGINT) * {budget_num}) // {budget_den} AS BIGINT) AS b
      FROM base
    ),
    ranked AS (
      SELECT k, t,
             CAST(coalesce(sum(t) OVER (ORDER BY t, k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before,
             CAST(row_number() OVER (ORDER BY t, k) AS BIGINT) AS rnk,
             n, b
      FROM base, tot
    ),
    flagged AS (
      SELECT *, cum_before + t * (n - rnk + 1) <= b AS funded FROM ranked
    ),
    fa AS (
      SELECT CAST(max(rnk) AS BIGINT) AS j,
             CAST(max(cum_before + t) AS BIGINT) AS cum_j
      FROM flagged WHERE funded
    ),
    cap AS (
      SELECT CASE WHEN coalesce(fa.j, 0) < tot.n THEN
               CAST((tot.b - coalesce(fa.cum_j, 0)) // (tot.n - coalesce(fa.j, 0))
                    AS BIGINT)
             ELSE tot.b END AS cap
      FROM fa, tot
    )
    SELECT f.k, f.t AS tokens,
           CAST(CASE WHEN f.funded THEN f.t ELSE least(f.t, c.cap) END AS BIGINT)
             AS allocated,
           (NOT f.funded AND f.t > c.cap) AS capped
    FROM flagged f, cap c
    """
