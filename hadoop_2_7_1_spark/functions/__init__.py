"""Shared column expressions (scalar-function surface, SURVEY.md §2.8).

The reference has no scalar-function library — per-record computation is
arbitrary Java in a Mapper (e.g. StringTokenizer in WordCount.java:42-47,
regex in RegexMapper.java:58). Here every such computation is a JVM-side
Column expression so it stays inside whole-stage codegen; nothing in this
module touches Python at runtime.

Cross-engine determinism rule: anything that must match the DuckDB oracle
bit-for-bit is built from md5() hex strings (identical in both engines) —
never from engine-specific hash functions (Spark xxhash64 != DuckDB hash).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Regex used for whitespace tokenization in both engines (StringTokenizer
# semantics: runs of whitespace delimit, no empty tokens).
WS = r"\s+"
# Spark SQL string literals escape-process backslashes ('\s' -> 's'); any
# regex embedded in F.expr()/SQL text needs them doubled. DuckDB literals
# do NOT escape-process, so oracle SQL uses WS as-is.
WS_SQL = r"\\s+"


def ws_tokens_sql(col: str) -> str:
    """Spark SQL fragment: the whitespace tokens of string column ``col``
    as an array with no empty strings (StringTokenizer semantics). Unlike
    :func:`tokenize`, an empty or blank text yields an empty array."""
    return f"filter(split(trim({col}), '{WS_SQL}'), t -> t <> '')"


def sql_regex(pattern: str) -> str:
    """Escape a regex for embedding in a Spark SQL string literal."""
    return pattern.replace("\\", "\\\\")


def tokenize(col: Column | str) -> Column:
    """Whitespace tokens of a string column as an array (no empties).

    Reference: WordCount.java:42-47 (StringTokenizer).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), WS)


def hex_hash32(col: Column | str, salt: str | None = None) -> Column:
    """Deterministic 32-bit integer hash shared with the DuckDB oracle:
    first 8 hex chars of md5 → bigint. Used for minhash/simhash/sampling."""
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("string")
    if salt is not None:
        c = F.concat(F.lit(salt), F.lit("|"), c)
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def oracle_hash32(expr: str, salt: str | None = None) -> str:
    """DuckDB SQL fragment equivalent of :func:`hex_hash32`."""
    e = f"('{salt}' || '|' || {expr})" if salt is not None else expr
    return f"CAST(('0x' || substr(md5({e}), 1, 8)) AS BIGINT)"


def exploded_word_shingles(df, text_col: str, n: int, alias: str):
    """Rows of word n-gram shingles: every non-`text_col` column of ``df``
    preserved, plus one `alias` row per shingle (the space-joined run of
    ``n`` whitespace tokens; a text with fewer than ``n`` tokens has none).
    The same rows as the DuckDB fragment :func:`oracle_word_shingles`
    unnests. It explodes the POSITION SEQUENCE and builds each shingle
    string per OUTPUT ROW — constructing an array<string> of shingles first
    costs ~6-9x in UnsafeArray element copies (measured 3.3s -> 0.36s on
    the sf0.1 documents 3-shingles), while the per-row
    array_join(slice(...)) stays inside whole-stage codegen."""
    if "__ws_tk" in df.columns or "__ws_i" in df.columns:
        # withColumn silently REPLACES an existing column of the same name
        # and the original would be dropped below — refuse loudly instead
        raise ValueError(
            "exploded_word_shingles: input already has a __ws_tk/__ws_i "
            "column; rename it before calling"
        )
    toks = f"split(trim({text_col}), '{WS_SQL}')"
    return (
        df.withColumn("__ws_tk", F.expr(toks))
        .filter(F.expr(f"size(__ws_tk) >= {n}"))
        .withColumn(
            "__ws_i", F.explode(F.expr(f"sequence(1, size(__ws_tk) - {n - 1})"))
        )
        .withColumn(alias, F.expr(f"array_join(slice(__ws_tk, __ws_i, {n}), ' ')"))
        .drop("__ws_tk", "__ws_i", text_col)
    )


def oracle_word_shingles(col_expr: str, n: int) -> str:
    """DuckDB fragment producing the same word n-gram shingle list."""
    toks = f"regexp_split_to_array(trim({col_expr}), '{WS}')"
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )


def with_counters(df, *counters: Column, name: str = "counters"):
    """Hadoop-counter analogue (TaskCounter.java:28, user counters via
    context.getCounter): attach named aggregate metrics to a DataFrame with
    ``observe``; they are collected by the existing action, costing no extra
    pass. Read them from the returned Observation.

    Returns (df_with_observation, observation).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *counters), obs
