"""Q1–Q22: the reference's example programs as declared queries
(SURVEY.md §2.11), over the driver's test tables.

Corpus mapping: the reference's random-text inputs (RandomTextWriter) map to
``documents.text``; DB-style tables map to the TPC-H-ish star schema;
DBCountPageView's Access table maps to ``events``.

Each query cites the reference file it reproduces (semantics only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tokenize
from ..io import load_table, scratch_dir
from ..operators import aggregates, fieldsel, joins, keyfield, partitioning, pipes, secondary_sort, setops
from . import register

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# DuckDB-side whitespace tokenization of the documents corpus (kept textually
# identical across every word-stat oracle).
TOKS_SQL = (
    "SELECT tok FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok "
    "FROM documents) WHERE tok <> ''"
)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(tokenize("text")).alias("tok")).filter(F.col("tok") != "")


# ---------------------------------------------------------------------------
# Q1 WordCount — examples/WordCount.java:36-64
# ---------------------------------------------------------------------------

@register(
    "q01_wordcount",
    f"SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM ({TOKS_SQL}) GROUP BY tok",
    doc="tokenize documents.text; count per token (WordCount.java:36)",
)
def q01_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .groupBy(F.col("tok").alias("word"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Q2 Grep — examples/Grep.java:55-94 (job1 count matches, job2 sort desc)
# ---------------------------------------------------------------------------

_GREP_PAT = "[a-z]*or[a-z]*"

@register(
    "q02_grep",
    f"""
    WITH m AS (
      SELECT unnest(regexp_extract_all(text, '{_GREP_PAT}')) AS match FROM documents
    ), c AS (
      SELECT match, CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY match
    )
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, match) AS BIGINT) AS rank, match, cnt
    FROM c QUALIFY rank <= 20
    """,
    doc="regex match count + descending sort + top-k (Grep.java:55)",
)
def q02_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.regexp_extract_all("text", F.lit(_GREP_PAT), 0)).alias("match"))
        .groupBy("match")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # top-k via TakeOrdered (no global shuffle-to-one); rank added on the tiny result
    top = counts.orderBy(F.desc("cnt"), F.asc("match")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("match"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "rank", "match", "cnt"
    )


# ---------------------------------------------------------------------------
# Q3/Q4/Q5 WordMean / WordMedian / WordStandardDeviation
# examples/WordMean.java:54-96, WordMedian.java:64-149, WordStandardDeviation.java:69-168
# ---------------------------------------------------------------------------

@register(
    "q03_wordmean",
    f"SELECT CAST(avg(length(tok)) AS DOUBLE) AS mean_len FROM ({TOKS_SQL})",
    doc="mean token length (WordMean.java:54)",
)
def q03_wordmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokens(spark, sf_dir).agg(
        F.avg(F.length("tok")).cast("double").alias("mean_len")
    )


@register(
    "q04_wordmedian",
    f"""
    WITH L AS (SELECT length(tok) AS len FROM ({TOKS_SQL}))
    SELECT CAST(len AS BIGINT) AS median_len FROM (
      SELECT len, row_number() OVER (ORDER BY len) AS rn, count(*) OVER () AS n FROM L
    ) WHERE rn = (n + 1) // 2
    """,
    doc="exact lower-median token length via sorted histogram (WordMedian.java:64)",
)
def q04_wordmedian(spark: SparkSession, sf_dir: str) -> DataFrame:
    lens = _tokens(spark, sf_dir).select(F.length("tok").alias("len"))
    return aggregates.exact_median(lens, "len", out_name="median_len")


@register(
    "q05_wordstddev",
    f"""
    SELECT CAST(sqrt(avg(len * len) - avg(len) * avg(len)) AS DOUBLE) AS stddev_len
    FROM (SELECT CAST(length(tok) AS DOUBLE) AS len FROM ({TOKS_SQL}))
    """,
    doc="population stddev of token length, sqrt(E[x^2]-E[x]^2) (WordStandardDeviation.java:165)",
)
def q05_wordstddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    lens = _tokens(spark, sf_dir).select(F.length("tok").cast("double").alias("len"))
    return lens.agg(
        F.sqrt(F.avg(F.col("len") * F.col("len")) - F.avg("len") * F.avg("len"))
        .cast("double")
        .alias("stddev_len")
    )


# ---------------------------------------------------------------------------
# Q6 SecondarySort — examples/SecondarySort.java:57-232
# ---------------------------------------------------------------------------

@register(
    "q06_secondary_sort",
    # Two-level form instead of list_sort(list(..)) + struct-max: DuckDB's
    # memory accounting does not bound that path (126 GB RSS at sf1.0 under
    # a 40 GB memory_limit — kernel-OOM'd both the r10 and r11 full-sim
    # harnesses), while string_agg ORDER BY + the smax/lastq join runs the
    # same 6M rows in 5 s at 0.4 GB. Proven bit-identical to the old oracle
    # at sf0.001/0.01/0.1/0.5 before the swap. Semantics unchanged: lines =
    # group's linenumbers ascending; last_qty = max quantity among the rows
    # holding the group's max linenumber ((s, q) lexicographic max — the
    # deterministic-under-duplicate-(okey, line) rule the Spark side uses).
    """
    WITH lines_agg AS (
        SELECT l_orderkey,
               string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lines
        FROM lineitem GROUP BY l_orderkey
    ),
    smax AS (
        SELECT l_orderkey, max(l_linenumber) AS s
        FROM lineitem GROUP BY l_orderkey
    ),
    lastq AS (
        SELECT l.l_orderkey, CAST(max(l.l_quantity) AS DOUBLE) AS last_qty
        FROM lineitem l JOIN smax m
          ON l.l_orderkey = m.l_orderkey AND l.l_linenumber = m.s
        GROUP BY l.l_orderkey
    )
    SELECT CAST(a.l_orderkey AS BIGINT) AS okey, a.lines, q.last_qty
    FROM lines_agg a JOIN lastq q ON a.l_orderkey = q.l_orderkey
    """,
    doc="group by k1, values ordered by k2 within group (SecondarySort.java:103)",
)
def q06_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    grouped = secondary_sort.grouped_sorted_values(
        li,
        "l_orderkey",
        "l_linenumber",
        extra_aggs=[
            # lexicographic struct max: deterministic under duplicate (okey, line)
            F.expr(
                "cast(max(struct(l_linenumber AS s, l_quantity AS q)).q as double)"
            ).alias("last_qty")
        ],
    )
    return grouped.select(
        F.col("l_orderkey").cast("bigint").alias("okey"),
        F.expr("array_join(transform(values, x -> cast(x as string)), ',')").alias("lines"),
        "last_qty",
    )


# ---------------------------------------------------------------------------
# Q7/Q8/Q8b Join — examples/Join.java:96-156; lib/join inner/outer/override
# ---------------------------------------------------------------------------

@register(
    "q07_join_inner",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS okey, c_name, o_totalprice AS price
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="equi inner join (InnerJoinRecordReader.java:45)",
)
def q07_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "k")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "k")
    return joins.inner_join([orders, cust], "k").select(
        F.col("o_orderkey").cast("bigint").alias("okey"),
        "c_name",
        F.col("o_totalprice").alias("price"),
    )


def _outer_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # Left: even-keyed customers (creates keys missing on each side);
    # right: per-customer order aggregates.
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("k"), "c_acctbal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)"))
            .cast("double")
            .alias("tot"),
        )
    )
    return cust, orders

_OUTER_SIDES_SQL = """
    a AS (SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
    b AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS tot
          FROM orders GROUP BY o_custkey)
"""

@register(
    "q08_join_outer",
    f"""
    WITH {_OUTER_SIDES_SQL}
    SELECT CAST(coalesce(a.k, b.k) AS BIGINT) AS k, a.c_acctbal, b.n_orders, b.tot
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
    doc="N-way full outer join, absent slots null (OuterJoinRecordReader.java:45)",
)
def q08_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _outer_sides(spark, sf_dir)
    out = joins.full_outer_join([cust, orders], "k")
    return out.select(
        F.col("k").cast("bigint").alias("k"), "c_acctbal", "n_orders", "tot"
    )


@register(
    "q08b_join_override",
    f"""
    WITH {_OUTER_SIDES_SQL}
    SELECT CAST(coalesce(a.k, b.k) AS BIGINT) AS k,
           CAST(coalesce(b.tot, a.c_acctbal) AS DOUBLE) AS value
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
    doc="rightmost source wins per key (OverrideRecordReader.java:36)",
)
def q08b_join_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _outer_sides(spark, sf_dir)
    a = cust.select("k", F.col("c_acctbal").alias("v"))
    b = orders.select("k", F.col("tot").alias("v"))
    out = joins.override_join([a, b], "k", "v", out_col="value")
    return out.select(F.col("k").cast("bigint").alias("k"), F.col("value").cast("double"))


@register(
    "q24_compose_join",
    f"""
    WITH {_OUTER_SIDES_SQL}
    SELECT CAST(coalesce(a.k, b.k) AS BIGINT) AS k,
           CAST(coalesce(b.tot, a.c_acctbal) AS DOUBLE) AS value
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
    doc="CompositeInputFormat expression-string surface "
        "(CompositeInputFormat.java:85-179, Parser.java:78,151): materialize "
        "the q08b sides as tables, then run the job from the DSL string — "
        "same oracle as q08b, proving the parser lowers onto the same join",
)
def q24_compose_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compose import compose

    cust, orders = _outer_sides(spark, sf_dir)
    base = scratch_dir(spark, "compose", sf_dir)
    pa, pb = os.path.join(base, "a"), os.path.join(base, "b")
    cust.select("k", F.col("c_acctbal").alias("v")).write.mode("overwrite").parquet(pa)
    orders.select("k", F.col("tot").alias("v")).write.mode("overwrite").parquet(pb)
    out = compose(
        spark, f'override(tbl(parquet,"{pa}"),tbl(parquet,"{pb}"))', key="k", value_col="v"
    )
    return out.select(F.col("k").cast("bigint").alias("k"), F.col("v").cast("double").alias("value"))


# ---------------------------------------------------------------------------
# Q9 AggregateWordCount — examples/AggregateWordCount.java:52 + aggregate lib
# ---------------------------------------------------------------------------

@register(
    "q09_aggregate_wordcount",
    f"""
    SELECT substr(tok, 1, 1) AS id,
           CAST(count(*) AS BIGINT) AS total,
           CAST(max(length(tok)) AS BIGINT) AS max_len,
           CAST(min(length(tok)) AS BIGINT) AS min_len,
           CAST(count(DISTINCT tok) AS BIGINT) AS uniq_words
    FROM ({TOKS_SQL}) GROUP BY substr(tok, 1, 1)
    """,
    doc="ValueAggregator descriptor registry in one groupBy pass (ValueAggregatorJob.java:119)",
)
def q09_aggregate_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir).select(
        F.substring("tok", 1, 1).alias("first_char"),
        F.col("tok"),
        F.length("tok").alias("len"),
        F.lit(1).alias("one"),
    )
    return aggregates.value_aggregate(
        toks,
        "first_char",
        [
            ("LongValueSum", "one", "total"),
            ("LongValueMax", "len", "max_len"),
            ("LongValueMin", "len", "min_len"),
            ("UniqValueCount", "tok", "uniq_words"),
        ],
    )


# ---------------------------------------------------------------------------
# Q10 AggregateWordHistogram — ValueHistogram.java:38
# ---------------------------------------------------------------------------

@register(
    "q10_value_histogram",
    """
    WITH freq AS (
      SELECT event_type AS id, user_id AS v, count(*) AS c
      FROM events GROUP BY event_type, user_id
    )
    SELECT id,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(min(c) AS BIGINT) AS min_freq,
           CAST(max(c) AS BIGINT) AS max_freq,
           CAST(avg(c) AS DOUBLE) AS mean_freq,
           CAST(list_extract(list_sort(list(c)), CAST((count(*) + 1) // 2 AS INTEGER)) AS BIGINT)
             AS median_freq,
           CAST(sqrt(avg(c * c) - avg(c) * avg(c)) AS DOUBLE) AS stddev_freq
    FROM freq GROUP BY id
    """,
    doc="per-key stats over value-frequency distribution (ValueHistogram.java:38)",
)
def q10_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return aggregates.value_histogram(ev, "event_type", "user_id")


# ---------------------------------------------------------------------------
# Q11 Sort (total order) — examples/Sort.java:92-98 + TotalOrderPartitioner
# ---------------------------------------------------------------------------

@register(
    "q11_total_sort",
    """
    SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS rank,
           CAST(l_orderkey AS BIGINT) AS okey, l_linenumber AS line
    FROM lineitem
    """,
    doc="global sort + scalable two-pass global rank (Sort.java:92, TeraSort offsets)",
)
def q11_total_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    ranked = partitioning.global_sort_with_rank(li, ["l_orderkey", "l_linenumber"])
    return ranked.select(
        "rank",
        F.col("l_orderkey").cast("bigint").alias("okey"),
        F.col("l_linenumber").alias("line"),
    )


# ---------------------------------------------------------------------------
# Q12 KeyFieldBasedComparator — lib/partition/KeyFieldBasedComparator.java:53
# ---------------------------------------------------------------------------

@register(
    "q12_keyfield_sort",
    """
    SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
           CAST(o_orderkey AS BIGINT) AS okey, o_totalprice AS price
    FROM orders QUALIFY rank <= 100
    """,
    doc="Unix sort -k2,2nr -k1,1n over delimited lines (KeyFieldBasedComparator.java:53)",
)
def q12_keyfield_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat_ws("|", F.col("o_orderkey"), F.col("o_totalprice")).alias("line")
    )
    exprs = keyfield.sort_exprs("line", "2nr,1n", sep="|")
    top = lines.orderBy(*exprs).limit(100)
    w = Window.orderBy(*keyfield.sort_exprs("line", "2nr,1n", sep="|"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "rank",
        F.split("line", r"\|").getItem(0).cast("bigint").alias("okey"),
        F.split("line", r"\|").getItem(1).cast("double").alias("price"),
    )


# ---------------------------------------------------------------------------
# Q13 FieldSelection — lib/fieldsel/FieldSelectionHelper.java:60
# ---------------------------------------------------------------------------

@register(
    "q13_field_selection",
    """
    SELECT strftime(l_shipdate, '%Y-%m-%d') || '|' || CAST(l_orderkey AS VARCHAR) AS key,
           concat_ws('|', l_partkey, l_suppkey, l_linenumber, l_linestatus) AS value
    FROM lineitem
    """,
    doc='cut-style field spec "6,0:1-3,5" over |-delimited lines (FieldSelectionHelper.java:60)',
)
def q13_field_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.concat_ws(
            "|",
            F.col("l_orderkey"),
            F.col("l_partkey"),
            F.col("l_suppkey"),
            F.col("l_linenumber"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.date_format("l_shipdate", "yyyy-MM-dd"),
        ).alias("line")
    )
    return fieldsel.field_select(lines, "line", "6,0:1-3,5", sep="|")


# ---------------------------------------------------------------------------
# Q14 MultipleInputs — lib/input/MultipleInputs.java:40
# ---------------------------------------------------------------------------

@register(
    "q14_multiple_inputs",
    """
    SELECT CAST(o_custkey AS BIGINT) AS k, CAST(o_totalprice AS DOUBLE) AS v, 'orders' AS src
    FROM orders
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT) AS k, CAST(c_acctbal AS DOUBLE) AS v, 'customer' AS src
    FROM customer
    """,
    doc="per-source mapper + union of heterogeneous inputs (MultipleInputs.java:40)",
)
def q14_multiple_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return setops.multiple_inputs(
        [
            (
                orders,
                lambda df: df.select(
                    F.col("o_custkey").cast("bigint").alias("k"),
                    F.col("o_totalprice").cast("double").alias("v"),
                    F.lit("orders").alias("src"),
                ),
            ),
            (
                cust,
                lambda df: df.select(
                    F.col("c_custkey").cast("bigint").alias("k"),
                    F.col("c_acctbal").cast("double").alias("v"),
                    F.lit("customer").alias("src"),
                ),
            ),
        ]
    )


# ---------------------------------------------------------------------------
# Q15 Partitioned output — mapred/lib/MultipleOutputFormat.java:56
# ---------------------------------------------------------------------------

@register(
    "q15_partitioned_write",
    """
    SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="record-derived output paths via partitionBy; verified by read-back counts",
)
def q15_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import write_partitioned

    li = load_table(spark, sf_dir, "lineitem")
    out = f"/tmp/hadoop_2_7_1_spark_q15_{os.path.basename(os.path.normpath(sf_dir))}"
    write_partitioned(li, out, "l_returnflag")
    back = spark.read.parquet(out)
    return back.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Q16 ChainMapper — lib/chain/ChainMapper.java:84 (one-pass pipeline)
# ---------------------------------------------------------------------------

@register(
    "q16_chain",
    """
    WITH cleaned AS (
      SELECT regexp_replace(upper(text), '[^A-Z ]', ' ', 'g') AS t FROM documents
    ), toks AS (
      SELECT tok FROM (SELECT unnest(regexp_split_to_array(trim(t), '\\s+')) AS tok FROM cleaned)
      WHERE tok <> '' AND length(tok) > 4
    )
    SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    """,
    doc="M1→M2→M3 narrow chain collapsed by Catalyst into one stage (Chain.java:50)",
)
def q16_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # chain: upper -> strip non-letters -> tokenize -> filter -> count
    step1 = docs.select(F.upper("text").alias("t"))
    step2 = step1.select(F.regexp_replace("t", "[^A-Z ]", " ").alias("t"))
    step3 = step2.select(F.explode(tokenize("t")).alias("tok")).filter(
        (F.col("tok") != "") & (F.length("tok") > 4)
    )
    return step3.groupBy(F.col("tok").alias("word")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Q17 Distinct — dedup-by-group-key pattern (SortValidator.java:101 context)
# ---------------------------------------------------------------------------

@register(
    "q17_distinct",
    """
    SELECT DISTINCT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk
    FROM lineitem
    """,
    doc="distinct = group-by-all-columns with identity reduce",
)
def q17_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").cast("bigint").alias("pk"),
        F.col("l_suppkey").cast("bigint").alias("sk"),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# Q18 Semi/anti join — engine extras (SURVEY §2.5)
# ---------------------------------------------------------------------------

@register(
    "q18_semi_anti",
    """
    SELECT CAST(c_custkey AS BIGINT) AS k, 'has_orders' AS tag FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT) AS k, 'no_orders' AS tag FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left semi + left anti join union",
)
def q18_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("k")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("k")
    )
    semi = joins.semi_join(cust, orders, "k").withColumn("tag", F.lit("has_orders"))
    anti = joins.anti_join(cust, orders, "k").withColumn("tag", F.lit("no_orders"))
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# Q19 Intersect / Except — engine extras (SURVEY §2.7)
# ---------------------------------------------------------------------------

@register(
    "q19_intersect_except",
    """
    SELECT CAST(k AS BIGINT) AS k, 'both' AS tag FROM
      (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT CAST(k AS BIGINT) AS k, 'cust_only' AS tag FROM
      (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
    """,
    doc="intersect + except (distinct semantics)",
)
def q19_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("k")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("k")
    )
    both = setops.intersect(cust, orders).withColumn("tag", F.lit("both"))
    only = setops.except_distinct(cust, orders).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Q20 Streaming pipe UDF — hadoop-streaming PipeMapper.java:38
# ---------------------------------------------------------------------------

@register(
    "q20_pipe_wordcount",
    """
    SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
      SELECT tok FROM (
        SELECT unnest(regexp_split_to_array(trim(upper(text)), '\\s+')) AS tok FROM documents
      ) WHERE tok <> ''
    ) GROUP BY tok
    """,
    doc="external subprocess UDF over the streaming line protocol (PipeMapper.java:38)",
)
def q20_pipe_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    piped = pipes.pipe_transform(docs, ["tr", "a-z", "A-Z"], input_cols=["text"])
    toks = piped.select(F.explode(tokenize("key")).alias("tok")).filter(F.col("tok") != "")
    return toks.groupBy(F.col("tok").alias("word")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )


# ---------------------------------------------------------------------------
# Q21 DBCountPageView — examples/DBCountPageView.java:350-416
# ---------------------------------------------------------------------------

@register(
    "q21_db_pageview",
    """
    SELECT event_type AS url, CAST(count(*) AS BIGINT) AS pageview
    FROM events GROUP BY event_type
    """,
    doc="Access(url,...) -> Pageview(url, count) over the events table (DBCountPageView.java:350)",
)
def q21_db_pageview(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("url")).agg(
        F.count("*").cast("bigint").alias("pageview")
    )


# ---------------------------------------------------------------------------
# Q22 QuasiMonteCarlo pi — examples/QuasiMonteCarlo.java:87-324
# (compute-parallel; not SQL-expressible -> rows-only check)
# ---------------------------------------------------------------------------

@register(
    "q22_pi_qmc",
    # Genuinely computed oracle: the 2-D Halton sequence (bases 2,3) IS
    # SQL-expressible. The base-b radical inverse of i is the base-b digit
    # reversal of i over a fixed numerator (i < 2^18 and < 3^11 for
    # i <= 160000), so x = bitrev18(i)/2^18 exactly equals the iterative
    # float computation (dyadic, exact), and y = digitrev11_3(i)/3^11 agrees
    # to <1e-15 — safe because the closest sample sits 1.2e-06 from the
    # circle boundary (measured over all 160000 points).
    """
    WITH pts AS (
      SELECT range + 1 AS i FROM range(160000)
    ), xy AS (
      SELECT
        list_sum([((i >> k) & 1) * (1::BIGINT << (17 - k))
                  for k in range(18)]) / 262144.0 AS x,
        list_sum([((i // CAST(3**k AS BIGINT)) % 3) * CAST(3**(10 - k) AS BIGINT)
                  for k in range(11)]) / 177147.0 AS y
      FROM pts
    )
    SELECT CAST(count(*) FILTER (
             WHERE (x-0.5)*(x-0.5) + (y-0.5)*(y-0.5) <= 0.25) AS BIGINT) AS inside,
           CAST(count(*) AS BIGINT) AS total,
           4.0 * count(*) FILTER (
             WHERE (x-0.5)*(x-0.5) + (y-0.5)*(y-0.5) <= 0.25) / count(*) AS pi_estimate
    FROM xy
    """,
    doc="partition-parallel Halton-sequence sampling; deterministic given offsets (QuasiMonteCarlo.java:152)",
)
def q22_pi_qmc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    n_maps, n_points = 8, 20_000

    def halton_count(batches):
        # 2-D Halton sequence (bases 2,3), same low-discrepancy sampler the
        # reference uses (QuasiMonteCarlo.java:87 HaltonSequence).
        def halton(index: int, base: int) -> float:
            f, r = 1.0, 0.0
            i = index
            while i > 0:
                f /= base
                r += f * (i % base)
                i //= base
            return r

        for pdf in batches:
            for off in pdf["id"]:
                start = int(off) * n_points
                inside = 0
                for i in range(start, start + n_points):
                    x, y = halton(i + 1, 2) - 0.5, halton(i + 1, 3) - 0.5
                    if x * x + y * y <= 0.25:
                        inside += 1
                yield pd.DataFrame(
                    {"part": [int(off)], "inside": [inside], "total": [n_points]}
                )

    parts = spark.range(n_maps).repartition(n_maps)
    counted = parts.mapInPandas(
        halton_count, "part bigint, inside bigint, total bigint"
    )
    return counted.agg(
        F.sum("inside").cast("bigint").alias("inside"),
        F.sum("total").cast("bigint").alias("total"),
        (F.lit(4.0) * F.sum("inside") / F.sum("total")).alias("pi_estimate"),
    )


# ---------------------------------------------------------------------------
# BENCH-1: TeraGen / TeraSort / TeraValidate
# (EX/terasort/TeraGen.java:203-233, TeraSort.java:177-235,
#  TeraValidate.java:63-140). The reference generates GenSort-format 100-byte
# records, range-partitions by a sampled trie, sorts per partition, then
# validates global order and a checksum. Spark's orderBy IS that algorithm
# (sample -> repartitionByRange -> partition-local sort); our generator is an
# md5-derived deterministic record (SQL-expressible in both engines) rather
# than GenSort's Random16 stream, so the oracle can replicate checksums.
# ---------------------------------------------------------------------------

TERA_N = 100_000


def _teragen(spark: SparkSession, n: int) -> DataFrame:
    """n deterministic 100-byte-style records: 10-char key + 32-char rowid
    payload. Distributed generation straight from spark.range (no driver
    loop, no data movement)."""
    return spark.range(n).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 10).alias("key"),
        F.lpad(F.col("id").cast("string"), 32, "0").alias("payload"),
    )


@register(
    "bench_teragen",
    f"""
    SELECT substr(md5(CAST(range AS VARCHAR)), 1, 10) AS key,
           lpad(CAST(range AS VARCHAR), 32, '0') AS payload
    FROM range({TERA_N})
    """,
    doc="TeraGen: deterministic distributed record generation from row ids",
)
def bench_teragen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _teragen(spark, TERA_N)


@register(
    "bench_terasort_validate",
    f"""
    WITH gen AS (
      SELECT substr(md5(CAST(range AS VARCHAR)), 1, 10) AS key,
             lpad(CAST(range AS VARCHAR), 32, '0') AS payload
      FROM range({TERA_N})
    ), sorted AS (
      SELECT key, payload, lag(key) OVER (ORDER BY key, payload) AS prev_key
      FROM gen
    )
    SELECT CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(*) FILTER (WHERE prev_key IS NOT NULL AND prev_key > key) AS BIGINT)
             AS n_misorder,
           CAST(bit_xor(CAST(('0x' || substr(md5(key || payload), 1, 15)) AS BIGINT)) AS BIGINT)
             AS checksum
    FROM sorted
    """,
    doc="TeraSort+TeraValidate: total-order sort, then global order check "
        "(lag comparison) + xor content checksum, one row",
)
def bench_terasort_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _terasort_validate(spark, TERA_N)


def _tera_validate_partition(batches):
    """Per-partition TeraValidate pass (runs inside mapInArrow, one call per
    sorted partition): stream the partition's Arrow batches once, counting
    records and adjacent-pair misorders, XOR-folding the JVM-computed
    per-record checksum, and keeping the first/last record for the driver's
    boundary merge. All per-row work is vectorized numpy over the Arrow
    buffers — records are fixed-width (10-char key + 32-char payload), so
    the string column's data buffer is viewed as one S42 array and the
    adjacent comparison is a single vectorized ``arr[1:] < arr[:-1]``
    (byte-wise unsigned, identical to Spark's UTF8String ordering on this
    ASCII data). Emits ONE summary row per non-empty partition."""
    import numpy as np
    import pyarrow as pa

    n_rec = 0
    n_mis = 0
    xsum = np.int64(0)
    first = None
    last = None
    pid = None
    for batch in batches:
        m = batch.num_rows
        if m == 0:
            continue
        rec = batch.column(0)
        # concat(key, payload) of non-null cols — nulls are impossible; a
        # null here means the input contract broke, so fail loudly.
        assert rec.null_count == 0, "terasort record column has nulls"
        odt = (
            np.int64
            if pa.types.is_large_string(rec.type) or pa.types.is_large_binary(rec.type)
            else np.int32
        )
        offs = np.frombuffer(
            rec.buffers()[1],
            dtype=odt,
            count=m + 1,
            offset=rec.offset * np.dtype(odt).itemsize,
        )
        width = int(offs[1] - offs[0])
        assert int(offs[m] - offs[0]) == m * width, "variable-width record"
        arr = np.frombuffer(
            rec.buffers()[2], dtype=f"S{width}", count=m, offset=int(offs[0])
        )
        chk = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        if pid is None:
            pid = batch.column(2)[0].as_py()
        if last is not None and last > arr[0]:
            n_mis += 1
        if m > 1:
            n_mis += int(np.count_nonzero(arr[1:] < arr[:-1]))
        n_rec += m
        xsum ^= np.bitwise_xor.reduce(chk)
        if first is None:
            first = arr[0]
        last = arr[m - 1]
    if n_rec:
        yield pa.record_batch(
            {
                "pid": pa.array([pid], pa.int32()),
                "n_records": pa.array([n_rec], pa.int64()),
                "n_misorder": pa.array([n_mis], pa.int64()),
                "first_rec": pa.array([first.decode()], pa.string()),
                "last_rec": pa.array([last.decode()], pa.string()),
                "part_checksum": pa.array([int(xsum)], pa.int64()),
            }
        )


def _terasort_validate(spark: SparkSession, n: int) -> DataFrame:
    gen = _teragen(spark, n)
    # orderBy = sample -> repartitionByRange -> sortWithinPartitions, the
    # same physical strategy as the reference's sampled trie partitioner.
    sorted_df = gen.orderBy("key", "payload")
    # Validation mirrors TeraValidate.java:63-140: each map task order-checks
    # ONE sorted partition and emits its first/last record; a tiny reduce
    # compares boundaries of adjacent partitions. No stage ever pulls the
    # full dataset through one task.
    #
    # r11 optimization (guide §2.4/§4.2): the order check used to run as a
    # window PARTITIONED BY spark_partition_id(), which re-exchanged and
    # re-sorted the full just-sorted dataset (RangePartitioning does not
    # satisfy the window's hash clustering, so Catalyst inserted a second
    # full shuffle — measured +4.4s of 17.6s at the 10M bench point). The
    # check is now a NARROW mapInArrow pass over the sorted partitions —
    # the literal TeraValidate.java shape — with the per-record checksum
    # still computed by the JVM md5/conv expressions so the fold is
    # bit-identical. Output values are unchanged (oracle SQL untouched).
    rows = sorted_df.select(
        F.concat("key", "payload").alias("rec"),
        F.expr(
            "cast(conv(substring(md5(concat(key, payload)), 1, 15), 16, 10) as bigint)"
        ).alias("chk"),
        F.spark_partition_id().alias("pid"),
    )
    per_part = rows.mapInArrow(
        _tera_validate_partition,
        "pid int, n_records long, n_misorder long, "
        "first_rec string, last_rec string, part_checksum long",
    )
    # Boundary check over one row per partition — metadata-sized at any data
    # scale, so the ordered (single-partition) window here is safe.
    wb = Window.orderBy("pid")
    boundary = per_part.withColumn("prev_last", F.lag("last_rec").over(wb))
    return (
        boundary.agg(
            F.sum("n_records").cast("bigint").alias("n_records"),
            (
                F.sum("n_misorder")
                + F.sum(
                    F.when(
                        F.col("prev_last").isNotNull()
                        & (F.col("prev_last") > F.col("first_rec")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("n_misorder"),
            F.expr("bit_xor(part_checksum)").alias("checksum"),
        )
        .select(
            "n_records", "n_misorder", F.col("checksum").cast("bigint").alias("checksum")
        )
    )


# 2M rows (~85 MB sort payload) by default, which leaves headroom in a
# plain 1g-heap SparkSession. perfbench sets SPARK_GRAFT_TERA_BIG to 500k
# for its sort_shuffle_write workload. The oracle SQL is built from the
# same value at import, so Spark and DuckDB always agree.
import os as _os

TERA_N_BIG = int(_os.environ.get("SPARK_GRAFT_TERA_BIG", "2000000"))


@register(
    "bench_terasort_big",
    f"""
    WITH gen AS (
      SELECT substr(md5(CAST(range AS VARCHAR)), 1, 10) AS key,
             lpad(CAST(range AS VARCHAR), 32, '0') AS payload
      FROM range({TERA_N_BIG})
    ), sorted AS (
      SELECT key, payload, lag(key) OVER (ORDER BY key, payload) AS prev_key
      FROM gen
    )
    SELECT CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(*) FILTER (WHERE prev_key IS NOT NULL AND prev_key > key) AS BIGINT)
             AS n_misorder,
           CAST(bit_xor(CAST(('0x' || substr(md5(key || payload), 1, 15)) AS BIGINT)) AS BIGINT)
             AS checksum
    FROM sorted
    """,
    doc=f"TeraSort at {TERA_N_BIG:,} rows (~{TERA_N_BIG * 42 // 10**6} MB): the "
        "round-over-round perf point that measures data movement rather than "
        "the scheduling floor; same per-partition validation as "
        "bench_terasort_validate",
)
def bench_terasort_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _terasort_validate(spark, TERA_N_BIG)


@register(
    "bench_teragen_gensort",
    # The 128-bit LCG is not DuckDB-expressible, but its output is pinned:
    # tests/test_gensort.py asserts byte parity with the compiled reference
    # generator, whose CHECKSUM counter for 2000 rows is 0x3f8c10b8d50
    # (TeraGen.java:203-233). Constant-literal oracle of that pinned value.
    """
    SELECT CAST(2000 AS BIGINT) AS n_records,
           CAST(4366925532496 AS BIGINT) AS checksum
    """,
    doc="GenSort-exact TeraGen (EX/terasort/TeraGen.java:203-233, "
        "Random16.java:374, Unsigned16.java:297, GenSort.java:38): "
        "distributed 100-byte record generation, bit-identical to the "
        "reference for every row id; returns the reference CHECKSUM counter "
        "(128-bit sum of per-record CRC32). For 2000 rows the reference "
        "emits 0x3f8c10b8d50 = 4366925532496.",
)
def bench_teragen_gensort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import gensort

    # The general checksum is DECIMAL(38,0) (a 10**12-record run exceeds
    # int64); this 2000-row benchmark point fits BIGINT, and BIGINT
    # canonicalizes identically in Spark and DuckDB row-hashes where
    # DECIMAL(38,0) does not (r1/r2 hash_match=False was purely the decimal
    # representation — the value itself matched the pinned reference).
    return gensort.teragen_checksum(gensort.teragen(spark, 2000)).withColumn(
        "checksum", F.col("checksum").cast("bigint")
    )


@register(
    "q25_random_text",
    # Constant-literal oracle pinned from a compiled harness of the
    # reference mapper loop (EX/RandomTextWriter.java:126-165) run with
    # seeds 12345/12346 and a 10000-byte budget — see tests/test_randomtext.py.
    """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(20 AS BIGINT), CAST(10119 AS BIGINT),
       'b1da6da66e88559fa5691bb3cef0677b'),
      (CAST(1 AS BIGINT), CAST(14 AS BIGINT), CAST(10224 AS BIGINT),
       '0122226ae31109521a41b4dc7b34f227')
    ) AS t(map_id, n_records, n_bytes, stream_md5)
    """,
    doc="RandomTextWriter (EX/RandomTextWriter.java:102-165): per-map "
        "sentence generation from the reference's 1000-word vocabulary via "
        "a bit-exact java.util.Random; per-map stream digest matches the "
        "compiled reference mapper for the same seed",
)
def q25_random_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.randomtext import random_text_summary

    return random_text_summary(spark, n_maps=2, bytes_per_map=10_000, base_seed=12345)


@register(
    "q23_bbp_pi_digits",
    # The BBP spigot is not SQL-expressible, but its output is a known
    # mathematical constant: the first 64 hexadecimal fraction digits of pi,
    # independently re-derived with Machin-formula integer arithmetic (not
    # the BBP code under test) before being pinned here.
    """
    SELECT '243F6A8885A308D313198A2E03707344A4093822299F31D0082EFA98EC4E6C89'
             AS pi_hex,
           CAST(8 AS BIGINT) AS n_parts
    """,
    doc="BaileyBorweinPlouffe (EX/BaileyBorweinPlouffe.java:89-112,459): "
        "each partition computes a disjoint range of hexadecimal pi digits "
        "with the BBP digit-extraction formula; ordered concat at the end. "
        "Deterministic; first 24 digits are 243F6A8885A308D313198A2E "
        "(pi = 3.243F6A88... in hex).",
)
def q23_bbp_pi_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_parts, digits_per_part = 8, 8

    def bbp_range(batches):
        import pandas as pd

        def s(j: int, d: int) -> float:
            # sum_{k=0..d} 16^(d-k)/(8k+j) mod 1, + tail
            total = 0.0
            for k in range(d + 1):
                total = (total + pow(16, d - k, 8 * k + j) / (8 * k + j)) % 1.0
            t, k = 0.0, d + 1
            while True:
                term = 16.0 ** (d - k) / (8 * k + j)
                if term < 1e-17:
                    break
                t += term
                k += 1
            return (total + t) % 1.0

        def hex_digits(start: int, count: int) -> str:
            out = []
            for i in range(count):
                d = start + i
                x = (4 * s(1, d) - 2 * s(4, d) - s(5, d) - s(6, d)) % 1.0
                out.append("0123456789ABCDEF"[int(x * 16)])
            return "".join(out)

        for pdf in batches:
            for part in pdf["id"]:
                p = int(part)
                yield pd.DataFrame(
                    {
                        "part": [p],
                        "start_digit": [p * digits_per_part],
                        "digits": [hex_digits(p * digits_per_part, digits_per_part)],
                    }
                )

    parts = spark.range(n_parts).repartition(n_parts)
    ranges = parts.mapInPandas(
        bbp_range, "part bigint, start_digit bigint, digits string"
    )
    # ordered concat = the reference's single-reducer concatenation step
    return ranges.agg(
        F.concat_ws(
            "", F.array_sort(F.collect_list(F.struct("start_digit", "digits"))).getField("digits")
        ).alias("pi_hex"),
        F.count("*").cast("bigint").alias("n_parts"),
    )


# ---------------------------------------------------------------------------
# Q26/Q27 Pentomino + Sudoku — EX/dancing/DistributedPentomino.java:45-71,
# Sudoku.java. Distributed exact-cover via search-tree prefix fan-out.
# ---------------------------------------------------------------------------

# 15x4 board (~105s single-threaded, prefix-parallelized here). The solution
# counts are famous public constants.
_PENT_W, _PENT_H = 15, 4
_PENT_RAW, _PENT_DISTINCT = 1472, 368


@register(
    "q26_pentomino",
    f"""
    SELECT CAST({_PENT_DISTINCT} AS BIGINT) AS n_distinct,
           CAST({_PENT_RAW} AS BIGINT) AS n_raw
    """,
    doc=f"DistributedPentomino on {_PENT_W}x{_PENT_H}: Algorithm X subtrees "
        "fanned out one prefix per task; counts pinned to the public "
        "pentomino solution constants (368 distinct on 4x15)",
)
def q26_pentomino(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dancing import solve_pentomino

    # depth 3 ≈ 1.4k prefixes on 4x15: finer subtrees even out the heavy
    # branches (9.5s vs 15.9s wall at depth 2 on 32 cores)
    sols = solve_pentomino(spark, width=_PENT_W, height=_PENT_H, depth=3)
    return sols.agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum("n_raw").cast("bigint").alias("n_raw"),
    )


# The puzzle removes 30 cells from an independently-constructed valid grid
# (row i = cyclic shift of 1..9); the solver must recover EXACTLY that grid,
# so the oracle constant is not derived from the solver under test.
_SUDOKU_PUZZLE = (
    "123400089456089120009003456034060090060891204001204060045078900600910345012345678"
)
_SUDOKU_SOLUTION = (
    "123456789456789123789123456234567891567891234891234567345678912678912345912345678"
)


@register(
    "q27_sudoku",
    f"""
    SELECT CAST(0 AS BIGINT) AS puzzle_id,
           '{_SUDOKU_SOLUTION}' AS solution,
           CAST(1 AS INTEGER) AS n_solutions
    """,
    doc="Sudoku (EX/dancing/Sudoku.java): 9x9 exact cover (324 constraint "
        "columns) over the same Algorithm X engine; the unique solution "
        "must equal the independently-constructed source grid",
)
def q27_sudoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dancing import solve_sudokus

    puzzles = spark.createDataFrame(
        [(0, _SUDOKU_PUZZLE)], "puzzle_id bigint, puzzle string"
    )
    return solve_sudokus(spark, puzzles)
