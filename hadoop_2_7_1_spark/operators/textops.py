"""Text-analysis operators for corpus curation (north-star additions).

All pure Column expressions — language ID, quality scoring, token counting
and fingerprinting run inside whole-stage codegen at full scan speed; there
is no Python in the hot path.

Every operator over a documents frame reads the table's own columns:
``doc_id`` and ``text``, plus ``lang`` or ``source`` where it uses them, and
only those. A hand-built frame names its columns that way. Whitespace
tokens come from :func:`_tokens`, subtokens from :func:`_subtokens` and
adjacent token pairs from :func:`_bigrams`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import WS, WS_SQL, oracle_hash32, sql_regex, ws_tokens_sql
from . import release_checkpoint

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
SUBTOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "las", "y", "es", "una"],
}
_LANG_PRIORITY = ["en", "de", "fr", "es"]  # deterministic tie-break order

# Spark SQL arrays of the text column: whitespace tokens and subtokens.
_TOKS = ws_tokens_sql("text")
_SUBTOKS = f"regexp_extract_all(text, '{sql_regex(SUBTOKEN_RE)}', 0)"
# A token's BPE symbols before any merge: its characters. '' is the merge
# fold's no-carry sentinel (_bpe_apply_expr), so it never becomes a symbol.
_SYMS = "filter(split(tok, ''), s -> s <> '')"


def _id():
    """The ``id`` output column: ``doc_id`` as BIGINT."""
    return F.col("doc_id").cast("bigint").alias("id")


def _tokens(docs: DataFrame, *keep) -> DataFrame:
    """(*keep, tok): one row per whitespace token of ``text``."""
    return docs.select(*keep, F.explode(F.expr(_TOKS)).alias("tok"))


def _subtokens(docs: DataFrame, *keep, pos: bool = False) -> DataFrame:
    """(*keep, [pos,] tok): one row per :data:`SUBTOKEN_RE` match of
    ``text``, with its 0-based position ``pos`` when asked for."""
    arr = F.expr(_SUBTOKS)
    gen = F.posexplode(arr).alias("pos", "tok") if pos else F.explode(arr).alias("tok")
    return docs.select(*keep, gen)


def _bigrams(docs: DataFrame) -> DataFrame:
    """(id, w1, w2): one row per adjacent whitespace-token pair of
    ``text``; a text with fewer than two tokens has none."""
    pairs = (
        f"CASE WHEN size({_TOKS}) >= 2 THEN "
        f"transform(sequence(1, size({_TOKS}) - 1), i -> "
        f"struct(element_at({_TOKS}, i) AS w1, element_at({_TOKS}, i + 1) AS w2))"
        f" ELSE cast(array() as array<struct<w1:string,w2:string>>) END"
    )
    return docs.select(_id(), F.explode(F.expr(pairs)).alias("bg")).select(
        "id", "bg.w1", "bg.w2"
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """(id, n_chars, n_tokens, n_subtokens): whitespace + BPE-ish counts."""
    return docs.select(
        _id(),
        F.length("text").cast("bigint").alias("n_chars"),
        F.expr(f"cast(size({_TOKS}) as bigint)").alias("n_tokens"),
        F.expr(f"cast(size({_SUBTOKS}) as bigint)").alias("n_subtokens"),
    )


def oracle_token_stats(table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT CAST({id_col} AS BIGINT) AS id,
           CAST(length({text_col}) AS BIGINT) AS n_chars,
           CAST(len(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> ''))
                AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all({text_col}, '{SUBTOKEN_RE}')) AS BIGINT) AS n_subtokens
    FROM {table}
    """


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic doc quality: alpha/punct/stopword ratios + mean token length.

    score = alpha_ratio * (1 - punct_ratio) * min(1, n_tokens/20) —
    the standard cheap pre-filter shape (length-normalized, symbol-penalized)
    used before expensive model-based scoring.
    """
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return docs.select(
        _id(),
        F.expr(
            "cast(length(regexp_replace(text, '[^A-Za-z]', '')) as double)"
            " / greatest(length(text), 1)"
        ).alias("alpha_ratio"),
        F.expr(
            "cast(length(regexp_replace(text, '[A-Za-z0-9\\\\s]', '')) as double)"
            " / greatest(length(text), 1)"
        ).alias("punct_ratio"),
        F.expr(
            f"cast(size(filter({_TOKS}, t -> t in ({en}))) as double)"
            f" / greatest(size({_TOKS}), 1)"
        ).alias("stopword_ratio"),
        F.expr(
            f"cast(aggregate({_TOKS}, 0L, (acc, t) -> acc + length(t)) as double)"
            f" / greatest(size({_TOKS}), 1)"
        ).alias("mean_tok_len"),
    ).withColumn(
        "quality",
        (
            F.col("alpha_ratio")
            * (1 - F.col("punct_ratio"))
            * F.least(F.lit(1.0), F.expr("stopword_ratio * 10"))
        ).cast("double"),
    )


def oracle_quality_score(table: str, id_col: str, text_col: str) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
    WITH base AS (
      SELECT CAST({id_col} AS BIGINT) AS id,
             CAST(length(regexp_replace({text_col}, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / greatest(length({text_col}), 1) AS alpha_ratio,
             CAST(length(regexp_replace({text_col}, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
               / greatest(length({text_col}), 1) AS punct_ratio,
             CAST(len(list_filter({toks}, t -> t IN ({en}))) AS DOUBLE)
               / greatest(len({toks}), 1) AS stopword_ratio,
             CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE)
               / greatest(len({toks}), 1) AS mean_tok_len
      FROM {table}
    )
    SELECT id, alpha_ratio, punct_ratio, stopword_ratio,
           coalesce(mean_tok_len, 0.0) AS mean_tok_len,
           CAST(alpha_ratio * (1 - punct_ratio) * least(1.0, stopword_ratio * 10) AS DOUBLE)
             AS quality
    FROM base
    """


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: argmax over per-language hit counts,
    priority order breaks ties, zero hits → 'unknown'."""
    scores = {
        lang: F.expr(
            f"size(filter({_TOKS}, t -> t in ({', '.join(repr(w) for w in ws)})))"
        )
        for lang, ws in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in reversed(_LANG_PRIORITY):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return docs.select(_id(), pred.alias("pred_lang"))


def oracle_lang_id(table: str, id_col: str, text_col: str) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    score_sql = {
        lang: f"len(list_filter({toks}, t -> t IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in STOPWORDS.items()
    }
    best = f"greatest({', '.join(score_sql[lang] for lang in _LANG_PRIORITY)})"
    # Build the same priority chain: first lang in priority order hitting max.
    chain = "'unknown'"
    for lang in reversed(_LANG_PRIORITY):
        chain = (
            f"CASE WHEN {score_sql[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {chain} END"
        )
    return f"SELECT CAST({id_col} AS BIGINT) AS id, {chain} AS pred_lang FROM {table}"


def fingerprint(docs: DataFrame, ngram: int = 8, keep: int = 4) -> DataFrame:
    """Document fingerprint: the ``keep`` smallest 32-bit hashes of the doc's
    character n-grams (a min-k sketch ≈ winnowing), joined as a stable string.

    Identical fingerprints ⇒ near-identical content; the sketch is tiny and
    join-friendly at corpus scale.
    """
    grams = (
        f"CASE WHEN length(text) >= {ngram} THEN "
        f"transform(sequence(1, length(text) - {ngram - 1}),"
        f" i -> substring(text, i, {ngram})) ELSE array() END"
    )
    hashes = (
        f"transform({grams}, g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"
    )
    return docs.select(
        _id(),
        F.expr(
            f"array_join(transform(slice(array_sort(array_distinct({hashes})), 1, {keep}),"
            f" x -> cast(x as string)), ',')"
        ).alias("fp"),
    )


def oracle_fingerprint(table: str, id_col: str, text_col: str, ngram: int = 8, keep: int = 4) -> str:
    h = oracle_hash32("g")
    grams = (
        f"list_transform(range(1, greatest(length({text_col}) - {ngram - 1}, 0) + 1),"
        f" i -> substr({text_col}, i, {ngram}))"
    )
    hashes = f"list_transform({grams}, g -> {h})"
    return f"""
    SELECT CAST({id_col} AS BIGINT) AS id,
           array_to_string(list_sort(list_distinct({hashes}))[1:{keep}], ',') AS fp
    FROM {table}
    """


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

REDACT_PATTERNS: dict[str, str] = {
    # order matters: emails before bare domains would, e.g., double-redact
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+?\d{3}[-. ]\d{3,4}[-. ]\d{4}",
    "SSN": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact(col):
    """Column expression: a string column with common PII shapes replaced
    by ``[TAG]`` placeholders.

    Chained ``regexp_replace`` — stays in codegen, one pass over the string
    per pattern. The pattern registry is deliberately conservative (high
    precision); recall-oriented NER belongs in a Pandas-UDF stage.
    """
    c = F.col(col) if isinstance(col, str) else col
    for tag, pat in REDACT_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{tag}]")
    return c


def oracle_redact(text_expr: str) -> str:
    """DuckDB regexp_replace chain matching :func:`redact` ('g' = all hits)."""
    expr = text_expr
    for tag, pat in REDACT_PATTERNS.items():
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '[{tag}]', 'g')"
    return expr


# ---------------------------------------------------------------------------
# Repetition filters (Gopher/C4-style corpus hygiene)
# ---------------------------------------------------------------------------

def repetition_stats(docs: DataFrame, top_n: int = 2, dup_n: int = 3) -> DataFrame:
    """Per-document repetition measures used by the standard LLM-corpus
    quality rules (drop docs whose most-frequent 2-gram covers >20% of the
    text, or whose duplicated 3-grams cover >X%):

    - ``distinct_word_frac``: |distinct tokens| / |tokens| (array expression,
      zero shuffle)
    - ``top_ngram_frac``: occurrences of the most frequent ``top_n``-gram ×
      top_n / |tokens|
    - ``dup_ngram_frac``: total occurrences of ``dup_n``-grams appearing
      more than once × dup_n / |tokens|

    Scale shape: one explode per n-gram size feeding a two-level aggregate
    (partial map-side combine on (id, gram)); the per-doc join keys are the
    doc id, so skew equals the longest single document, not the corpus.
    """
    from ..functions import exploded_word_shingles

    base = docs.select(
        _id(),
        F.expr(f"cast(size({_TOKS}) as bigint)").alias("n_tokens"),
        F.expr(f"cast(size(array_distinct({_TOKS})) as bigint)").alias("n_distinct"),
        "text",
    )

    def gram_stats(n: int, out: str, dup: bool) -> DataFrame:
        grams = exploded_word_shingles(base.select("id", "text"), "text", n, "gram")
        counts = grams.groupBy("id", "gram").agg(F.count("*").alias("cnt"))
        if dup:
            agg = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
        else:
            agg = F.max("cnt")
        return counts.groupBy("id").agg((agg * n).cast("bigint").alias(out))

    top = gram_stats(top_n, "top_tok", dup=False)
    dup = gram_stats(dup_n, "dup_tok", dup=True)
    return (
        base.drop("text")
        .join(top, "id", "left_outer")
        .join(dup, "id", "left_outer")
        .select(
            "id",
            "n_tokens",
            (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_word_frac"),
            (F.coalesce(F.col("top_tok"), F.lit(0)) / F.col("n_tokens")).alias(
                "top_ngram_frac"
            ),
            (F.coalesce(F.col("dup_tok"), F.lit(0)) / F.col("n_tokens")).alias(
                "dup_ngram_frac"
            ),
        )
    )


def oracle_repetition_stats(
    table: str, id_col: str, text_col: str, top_n: int = 2, dup_n: int = 3
) -> str:
    from ..functions import oracle_word_shingles

    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    top_sh = oracle_word_shingles(text_col, top_n)
    dup_sh = oracle_word_shingles(text_col, dup_n)
    return f"""
    WITH base AS (
      SELECT {id_col} AS id, len({toks}) AS n_tokens,
             len(list_distinct({toks})) AS n_distinct
      FROM {table}
    ), topg AS (
      SELECT id, max(cnt) * {top_n} AS top_tok FROM (
        SELECT id, gram, count(*) AS cnt FROM (
          SELECT {id_col} AS id, unnest({top_sh}) AS gram FROM {table}
        ) GROUP BY 1, 2
      ) GROUP BY id
    ), dupg AS (
      SELECT id, sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * {dup_n} AS dup_tok
      FROM (
        SELECT id, gram, count(*) AS cnt FROM (
          SELECT {id_col} AS id, unnest({dup_sh}) AS gram FROM {table}
        ) GROUP BY 1, 2
      ) GROUP BY id
    )
    SELECT CAST(base.id AS BIGINT) AS id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_word_frac,
           CAST(coalesce(top_tok, 0) AS DOUBLE) / n_tokens AS top_ngram_frac,
           CAST(coalesce(dup_tok, 0) AS DOUBLE) / n_tokens AS dup_ngram_frac
    FROM base
    LEFT JOIN topg ON base.id = topg.id
    LEFT JOIN dupg ON base.id = dupg.id
    """


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------

def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    ngram: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """(id, n_hits): training docs sharing at least one ``ngram``-gram with
    the benchmark set — the standard test-set-decontamination pass run
    before training.

    Scale shape: inverted-index equi-join on the n-gram (never a cartesian).
    Benchmark suites are small, so their distinct n-gram set broadcasts and
    the corpus side is a single scan + map-side semi-join + one aggregate;
    set ``broadcast_benchmark=False`` to fall back to a shuffle join when
    the held-out side is itself corpus-sized.
    """
    from ..functions import exploded_word_shingles

    d = exploded_word_shingles(
        docs.select(_id(), "text"), "text", ngram, "gram"
    ).distinct()
    b = exploded_word_shingles(benchmark.select("text"), "text", ngram, "gram").distinct()
    if broadcast_benchmark:
        b = F.broadcast(b)
    return (
        d.join(b, "gram")
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )


def oracle_contamination(
    docs_sql: str, bench_sql: str, id_col: str, text_col: str, ngram: int = 5
) -> str:
    from ..functions import oracle_word_shingles

    sh = oracle_word_shingles(text_col, ngram)
    return f"""
    WITH d AS (
      SELECT DISTINCT {id_col} AS id, unnest({sh}) AS gram FROM ({docs_sql})
    ), b AS (
      SELECT DISTINCT unnest({sh}) AS gram FROM ({bench_sql})
    )
    SELECT CAST(d.id AS BIGINT) AS id, CAST(count(*) AS BIGINT) AS n_hits
    FROM d JOIN b ON d.gram = b.gram
    GROUP BY d.id
    """


# ---------------------------------------------------------------------------
# Corpus term weighting: TF-IDF and BM25 — the inverted-index shape (term-
# keyed aggregation + join back) that underlies retrieval-based curation.
# ---------------------------------------------------------------------------


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document (idf = ln(N/df), ties by term).

    Scale shape: tf is a (doc, term) partial+final aggregate over the token
    explode; df aggregates tf again keyed by term (tiny: vocabulary-sized);
    the scalar N broadcasts. The join back to tf is term-keyed — vocabulary
    is orders of magnitude smaller than the corpus, so it broadcasts in
    practice; here it stays a plain equi-join so the plan is the same at any
    vocabulary size.
    """
    tf = _tokens(docs, "doc_id").groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            # rounded to 6 decimals: ln() can differ across engines in the
            # last ulp, which would both flip the rank order between
            # near-equal scores and break the exact value hash
            "tfidf",
            (F.col("tf").cast("double")
             * F.log(F.col("n_docs").cast("double") / F.col("df")))
            .cast("decimal(38,6)")
            .cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("doc_id").cast("bigint"),
            F.col("tok").alias("term"),
            F.col("tf").cast("bigint"),
            F.col("df").cast("bigint"),
            "tfidf",
            F.col("rnk").cast("bigint"),
        )
    )


def oracle_tfidf_top_terms(table: str, id_col: str, text_col: str, k: int = 5) -> str:
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id,
             unnest(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                                t -> t <> '')) AS term
      FROM {table}
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM {table}),
    scored AS (
      SELECT doc_id, term, tf, df,
             CAST(CAST(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df)
                       AS DECIMAL(38,6)) AS DOUBLE) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a bag-of-terms query.

    idf uses the standard +1 form (always positive); dl/avgdl come from the
    same token array as tf. The corpus is exploded ONCE: document length and
    per-query-term tf come out of a single doc-keyed aggregate (the query
    terms pivot into columns, then stack back to rows), so the scan+explode
    — the dominant cost — is not repeated per statistic.

    The score column is named so the unique doc_id leads the oracle
    comparator's alphabetical column sort: ln() can differ at the last ulp
    across engines, and a float-led row sort would flip neighbors.
    """
    per_doc = _tokens(docs, "doc_id").groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"__tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stack_args = ", ".join(f"'{t}', __tf{i}" for i, t in enumerate(query_terms))
    tf = per_doc.selectExpr(
        "doc_id", "dl", f"stack({len(query_terms)}, {stack_args}) AS (term, tf)"
    ).filter(F.col("tf") > 0)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = per_doc.agg(
        F.count("*").alias("n_docs"), F.avg("dl").cast("double").alias("avgdl")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    # per-term parts rounded to 6 decimals (ln ulp drift across engines),
    # then summed exactly as decimal — score is order-independent
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn("part", (idf * tf_part).cast("decimal(38,6)"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("part").cast("double").alias("score_bm25")
    ).select(F.col("doc_id").cast("bigint"), "score_bm25")


def oracle_bm25_scores(
    table: str, id_col: str, text_col: str, query_terms: list[str],
    k1: float = 1.2, b: float = 0.75,
) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id,
             unnest(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                                t -> t <> '')) AS term
      FROM {table}
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ({terms_sql}) GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), stats AS (
      SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
    ), scored AS (
      SELECT tf.doc_id,
             CAST(ln(CAST(n_docs - df + 0.5 AS DOUBLE)
                     / CAST(df + 0.5 AS DOUBLE) + 1.0)
                  * (tf * (CAST({k1!r} AS DOUBLE) + 1))
                  / (tf + CAST({k1!r} AS DOUBLE)
                          * (1 - CAST({b!r} AS DOUBLE)
                             + CAST({b!r} AS DOUBLE) * dl / avgdl))
                  AS DECIMAL(38,6)) AS part
      FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(sum(part) AS DOUBLE) AS score_bm25
    FROM scored GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Vocabulary induction + out-of-vocabulary profiling — the tokenizer-prep
# step of a pre-training pipeline (frequency-ranked subword vocabulary,
# then corpus OOV rates against it).
# ---------------------------------------------------------------------------


def induce_vocab(docs: DataFrame, size: int = 256) -> DataFrame:
    """Top-``size`` subtokens by corpus frequency with deterministic ids
    (rank by count desc, token asc — id 0 is the most frequent).

    Scale shape: the count is the wordcount aggregate (map-side partial);
    top-V selection is a distributed sort + limit; the id-assigning window
    runs over the V selected rows only (vocabulary scale, not data scale).
    """
    counts = _subtokens(docs).groupBy("tok").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(size)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return top.withColumn("token_id", (F.row_number().over(w) - 1).cast("bigint")).select(
        F.col("tok").alias("token"), F.col("n").cast("bigint"), "token_id"
    )


def oov_stats(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-doc subtoken count, OOV count, and OOV rate against ``vocab``
    (broadcast — a vocabulary fits in memory by definition)."""
    marked = _subtokens(docs, "doc_id").join(
        F.broadcast(vocab.select(F.col("token").alias("tok"), F.lit(True).alias("__in"))),
        "tok",
        "left",
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sub"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).cast("bigint").alias("n_oov"),
        (
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
            / F.count("*")
        ).cast("double").alias("rate_oov"),
    )


def oracle_vocab_ctes(table: str, text_col: str, size: int) -> str:
    """Shared CTEs: subtoken stream + ranked top-``size`` vocabulary."""
    return f"""
    toks AS (
      SELECT doc_id, unnest(regexp_extract_all({text_col}, '{SUBTOKEN_RE}')) AS tok
      FROM {table}
    ), vocab AS (
      SELECT tok AS token, n, CAST(row_number() OVER (ORDER BY n DESC, tok) - 1 AS BIGINT) AS token_id
      FROM (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
      QUALIFY token_id < {size}
    )"""


def oracle_induce_vocab(table: str, text_col: str = "text", size: int = 256) -> str:
    return f"""
    WITH {oracle_vocab_ctes(table, text_col, size)}
    SELECT token, CAST(n AS BIGINT) AS n, token_id FROM vocab
    """


def oracle_oov_stats(table: str, text_col: str = "text", size: int = 256) -> str:
    return f"""
    WITH {oracle_vocab_ctes(table, text_col, size)}
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_sub,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS DOUBLE) AS rate_oov
    FROM toks t LEFT JOIN vocab v ON t.tok = v.token
    GROUP BY t.doc_id
    """


def encode_ids(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode every doc's subtoken stream to vocabulary ids (OOV = -1),
    preserving order; emits the id-sequence digest rather than the raw
    array so the output stays row-sized regardless of document length.

    Scale shape: posexplode + broadcast vocab join (a vocabulary fits in
    memory by definition), then one per-doc aggregate whose collect_list is
    bounded by the doc's own length — the same memory envelope as holding
    the document.
    """
    joined = _subtokens(docs, "doc_id", pos=True).join(
        F.broadcast(vocab.select(F.col("token").alias("tok"), "token_id")),
        "tok",
        "left",
    ).select(
        "doc_id", "pos", F.coalesce(F.col("token_id"), F.lit(-1)).alias("tid")
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_ids"),
        F.md5(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, tid))), x -> cast(x.tid as string))"),
                ",",
            ).cast("binary")
        ).alias("ids_md5"),
    ).select(F.col("doc_id").cast("bigint"), "ids_md5", "n_ids")


def oracle_encode_ids(table: str, text_col: str = "text", size: int = 256) -> str:
    return f"""
    WITH {oracle_vocab_ctes(table, text_col, size)},
    tl AS (
      SELECT doc_id, regexp_extract_all({text_col}, '{SUBTOKEN_RE}') AS tk
      FROM {table}
    ), idx AS (
      SELECT doc_id, tk, unnest(range(len(tk))) AS pos FROM tl WHERE len(tk) > 0
    ), tok_rows AS (
      SELECT doc_id, pos, tk[pos + 1] AS tok FROM idx
    ), ids AS (
      SELECT t.doc_id, t.pos, coalesce(v.token_id, -1) AS tid
      FROM tok_rows t LEFT JOIN vocab v ON t.tok = v.token
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5,
           CAST(count(*) AS BIGINT) AS n_ids
    FROM ids GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Winnowing (positional fingerprint selection, Schleimer-Wilkerson-Aiken)
# ---------------------------------------------------------------------------

def winnow_fingerprints(docs: DataFrame, ngram: int = 8, window: int = 16) -> DataFrame:
    """Winnowed fingerprint set per document: hash every character
    ``ngram``, then keep the minimum hash of every sliding window of
    ``window`` consecutive hashes.

    Unlike the global min-k sketch (:func:`fingerprint`), winnowing is
    *positional*: any shared substring of length >= window + ngram - 1
    between two documents is guaranteed to contribute at least one common
    fingerprint — the local-match guarantee that makes it the standard
    scheme for plagiarism/overlap detection. Density ~= 2/(window+1).

    Per-row work is O(n_chars * window) over in-row arrays (sequence +
    transform + array_min), no explode, no shuffle; the output sketch is
    join-friendly: (id, n_fp, fp_set as sorted comma string).

    The gram/hash arrays are STAGED as intermediate projections — each
    downstream stage references its input array several times, and Spark's
    CollapseProject deliberately refuses to inline non-cheap expressions
    used more than once, so each array is materialized once per row instead
    of the expression tree re-expanding multiplicatively (the naive single
    expression is ~50x slower).
    """
    grams = (
        f"CASE WHEN length(text) >= {ngram} THEN "
        f"transform(sequence(1, length(text) - {ngram - 1}), i -> substring(text, i, {ngram})) "
        f"ELSE array() END"
    )
    hashes = "transform(__grams, g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"
    mins = (
        f"CASE WHEN size(__hs) >= {window} THEN "
        f"array_distinct(transform(sequence(1, size(__hs) - {window - 1}),"
        f" j -> array_min(slice(__hs, j, {window})))) "
        f"ELSE array_distinct(array(array_min(__hs))) END"
    )
    return (
        docs.select(_id(), F.expr(grams).alias("__grams"))
        .select("id", F.expr(hashes).alias("__hs"))
        .select("id", F.expr(mins).alias("__mins"))
        .select("id", F.expr("array_sort(__mins)").alias("__sel"))
        .select(
            "id",
            F.expr("cast(size(__sel) as bigint)").alias("n_fp"),
            F.expr("array_join(transform(__sel, x -> cast(x as string)), ',')").alias("fp_set"),
        )
    )


def oracle_winnow_fingerprints(
    table: str, id_col: str, text_col: str, ngram: int = 8, window: int = 16
) -> str:
    t = text_col
    h = oracle_hash32("g")
    grams = (
        f"list_transform(range(1, greatest(length({t}) - {ngram - 1}, 0) + 1),"
        f" i -> substr({t}, i, {ngram}))"
    )
    return f"""
    WITH hashed AS (
      SELECT {id_col} AS id, list_transform({grams}, g -> {h}) AS hs FROM {table}
    ), sel AS (
      SELECT id,
             list_sort(list_distinct(
               CASE WHEN len(hs) >= {window}
                    THEN list_transform(range(1, len(hs) - {window - 1} + 1),
                                        j -> list_min(hs[j:j+{window - 1}]))
                    ELSE [list_min(hs)] END)) AS fps
      FROM hashed
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(len(fps) AS BIGINT) AS n_fp,
           array_to_string(fps, ',') AS fp_set
    FROM sel
    """


# ---------------------------------------------------------------------------
# Unigram language-model scoring — the classic cheap LM-quality signal for
# corpus filtering (per-doc mean log p(token) under the corpus unigram
# distribution; low scores flag gibberish / OCR noise / wrong-language docs).
# No reference analogue (north-star text analysis).
# ---------------------------------------------------------------------------

def unigram_logprob(docs: DataFrame) -> DataFrame:
    """(id, n_tokens, avg_logprob): mean ln p(tok) per doc under the
    corpus-wide unigram MLE.

    Plan shape at 100 TB: one token-count aggregation (map-side combined,
    vocab-sized result), the scalar total broadcast via a 1-row cross join,
    then one shuffle of the token stream on `tok` for the count join and a
    final per-doc aggregation. The corpus is never collected; the only
    driver-sized object is the plan itself.
    """
    toks = _tokens(docs, _id())
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    # ln() differs across engines in the last ulp, and a per-doc double mean
    # depends on summation order — round each token logprob to 6 decimals
    # (identical on both sides) and average via an exact decimal sum, so the
    # result is a pure function of the token multiset.
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.log(F.col("cnt") / F.col("tot")).cast("decimal(38,6)").alias("lp"),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        (F.sum("lp").cast("double") / F.count("*")).alias("avg_logprob"),
    )


def oracle_unigram_logprob(table: str, id_col: str, text_col: str) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id, unnest({toks}) AS tok FROM {table}
    ), counts AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), total AS (SELECT sum(cnt) AS tot FROM counts)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(ln(CAST(cnt AS DOUBLE) / tot) AS DECIMAL(38,6))) AS DOUBLE)
           / count(*) AS avg_logprob
    FROM toks JOIN counts USING (tok), total
    GROUP BY id
    """


# ---------------------------------------------------------------------------
# BPE merge training — tokenizer-prep's core loop (Sennrich et al. 2016,
# "Neural Machine Translation of Rare Words with Subword Units", public):
# repeatedly merge the most frequent adjacent symbol pair. Iterative
# corpus-scale algorithm in the same family as pagerank/dup-clusters.
# ---------------------------------------------------------------------------

def bpe_merges(docs: DataFrame, n_merges: int = 6) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns (rank, left,
    right, pair_count) — the ordered merge table a tokenizer would ship.

    Distributed shape per round (the part that must survive 100 TB):
    - The corpus compresses to a WORD-FREQUENCY table once (one shuffle,
      vocab-sized — Zipf makes this tiny relative to the corpus) and the
      loop runs over that table, exactly how production BPE trainers work.
    - Each round: explode adjacent symbol pairs weighted by word count →
      map-side-combined count → global top-1 (count desc, pair asc for
      determinism) — a k-element reduce, not a sort.
    - The merges found so far are applied with JVM-side aggregate
      expressions (no Python in the loop).

    Only the merge table (n_merges rows) ever reaches the driver; the
    returned frame is built from it and reads nothing the loop persisted.
    """
    rows = [(rank, l, r, cnt) for rank, (l, r, cnt) in enumerate(_bpe_train(docs, n_merges))]
    return docs.sparkSession.createDataFrame(
        rows, "rank bigint, left string, right string, pair_count bigint"
    )


def _bpe_train(docs: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """The BPE training loop of :func:`bpe_merges`: the ordered merges
    ``(left, right, pair_count)``, at most ``n_merges`` of them.

    The word-frequency table is checkpointed once and released before
    returning. Each round re-derives the segmentation from it by applying
    every merge found so far — a narrow map over a vocabulary-scale table —
    so no round's frame is checkpointed and the plan stays one fold deep
    per merge. A local checkpoint keeps the partitioning AQE chose for the
    table; persist() would pin the 32 pre-AQE shuffle partitions and every
    round would run 32 tasks (measured at sf0.01 on 4 cores: 3.7–4.1 s against
    1.5–1.9 s for the six rounds).
    """
    words = (
        _tokens(docs)
        .groupBy("tok")
        .agg(F.count("*").alias("wc"))
        .select(F.expr(_SYMS).alias("syms"), "wc")
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            syms = F.expr(_bpe_apply_expr("syms", merges)).alias("syms")
            pairs = words.select(syms, "wc").select(
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (s, i) -> struct(s AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
                "wc",
            ).where(F.col("p.l").isNotNull() & F.col("p.r").isNotNull())
            top = (
                pairs.groupBy("p")
                .agg(F.sum("wc").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("p.l"), F.col("p.r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            merges.append((top[0].p.l, top[0].p.r, int(top[0].cnt)))
    finally:
        release_checkpoint(words)
    return merges


def _bpe_apply_expr(col: str, merges) -> str:
    """JVM folds applying ``merges`` ((left, right, count) in rank order) to
    a symbol array expression: the standard left-to-right greedy pair join
    of BPE application, one fold per merge."""
    for l, r, _cnt in merges:
        col = f"""
        aggregate(
          {col},
          struct(CAST(array() AS ARRAY<STRING>) AS acc, CAST('' AS STRING) AS carry),
          (st, s) -> CASE
            WHEN st.carry = '' THEN struct(st.acc AS acc, s AS carry)
            WHEN st.carry = {_sq(l)} AND s = {_sq(r)}
              THEN struct(st.acc AS acc, {_sq(l + r)} AS carry)
            ELSE struct(array_append(st.acc, st.carry) AS acc, s AS carry)
          END,
          st -> CASE WHEN st.carry = '' THEN st.acc
                     ELSE array_append(st.acc, st.carry) END
        )
        """
    return col


def _sq(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_encoded(docs: DataFrame, n_merges: int, *keep) -> DataFrame:
    """(*keep, tok, w_syms): every whitespace token of ``docs`` with its
    symbol count under the corpus's first ``n_merges`` BPE merges.

    Word-level memoization (the production tokenizer-application trick):
    the merge folds are a pure function of the word, and Zipf makes the
    vocabulary tiny relative to the token stream — encode each DISTINCT
    word once, then join the per-word symbol count back onto the
    occurrences (vocabulary-sized side, broadcastable).
    """
    syms = _bpe_apply_expr(_SYMS, _bpe_train(docs, n_merges))
    words = _tokens(docs, *keep)
    vocab = words.select("tok").distinct().select(
        "tok", F.size(F.expr(syms)).alias("w_syms")
    )
    return words.join(F.broadcast(vocab), "tok")


def linear_score(docs: DataFrame, n_buckets: int = 1024, w_range: int = 1000) -> DataFrame:
    """fastText-style hashed-linear quality scoring, applied map-only:
    token -> hashed bucket -> weight, per-doc mean activation through a
    sigmoid. The weight table here is a deterministic hash-derived stand-in
    (integer milliweights in [-w_range, w_range]); a production run swaps in
    real trained weights as a broadcast bucket->weight table — the plan
    shape (explode + integer sum per doc, zero joins on the corpus side) is
    identical.

    Determinism: the logit accumulates as an INTEGER sum of milliweights
    (exact at any parallelism); the only floats are one division chain and
    the sigmoid, whose exp() ulp drift is absorbed by rounding the score to
    6 decimals — same on the oracle side.
    """
    from ..functions import hex_hash32

    toks = _tokens(docs, _id())
    bucket = hex_hash32(F.col("tok")) % n_buckets
    milli_w = (
        hex_hash32(bucket.cast("string"), salt="w") % (2 * w_range + 1) - w_range
    )
    per_doc = toks.select("id", milli_w.alias("mw")).groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("mw").alias("z_milli"),
    )
    z = F.col("z_milli").cast("double") / F.lit(1000.0) / F.col("n_tokens")
    return per_doc.select(
        "id",
        "n_tokens",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("score_linear"),
    )


def oracle_linear_score(
    table: str, id_col: str, text_col: str, n_buckets: int = 1024, w_range: int = 1000
) -> str:
    from ..functions import oracle_hash32

    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    h_tok = oracle_hash32("tok")
    h_w = oracle_hash32(f"CAST(({h_tok}) % {n_buckets} AS VARCHAR)", salt="w")
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id, unnest({toks}) AS tok FROM {table}
    ), per_doc AS (
      SELECT id, count(*) AS n_tokens,
             sum(({h_w}) % {2 * w_range + 1} - {w_range}) AS z_milli
      FROM toks GROUP BY id
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(1.0 / (1.0 + exp(-(CAST(z_milli AS DOUBLE) / 1000.0 / n_tokens)))
                     AS DECIMAL(38,6)) AS DOUBLE) AS score_linear
    FROM per_doc
    """


def oracle_bpe_merges(table: str, text_col: str, n_merges: int = 6) -> str:
    """DuckDB replay of :func:`bpe_merges` — unrolled rounds over the same
    word-frequency table.

    Each word's segmentation is a string with chr(31) BEFORE every symbol
    ("\\x1fa\\x1fb\\x1fc"); applying merge (l, r) is then
    ``replace(s, sep||l||sep||r, sep||l||r)``: SQL replace scans left to
    right and resumes AFTER each replacement, which reproduces the engine's
    greedy carry fold exactly (e.g. [a,a,a] -> [aa,a], [a,a,b] with (a,b)
    -> [a,ab]). chr(31) never occurs in whitespace-split tokens of the
    test corpora."""
    sep = "chr(31)"
    sql = f"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                                t -> t <> '')) AS w
      FROM {table}
    ),
    wf AS MATERIALIZED (SELECT w, count(*) AS wc FROM toks GROUP BY w),
    w0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', {sep} || '\\1', 'g') AS s, wc FROM wf)"""
    for i in range(n_merges):
        sql += f""",
    t{i} AS MATERIALIZED (
      SELECT l, r, sum(wc) AS cnt FROM (
        SELECT syms[g] AS l, syms[g + 1] AS r, wc FROM (
          SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS g
          FROM (SELECT list_filter(str_split(s, {sep}), x -> x <> '') AS syms, wc
                FROM w{i})
        )
      ) GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1
    ),
    w{i + 1} AS MATERIALIZED (
      SELECT replace(s, {sep} || t{i}.l || {sep} || t{i}.r,
                     {sep} || t{i}.l || t{i}.r) AS s, wc
      FROM w{i}, t{i}
    )"""
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, l AS \"left\", r AS \"right\", "
        f"CAST(cnt AS BIGINT) AS pair_count FROM t{i}"
        for i in range(n_merges)
    )
    sql += f"""
    SELECT * FROM ({unions})
    """
    return sql


# ---------------------------------------------------------------------------
# HTML text extraction — the crawl-to-text step (strip script/style/tags,
# unescape entities, collapse whitespace). Regex-only (RE2-safe patterns,
# no backreferences), so the identical chain runs JVM-side and in DuckDB.
# ---------------------------------------------------------------------------

_HTML_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level closers become hard breaks before tag stripping
    (r"(?i)</(p|div|h[1-6]|li|tr|table)>", "\n"),
    (r"(?i)<br[^>]*>", "\n"),
    (r"(?s)<[^>]+>", " "),
]

_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST, so &amp;lt; decodes to &lt; not <
]


def html_to_text(col):
    """Column expression: visible text of an HTML column.

    Mirrors the standard crawl-extraction chain (script/style/comment
    removal, block tags → newlines, tag strip, entity unescape, whitespace
    collapse). Pure JVM ``regexp_replace``/``replace`` — stays in codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in _HTML_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n+", "\n")
    # trim() strips spaces only — take leading/trailing newlines too
    return F.regexp_replace(F.trim(c), r"^\n+|\n+$", "")


def oracle_html_to_text(expr: str) -> str:
    """DuckDB fragment: the identical extraction chain (RE2 regexes)."""
    c = expr
    for pat, rep in _HTML_STEPS:
        c = f"regexp_replace({c}, '{pat}', '{rep}', 'g')"
    for ent, ch in _HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        c = f"replace({c}, '{ent}', '{ch_sql}')"
    c = f"regexp_replace({c}, '[ \\t\\r\\f]+', ' ', 'g')"
    # DuckDB/RE2 interprets '\n' in the PATTERN but not in the REPLACEMENT
    # string — use chr(10) there
    c = f"regexp_replace({c}, ' ?\\n ?', chr(10), 'g')"
    c = f"regexp_replace({c}, '\\n+', chr(10), 'g')"
    return f"regexp_replace(trim({c}), '^\\n+|\\n+$', '', 'g')"


# ---------------------------------------------------------------------------
# Gopher-style composite rule filter
# ---------------------------------------------------------------------------

# Required-stopword list from the public Gopher paper (Rae et al. 2021,
# table A1 prose): a doc must contain >= 2 of these to pass.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame, min_words: int = 50, max_words: int = 100_000
) -> DataFrame:
    """Composite document-quality rule filter (Gopher / MassiveText style).

    Emits every rule metric plus a single ``keep`` verdict:
      * word count in [min_words, max_words]
      * mean word length in [3, 10]
      * symbol-to-word ratio (``#`` or ``...``) < 0.1
      * >80% of words contain at least one alphabetic character
      * >= 2 of the 8 required stopwords present
      * <90% of lines start with a bullet, <30% end with an ellipsis

    All metrics are single-pass Column expressions over the tokenized text —
    no Python, no shuffle; at 100 TB this is a pure map stage that fuses into
    the scan (reference analogue: a chained filter Mapper, cf.
    MRC/mapreduce/lib/map/RegexMapper.java used as a gate).
    """
    lines = "split(text, '\\n')"
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    out = docs.select(
        _id(),
        F.expr(f"cast(size({_TOKS}) as bigint)").alias("n_words"),
        F.expr(
            f"cast(aggregate({_TOKS}, 0L, (acc, t) -> acc + length(t)) as double)"
            f" / greatest(size({_TOKS}), 1)"
        ).alias("mean_word_len"),
        F.expr(
            "cast(size(split(text, '#', -1)) - 1"
            " + size(split(text, '\\\\.\\\\.\\\\.', -1)) - 1 as double)"
            f" / greatest(size({_TOKS}), 1)"
        ).alias("symbol_word_ratio"),
        F.expr(
            f"cast(size(filter({_TOKS}, t -> t rlike '[A-Za-z]')) as double)"
            f" / greatest(size({_TOKS}), 1)"
        ).alias("alpha_word_ratio"),
        F.expr(
            f"cast(size(filter(array({stops}),"
            f" s -> exists({_TOKS}, t -> lower(t) = s))) as bigint)"
        ).alias("stop_hits"),
        F.expr(
            f"cast(size(filter({lines}, l -> trim(l) rlike '^[-*•]'))"
            f" as double) / greatest(size({lines}), 1)"
        ).alias("bullet_line_ratio"),
        F.expr(
            f"cast(size(filter({lines}, l -> trim(l) rlike '(\\\\.\\\\.\\\\.|…)$'))"
            f" as double) / greatest(size({lines}), 1)"
        ).alias("ellipsis_line_ratio"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("alpha_word_ratio") > 0.8)
        & (F.col("stop_hits") >= 2)
        & (F.col("bullet_line_ratio") < 0.9)
        & (F.col("ellipsis_line_ratio") < 0.3),
    )


def oracle_gopher_rules(
    table: str,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    lines = f"string_split({text_col}, chr(10))"
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    return f"""
    WITH m AS (
      SELECT CAST({id_col} AS BIGINT) AS id,
             CAST(len({toks}) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform({toks}, t -> length(t))), 0) AS DOUBLE)
               / greatest(len({toks}), 1) AS mean_word_len,
             CAST(len(string_split({text_col}, '#')) - 1
                  + len(str_split_regex({text_col}, '\\.\\.\\.')) - 1 AS DOUBLE)
               / greatest(len({toks}), 1) AS symbol_word_ratio,
             CAST(len(list_filter({toks}, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
               / greatest(len({toks}), 1) AS alpha_word_ratio,
             CAST(len(list_filter([{stops}],
                  s -> len(list_filter({toks}, t -> lower(t) = s)) > 0)) AS BIGINT)
               AS stop_hits,
             CAST(len(list_filter({lines}, l -> regexp_matches(trim(l), '^[-*•]')))
                  AS DOUBLE) / greatest(len({lines}), 1) AS bullet_line_ratio,
             CAST(len(list_filter({lines}, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                  AS DOUBLE) / greatest(len({lines}), 1) AS ellipsis_line_ratio
      FROM {table}
    )
    SELECT *,
           (n_words BETWEEN {min_words} AND {max_words}
            AND mean_word_len BETWEEN 3 AND 10
            AND symbol_word_ratio < 0.1
            AND alpha_word_ratio > 0.8
            AND stop_hits >= 2
            AND bullet_line_ratio < 0.9
            AND ellipsis_line_ratio < 0.3) AS keep
    FROM m
    """


# ---------------------------------------------------------------------------
# Luhn-validated numeric PII detection
# ---------------------------------------------------------------------------

# 13-19 digits with optional single space/dash separators. No lookarounds:
# the oracle's RE2 engine lacks them; greedy leftmost matching is identical
# in Java regex and RE2 for this pattern.
_CARD_CAND_RE = "[0-9](?:[ -]?[0-9]){12,18}"


def _luhn_spark(cand: str) -> str:
    """Spark SQL boolean fragment: candidate string passes the Luhn check."""
    d = f"regexp_replace({cand}, '[ -]', '')"
    digit = f"cast(substring(reverse({d}), i, 1) as int)"
    return (
        f"aggregate(sequence(1, length({d})), 0, (acc, i) -> acc + "
        f"CASE WHEN i % 2 = 1 THEN {digit} "
        f"WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 ELSE {digit} * 2 END) % 10 = 0"
    )


def pii_luhn(docs: DataFrame) -> DataFrame:
    """Count card-number-shaped digit runs and how many pass the Luhn
    checksum — the high-precision step that separates real card numbers
    from phone numbers/ids sharing the digit-run shape.

    Candidate extraction and the checksum are pure Column expressions
    (regexp_extract_all + a nested higher-order aggregate), so detection
    runs at scan speed with no Python; the redaction twin would substitute
    only validated spans.
    """
    cands = f"regexp_extract_all(text, '{_CARD_CAND_RE}', 0)"
    return docs.select(
        _id(),
        F.expr(f"cast(size({cands}) as bigint)").alias("n_candidates"),
        F.expr(
            f"cast(size(filter({cands}, c -> {_luhn_spark('c')})) as bigint)"
        ).alias("n_luhn_valid"),
    )


def _luhn_duckdb(cand: str) -> str:
    d = f"regexp_replace({cand}, '[ -]', '', 'g')"
    digit = f"CAST(substr(reverse({d}), i, 1) AS INT)"
    return (
        f"list_sum(list_transform(range(1, length({d}) + 1), i -> "
        f"CASE WHEN i % 2 = 1 THEN {digit} "
        f"WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 ELSE {digit} * 2 END)) % 10 = 0"
    )


def oracle_pii_luhn(table: str, id_col: str, text_col: str) -> str:
    cands = f"regexp_extract_all({text_col}, '{_CARD_CAND_RE}')"
    return f"""
    SELECT CAST({id_col} AS BIGINT) AS id,
           CAST(len({cands}) AS BIGINT) AS n_candidates,
           CAST(len(list_filter({cands}, c -> {_luhn_duckdb('c')})) AS BIGINT)
             AS n_luhn_valid
    FROM {table}
    """


# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring (CCNet-style perplexity filtering)
# ---------------------------------------------------------------------------

BIGRAM_LAMBDA = 0.7  # interpolation weight on the bigram term


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """(id, n_bigrams, avg_logprob): mean ln of the interpolated bigram
    probability λ·c(w1 w2)/c(w1) + (1−λ)·c(w2)/N under corpus-wide MLE
    counts — the Jelinek-Mercer-smoothed LM used for perplexity-style
    quality filtering (CCNet shape, trained on the corpus itself).

    Plan shape: token and bigram count tables are vocab-sized aggregates
    (map-side combined); the scoring pass joins the bigram stream to the
    three count tables on their own keys — every shuffle equi-keyed on a
    uniform token hash. Per-bigram logprobs round to DECIMAL(38,6) before
    the per-doc average (ln() last-ulp + summation-order discipline, same
    as unigram_logprob).

    Docs with < 2 tokens have no bigrams and drop out (match in oracle).
    """
    lam = float(BIGRAM_LAMBDA)
    bis = _bigrams(docs)
    uni = _tokens(docs).groupBy("tok").agg(F.count("*").alias("cu"))
    total = uni.agg(F.sum("cu").alias("tot"))
    bi_counts = bis.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    scored = (
        bis.join(bi_counts, ["w1", "w2"])
        .join(uni.select(F.col("tok").alias("w1"), F.col("cu").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("cu").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.log(
                F.lit(lam) * (F.col("cb").cast("double") / F.col("c1"))
                + F.lit(1.0 - lam) * (F.col("c2").cast("double") / F.col("tot"))
            )
            .cast("decimal(38,6)")
            .alias("lp"),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (F.sum("lp").cast("double") / F.count("*")).alias("avg_logprob"),
    )


def oracle_bigram_logprob(table: str, id_col: str, text_col: str) -> str:
    lam = float(BIGRAM_LAMBDA)
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH tk AS (
      SELECT {id_col} AS id, {toks} AS t FROM {table}
    ), bis AS (
      SELECT id, t[i] AS w1, t[i + 1] AS w2
      FROM tk, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
    ), uni AS (
      SELECT unnest(t) AS tok FROM tk
    ), cu AS (
      SELECT tok, count(*) AS cu FROM uni GROUP BY tok
    ), total AS (SELECT sum(cu) AS tot FROM cu),
    cb AS (
      SELECT w1, w2, count(*) AS cb FROM bis GROUP BY w1, w2
    )
    SELECT CAST(b.id AS BIGINT) AS id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(ln(
             {lam!r} * (CAST(cb.cb AS DOUBLE) / u1.cu)
             + {1.0 - lam!r} * (CAST(u2.cu AS DOUBLE) / total.tot)
           ) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_logprob
    FROM bis b
    JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
    JOIN cu u1 ON b.w1 = u1.tok
    JOIN cu u2 ON b.w2 = u2.tok, total
    GROUP BY b.id
    """


KN_DISCOUNT = 0.75  # absolute discount D (Kneser-Ney standard default)


def kneser_ney_logprob(docs: DataFrame) -> DataFrame:
    """(id, n_bigrams, avg_logprob) under interpolated Kneser-Ney bigram
    smoothing — the LM behind KenLM-style perplexity filters, upgraded from
    :func:`bigram_logprob`'s Jelinek-Mercer mix:

      P(w2|w1) = max(c(w1 w2) − D, 0) / c(w1·)
                 + (D · N1+(w1 ·) / c(w1·)) · N1+(· w2) / n_types

    where c(w1·) is the context count, N1+(w1 ·) the distinct-continuation
    count, N1+(· w2) the distinct-history count, and n_types the number of
    distinct bigram types — the continuation probability ranks words by how
    many CONTEXTS they follow, not raw frequency (the 'Francisco' fix).

    Every model quantity is an exact integer aggregate, so the scoring
    doubles are engine-identical given the spelled operation order; the
    per-bigram ln rounds to DECIMAL(38,6) before the per-doc mean (the same
    summation-order discipline as the other LM scorers).

    Plan shape: the model is scored once per bigram TYPE — ``cb``
    (vocab-sized) joins ``ctx``/``cont``/``types``, all vocab-scale — and
    the document stream is pre-aggregated to (id, w1, w2, cnt) before its
    single equi-join with the scored type table. The per-doc sum is then
    the exact weighted sum ``Σ cnt · lp`` (DECIMAL × BIGINT is exact, and
    decimal addition is order-free), bit-identical to summing ``lp`` per
    occurrence. So the occurrence stream is shuffled once (the (id,w1,w2)
    combine) and everything after is vocab- or doc-type-scale; joining the
    full occurrence stream on (w1,w2), w1 and w2 instead costs four
    full-stream shuffles (measured ×5.94 at ×5 data).
    """
    d = float(KN_DISCOUNT)
    from . import fan_out

    # one shuffle of the occurrence stream: combine to per-doc bigram types,
    # and materialize it — doc_bis feeds the model chain (cb/ctx/cont/
    # types) AND the scoring join, and AQE's runtime broadcast conversions
    # re-compute non-materialized subtrees (observed: the tokenize + bigram
    # explode executed ~6x in the final plan). The checkpoint is the same
    # doc-type-scale frame the shuffle already moves once.
    doc_bis = (
        _bigrams(fan_out(docs)).groupBy("id", "w1", "w2").agg(F.count("*").alias("cnt")).localCheckpoint()
    )
    cb = doc_bis.groupBy("w1", "w2").agg(F.sum("cnt").alias("cb"))
    ctx = cb.groupBy("w1").agg(
        F.sum("cb").alias("c1"), F.count("*").alias("nfol")
    )
    cont = cb.groupBy("w2").agg(F.count("*").alias("nprec"))
    types = cb.agg(F.count("*").alias("ntypes"))
    # vocab-scale scoring: lp once per distinct bigram type
    type_lp = (
        cb.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.expr(
                f"cast(ln("
                f"  greatest(cast(cb as double) - {d!r}, cast(0 as double)) / c1"
                f"  + ({d!r} * cast(nfol as double) / c1)"
                f"    * (cast(nprec as double) / ntypes)"
                f") as decimal(38,6))"
            ).alias("lp"),
        )
    )
    scored = doc_bis.join(type_lp, ["w1", "w2"]).select(
        "id", "cnt", (F.col("cnt") * F.col("lp")).alias("wlp")
    )
    return scored.groupBy("id").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        (F.sum("wlp").cast("double") / F.sum("cnt")).alias("avg_logprob"),
    )


def oracle_kneser_ney_logprob(table: str, id_col: str, text_col: str) -> str:
    d = float(KN_DISCOUNT)
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH tk AS (
      SELECT {id_col} AS id, {toks} AS t FROM {table}
    ), bis AS (
      SELECT id, t[i] AS w1, t[i + 1] AS w2
      FROM tk, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
    ), cb AS (
      SELECT w1, w2, count(*) AS cb FROM bis GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, sum(cb) AS c1, count(*) AS nfol FROM cb GROUP BY w1
    ), cont AS (
      SELECT w2, count(*) AS nprec FROM cb GROUP BY w2
    ), types AS (SELECT count(*) AS ntypes FROM cb)
    SELECT CAST(b.id AS BIGINT) AS id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(ln(
             greatest(CAST(cb.cb AS DOUBLE) - {d!r}, CAST(0 AS DOUBLE)) / ctx.c1
             + ({d!r} * CAST(ctx.nfol AS DOUBLE) / ctx.c1)
               * (CAST(cont.nprec AS DOUBLE) / types.ntypes)
           ) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_logprob
    FROM bis b
    JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
    JOIN ctx ON b.w1 = ctx.w1
    JOIN cont ON b.w2 = cont.w2, types
    GROUP BY b.id
    """


# ---------------------------------------------------------------------------
# Trained linear quality filter (distill a rule filter into a classifier)
# ---------------------------------------------------------------------------
#
# The production pattern behind fastText-style quality classifiers: take a
# cheap rule verdict as the weak label, train a linear model on continuous
# document statistics, ship the model (txt_linear_score applies one). Here
# the whole training loop runs IN the engine: full-batch gradient descent
# where each iteration is one map-side feature pass plus a 4-cell aggregate
# (the reference analogue is an iterating driver resubmitting a combiner
# job per step, cf. MRC/examples/.../WordMean.java:99's single-agg shape).
#
# Determinism contract (the reason this oracle-replays exactly):
# - squashing function is RATIONAL, s(z) = 0.5*(1 + z/(1+|z|)) — logistic
#   GD with the "fast sigmoid"; no exp(), so no cross-engine ulp risk.
# - per-row gradient contributions are scaled to integers
#   (round(g*1e9) as DECIMAL(38,0)) and summed exactly — the same
#   scaled-integer fold kmeans_fit uses, so the weight trajectory is
#   bit-identical at any parallelism and in DuckDB's replay. Magnitudes
#   stay under 2^53 through ~sf10; beyond that raise the decimal scale.

_LR_LR = 2.0  #: learning rate (power of two: exact in both engines)


def _lr_feature_df(docs: DataFrame, min_words: int) -> DataFrame:
    """(id, y, x1, x2, x3): weak rule label + scaled continuous features.

    y = 1 when the doc passes [n_words >= min_words AND >=1 Gopher stopword]
    — a rule subset the features can largely (not perfectly) explain:
    x1 = n_tokens/100, x2 = stopword_ratio*10, x3 = mean_token_len/5.
    Integer-derived divisions only: identical IEEE doubles in both engines.
    """
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return docs.select(
        _id(),
        F.expr(
            f"case when size({_TOKS}) >= {min_words} and "
            f"size(filter(array({stops}), s -> exists({_TOKS}, t -> lower(t) = s))) >= 1 "
            f"then 1.0D else 0.0D end"
        ).alias("y"),
        F.expr(f"cast(size({_TOKS}) as double) / 100").alias("x1"),
        F.expr(
            f"cast(size(filter({_TOKS}, t -> t in ({en}))) as double)"
            f" / greatest(size({_TOKS}), 1) * 10"
        ).alias("x2"),
        F.expr(
            f"cast(aggregate({_TOKS}, 0L, (acc, t) -> acc + length(t)) as double)"
            f" / greatest(size({_TOKS}), 1) / 5"
        ).alias("x3"),
    )


def train_linear_weights(feats: DataFrame, n_iter: int) -> tuple[list[float], int]:
    """The GD loop on a prepared (y, x1, x2, x3) feature frame; returns
    (weights [bias, w1, w2, w3], n). Per iteration only four 1e-9-scaled
    exact gradient sums reach the driver."""
    # The loop re-reads the feature frame n_iter times; materialize it
    # once (same move at 100 TB: cache the prepared features, train over
    # memory). count() doubles as the materialization action.
    feats = feats.persist()
    n = feats.count()  # metadata-scale: one long
    w = [0.0, 0.0, 0.0, 0.0]
    if n > 0:
        xs = ("1.0D", "x1", "x2", "x3")
        for _ in range(n_iter):
            z = lr_z_expr(w)
            s = f"(0.5D * (1.0D + {z} / (1.0D + abs({z}))))"
            row = feats.agg(
                *[
                    F.coalesce(
                        F.sum(
                            F.expr(
                                f"cast(round(({x} * (y - {s})) * 1e9) as decimal(38,0))"
                            )
                        ),
                        F.lit(0).cast("decimal(38,0)"),
                    ).alias(f"s{j}")
                    for j, x in enumerate(xs)
                ]
            ).collect()[0]
            w = [w[j] + float(row[j]) / n / 1e9 * _LR_LR for j in range(4)]
    feats.unpersist()
    return w, n


def lr_z_expr(w: list[float]) -> str:
    """Spark SQL logit expression for weight vector ``w`` (repr-injected
    double literals round-trip exactly)."""
    return (
        f"(cast('{w[0]!r}' as double) + cast('{w[1]!r}' as double) * x1"
        f" + cast('{w[2]!r}' as double) * x2"
        f" + cast('{w[3]!r}' as double) * x3)"
    )


def train_linear_filter(docs: DataFrame, n_iter: int = 8, min_words: int = 50) -> DataFrame:
    """Train the linear quality filter and report weights + confusion matrix.

    Output (one row): n, n_pos, w_bias, w_len, w_stop, w_mwl, tp, fp, fn,
    tn, accuracy. Per iteration only four 1e-9-scaled gradient sums cross
    to the driver; the feature pass is map-only, so at 100 TB each step is
    a scan + partial aggregate (no shuffle beyond the 4-cell fold).
    """
    feats = _lr_feature_df(docs, min_words)
    w, n = train_linear_weights(feats, n_iter)
    z = lr_z_expr(w)
    pred = f"({z} >= 0)"  # s(z) >= 0.5  <=>  z >= 0
    return (
        feats.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr("case when y > 0.5D then 1 else 0 end"))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.expr(f"case when {pred} and y > 0.5D then 1 else 0 end"))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.expr(f"case when {pred} and y < 0.5D then 1 else 0 end"))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.expr(f"case when not {pred} and y > 0.5D then 1 else 0 end"))
            .cast("bigint")
            .alias("fn"),
            F.sum(F.expr(f"case when not {pred} and y < 0.5D then 1 else 0 end"))
            .cast("bigint")
            .alias("tn"),
        )
        .select(
            "n",
            "n_pos",
            F.lit(w[0]).cast("double").alias("w_bias"),
            F.lit(w[1]).cast("double").alias("w_len"),
            F.lit(w[2]).cast("double").alias("w_stop"),
            F.lit(w[3]).cast("double").alias("w_mwl"),
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr("cast(tp + tn as double) / greatest(n, 1)").alias("accuracy"),
        )
    )


def _oracle_lr_ctes(
    table: str, id_col: str, text_col: str, n_iter: int, min_words: int
) -> str:
    """Shared CTE chain replaying the GD weight trajectory in DuckDB:
    feats -> nn -> it0 -> (g{i} -> it{i+1}) * n_iter. Ends after
    it{n_iter}; callers append their own final SELECT."""
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    lr = f"CAST('{_LR_LR!r}' AS DOUBLE)"
    sql = f"""
    WITH feats AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS id,
             CASE WHEN len({toks}) >= {min_words} AND
                       len(list_filter([{stops}],
                           s -> len(list_filter({toks}, t -> lower(t) = s)) > 0)) >= 1
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
             CAST(len({toks}) AS DOUBLE) / 100 AS x1,
             CAST(len(list_filter({toks}, t -> t IN ({en}))) AS DOUBLE)
               / greatest(len({toks}), 1) * 10 AS x2,
             CAST(coalesce(list_sum(list_transform({toks}, t -> length(t))), 0) AS DOUBLE)
               / greatest(len({toks}), 1) / 5 AS x3
      FROM {table}
    )"""
    return sql + oracle_gd_chain_sql(n_iter)


def oracle_gd_chain_sql(n_iter: int) -> str:
    """Generic DuckDB replay of :func:`train_linear_weights` appended after
    a ``feats (y, x1, x2, x3)`` CTE: nn -> it0 -> (g{i} -> it{i+1}) * n_iter
    with the same scaled-integer gradient folds and the same left-to-right
    update arithmetic, so every weight double is bit-identical. Callers
    append their own final SELECT reading it{n_iter}. Reused by the rerank
    capstone (similarity.rerank_linear) — any (y, x1..x3) frame trains the
    same way on both engines."""
    lr = f"CAST('{_LR_LR!r}' AS DOUBLE)"
    sql = """,
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
    it0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS a1,
                   CAST(0 AS DOUBLE) AS a2, CAST(0 AS DOUBLE) AS a3)"""
    for i in range(n_iter):
        z = "(w.b + w.a1 * f.x1 + w.a2 * f.x2 + w.a3 * f.x3)"
        s = f"(CAST(0.5 AS DOUBLE) * (CAST(1.0 AS DOUBLE) + {z} / (CAST(1.0 AS DOUBLE) + abs({z}))))"
        sums = ", ".join(
            f"coalesce(sum(CAST(round(({x} * (f.y - {s})) * 1e9) AS DECIMAL(38,0))),"
            f" CAST(0 AS DECIMAL(38,0))) AS s{j}"
            for j, x in enumerate(("CAST(1.0 AS DOUBLE)", "f.x1", "f.x2", "f.x3"))
        )
        sql += f""",
    g{i} AS MATERIALIZED (SELECT {sums} FROM feats f CROSS JOIN it{i} w),
    it{i + 1} AS MATERIALIZED (
      SELECT w.b  + CAST(g.s0 AS DOUBLE) / nn.n / 1e9 * {lr} AS b,
             w.a1 + CAST(g.s1 AS DOUBLE) / nn.n / 1e9 * {lr} AS a1,
             w.a2 + CAST(g.s2 AS DOUBLE) / nn.n / 1e9 * {lr} AS a2,
             w.a3 + CAST(g.s3 AS DOUBLE) / nn.n / 1e9 * {lr} AS a3
      FROM it{i} w, g{i} g, nn
    )"""
    return sql


def oracle_train_linear_filter(
    table: str, id_col: str, text_col: str, n_iter: int = 8, min_words: int = 50
) -> str:
    """DuckDB replay of :func:`train_linear_filter`: the weight trajectory is
    recomputed through a CTE chain (it0 -> g{i} -> it{i+1}) with the same
    scaled-integer gradient folds and the same left-to-right update
    arithmetic, so every weight double is bit-identical."""
    sql = _oracle_lr_ctes(table, id_col, text_col, n_iter, min_words)
    z = "(w.b + w.a1 * f.x1 + w.a2 * f.x2 + w.a3 * f.x3)"
    pred = f"({z} >= 0)"
    sql += f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(coalesce(sum(CASE WHEN f.y > 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pos,
           CAST(coalesce(any_value(w.b), 0) AS DOUBLE) AS w_bias,
           CAST(coalesce(any_value(w.a1), 0) AS DOUBLE) AS w_len,
           CAST(coalesce(any_value(w.a2), 0) AS DOUBLE) AS w_stop,
           CAST(coalesce(any_value(w.a3), 0) AS DOUBLE) AS w_mwl,
           CAST(coalesce(sum(CASE WHEN {pred} AND f.y > 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
           CAST(coalesce(sum(CASE WHEN {pred} AND f.y < 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
           CAST(coalesce(sum(CASE WHEN NOT {pred} AND f.y > 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
           CAST(coalesce(sum(CASE WHEN NOT {pred} AND f.y < 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn,
           CAST(coalesce(sum(CASE WHEN {pred} AND f.y > 0.5 THEN 1 ELSE 0 END), 0)
                + coalesce(sum(CASE WHEN NOT {pred} AND f.y < 0.5 THEN 1 ELSE 0 END), 0)
                AS DOUBLE) / greatest(count(*), 1) AS accuracy
    FROM feats f CROSS JOIN it{n_iter} w
    """
    return sql


# ---------------------------------------------------------------------------
# BPE application (encode with the trained merge table)
# ---------------------------------------------------------------------------

def bpe_encode(docs: DataFrame, n_merges: int = 6) -> DataFrame:
    """Train ``n_merges`` BPE merges on the corpus, then ENCODE it: the
    full tokenizer loop (train -> ship merge table -> apply), per-doc
    output (id, n_words, n_chars, n_syms, compression).

    The merge table (n_merges rows) is the only thing collected; encoding
    is one map-only pass — each merge is a JVM fold over the word's symbol
    array, chained n_merges deep, so at 100 TB the apply step fuses into
    the scan with zero extra shuffles (the per-doc rollup is the one
    aggregate). compression = encoded symbols / raw chars, a ratio of
    exact integers.
    """
    return (
        _bpe_encoded(docs, n_merges, _id())
        .groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
            F.sum("w_syms").cast("bigint").alias("n_syms"),
        )
        .select(
            "id",
            "n_words",
            "n_chars",
            "n_syms",
            F.expr("cast(n_syms as double) / n_chars").alias("compression"),
        )
    )


def oracle_bpe_encode(table: str, id_col: str, text_col: str, n_merges: int = 6) -> str:
    """DuckDB replay: train via the oracle_bpe_merges CTE chain, then apply
    each merge to every doc word with the chr(31)-separator replace (same
    greedy semantics as the engine's carry fold)."""
    sep = "chr(31)"
    # training chain (t0..t{n-1}, w0..w{n}) from the merges oracle, minus its
    # final SELECT
    train = oracle_bpe_merges(table, text_col, n_merges)
    train_ctes = train.split("\n    SELECT * FROM (")[0]
    sql = train_ctes + f""",
    dwords AS (
      SELECT CAST({id_col} AS BIGINT) AS id,
             unnest(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                                t -> t <> '')) AS w
      FROM {table}
    ),
    e0 AS (SELECT id, w, regexp_replace(w, '(.)', {sep} || '\\1', 'g') AS s
           FROM dwords)"""
    for i in range(n_merges):
        sql += f""",
    e{i + 1} AS (
      SELECT id, w, replace(s, {sep} || t{i}.l || {sep} || t{i}.r,
                            {sep} || t{i}.l || t{i}.r) AS s
      FROM e{i}, t{i}
    )"""
    sql += f"""
    SELECT id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(w)) AS BIGINT) AS n_chars,
           CAST(sum(len(list_filter(str_split(s, {sep}), x -> x <> ''))) AS BIGINT)
             AS n_syms,
           CAST(sum(len(list_filter(str_split(s, {sep}), x -> x <> ''))) AS DOUBLE)
             / sum(length(w)) AS compression
    FROM e{n_merges}
    GROUP BY id
    """
    return sql


# ---------------------------------------------------------------------------
# C4-style cross-corpus line dedup
# ---------------------------------------------------------------------------

def line_dedup(docs: DataFrame, min_words: int = 4) -> DataFrame:
    """Corpus-wide exact LINE dedup (the C4 preprocessing rule): any line of
    ``min_words``+ words that occurs anywhere else in the corpus is kept
    ONLY at its first occurrence (smallest doc id, then position) and
    dropped everywhere else; shorter lines (nav crumbs, headings) pass
    through untouched.

    One narrow explode to (doc, pos, line), one line-keyed window picking
    the global first occurrence (row_number over the line hash — the only
    shuffle, keyed on the line text, boilerplate lines being exactly the
    hot keys the window's partial sort handles), one per-doc rebuild.
    Output: (id, n_lines, n_kept, n_dropped, kept_text).
    """
    lines = docs.select(
        _id(), F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line")
    )
    eligible = F.expr(f"size({ws_tokens_sql('line')}) >= {min_words}")
    w = Window.partitionBy("line").orderBy("id", "pos")
    flagged = (
        lines.withColumn("elig", eligible)
        .withColumn(
            "rn",
            F.when(F.col("elig"), F.row_number().over(w)).otherwise(F.lit(1)),
        )
        .withColumn("keep", F.col("rn") == 1)
    )
    return flagged.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.expr(
            "array_join(transform(array_sort(collect_list(case when keep then"
            " struct(pos, line) end)), s -> s.line), char(10))"
        ).alias("kept_text"),
    )


def oracle_line_dedup(
    table: str, id_col: str, text_col: str, min_words: int = 4
) -> str:
    return f"""
    WITH lines AS (
      SELECT CAST({id_col} AS BIGINT) AS id, i - 1 AS pos, t[i] AS line
      FROM (SELECT {id_col}, string_split({text_col}, chr(10)) AS t
            FROM {table}),
           UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    flagged AS (
      SELECT id, pos, line,
             len(list_filter(regexp_split_to_array(trim(line), '{WS}'), t -> t <> ''))
               >= {min_words} AS elig,
             row_number() OVER (PARTITION BY line ORDER BY id, pos) AS rn
      FROM lines
    ),
    kept AS (
      SELECT id, pos, line, (NOT elig) OR rn = 1 AS keep FROM flagged
    )
    SELECT id, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped,
           coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
             AS kept_text
    FROM kept GROUP BY id
    """


def ppmi_cooccurrence(docs: DataFrame, window: int = 2, min_count: int = 5) -> DataFrame:
    """Skip-gram co-occurrence counts with positive PMI scoring — the
    classic count-based embedding prep (word2vec's sampling target /
    GloVe's input matrix): for every token, every context token within
    ``window`` positions counts one directional (w, c) pair;
    ``PPMI = max(0, ln(n_wc · N / (n_w · n_c)))`` from exact integer
    counts.

    The pair stream is generated MAP-SIDE by a nested array transform
    (positions × their ±window neighbors — O(len·window) per doc, never
    the len² position cross-product), then one (w, c) count with partials
    and two marginal joins — the same equi-keyed shape as the LM scorers.
    Pairs below ``min_count`` are dropped (standard PMI noise floor).
    Output: (w, c, n_wc, ppmi) with ppmi rounded to 6 dp.
    """
    pairs_expr = (
        f"flatten(transform(sequence(1, size({_TOKS})), i -> "
        f"transform(filter(sequence(greatest(1, i - {window}),"
        f" least(size({_TOKS}), i + {window})), j -> j != i), j -> "
        f"struct(element_at({_TOKS}, i) AS w, element_at({_TOKS}, j) AS c))))"
    )
    guarded = (
        f"CASE WHEN size({_TOKS}) >= 2 THEN {pairs_expr}"
        f" ELSE cast(array() as array<struct<w:string,c:string>>) END"
    )
    # CPU-bound narrow pair generation: fan_out so a single-split small
    # file doesn't serialize it onto one core (no-op on wide inputs);
    # 34s -> ~4s at sf0.1, measured.
    from . import fan_out

    pairs = fan_out(docs).select(F.explode(F.expr(guarded)).alias("p")).select(
        F.col("p.w").alias("w"), F.col("p.c").alias("c")
    )
    counts = pairs.groupBy("w", "c").agg(F.count("*").alias("n_wc"))
    w_marg = counts.groupBy("w").agg(F.sum("n_wc").alias("n_w"))
    c_marg = counts.groupBy("c").agg(F.sum("n_wc").alias("n_c"))
    total = counts.agg(F.sum("n_wc").alias("n_total"))
    return (
        counts.filter(F.col("n_wc") >= min_count)
        .join(w_marg, "w")
        .join(c_marg, "c")
        .crossJoin(F.broadcast(total))
        .select(
            "w",
            "c",
            F.col("n_wc").cast("bigint").alias("n_wc"),
            F.expr(
                "round(greatest(ln(cast(n_wc as double) * n_total"
                " / (cast(n_w as double) * n_c)), cast(0 as double)), 6)"
            ).alias("ppmi"),
        )
    )


def oracle_ppmi_cooccurrence(
    table: str, id_col: str, text_col: str, window: int = 2, min_count: int = 5
) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH tk AS (
      SELECT {id_col} AS id, {toks} AS t FROM {table}
    ), pairs AS (
      SELECT t[i] AS w, t[j] AS c
      FROM tk,
           UNNEST(range(1, len(t) + 1)) AS u(i),
           UNNEST(range(1, len(t) + 1)) AS v(j)
      WHERE j != i AND abs(j - i) <= {window}
    ), counts AS (
      SELECT w, c, count(*) AS n_wc FROM pairs GROUP BY w, c
    ), w_marg AS (SELECT w, sum(n_wc) AS n_w FROM counts GROUP BY w),
    c_marg AS (SELECT c, sum(n_wc) AS n_c FROM counts GROUP BY c),
    total AS (SELECT sum(n_wc) AS n_total FROM counts)
    SELECT k.w, k.c, CAST(k.n_wc AS BIGINT) AS n_wc,
           round(greatest(ln(CAST(k.n_wc AS DOUBLE) * n_total
                 / (CAST(n_w AS DOUBLE) * n_c)), CAST(0 AS DOUBLE)), 6) AS ppmi
    FROM counts k
    JOIN w_marg USING (w) JOIN c_marg USING (c), total
    WHERE k.n_wc >= {min_count}
    """


def inverted_index(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Positional inverted index — the search-engine primitive: per term,
    document frequency, total term frequency, and an md5 digest of the
    full ordered posting list ``doc:pos|pos .. doc:pos|pos`` (1-based
    token positions). The digest makes the ENTIRE index content
    hash-checkable cross-engine without shipping variable-width posting
    strings through the comparator.

    Scale shape: one posexplode of the shared tokenizer's array, a
    (term, doc) aggregate with map-side partials, then a term-keyed
    aggregate — vocabulary-scale output. In-group ordering uses the
    proven array_sort(collect_list(struct)) ≡ string_agg(ORDER BY)
    identity, so posting order is deterministic on both engines.
    ``min_df`` drops hapax terms (the long tail that doubles index size
    for no retrieval value).
    """
    tp = docs.select(
        F.col("doc_id").cast("bigint"),
        F.posexplode(F.expr(_TOKS)).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    per_doc = tp.groupBy("term", "doc_id").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.expr(
            "array_join(transform(array_sort(collect_list(pos)),"
            " x -> cast(x as string)), '|')"
        ).alias("poss"),
    )
    return (
        per_doc.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("tf_total"),
            F.md5(
                F.expr(
                    "array_join(transform(array_sort(collect_list(struct(doc_id, poss))),"
                    " s -> concat(cast(s.doc_id as string), ':', s.poss)), ' ')"
                ).cast("binary")
            ).alias("postings_md5"),
        )
        .filter(F.col("df") >= min_df)
    )


def oracle_inverted_index(
    table: str, id_col: str = "doc_id", text_col: str = "text", min_df: int = 2
) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH base AS (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, {toks} AS toks FROM {table}
    ),
    tp AS (
      SELECT doc_id, toks[CAST(u.pos AS INT)] AS term, CAST(u.pos AS BIGINT) AS pos
      FROM base, UNNEST(range(1, len(toks) + 1)) AS u(pos)
    ),
    per_doc AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
             string_agg(CAST(pos AS VARCHAR), '|' ORDER BY pos) AS poss
      FROM tp GROUP BY term, doc_id
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || poss, ' '
                          ORDER BY doc_id)) AS postings_md5
    FROM per_doc GROUP BY term HAVING count(*) >= {min_df}
    """


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the stopword-vote language identifier against
    the labeled language column — the eval loop for :func:`lang_id`
    (never ship a classifier without its confusion matrix): per
    (label, predicted) cell, count and the share of that label's rows
    (row-normalized recall decomposition).

    One prediction pass (pure JVM expressions), one id-keyed join back
    to labels, one (label, pred) count, a label-keyed total join — all
    exact integers plus one rounded ratio.
    Output: (lang, pred_lang, n, share_of_lang).
    """
    preds = lang_id(docs)
    labeled = docs.select(_id(), "lang")
    cells = (
        labeled.join(preds, "id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nt"))
    return cells.join(tot, "lang").select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / F.col("nt").cast("double"), 6).alias(
            "share_of_lang"
        ),
    )


def oracle_lang_confusion(
    table: str, id_col: str = "doc_id", text_col: str = "text",
    label_col: str = "lang",
) -> str:
    inner = oracle_lang_id(table, id_col, text_col)
    return f"""
    WITH preds AS ({inner}),
    cells AS (
      SELECT t.{label_col} AS lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM {table} t JOIN preds p ON CAST(t.{id_col} AS BIGINT) = p.id
      GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY lang)
    SELECT c.lang, c.pred_lang, c.n,
           round(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS share_of_lang
    FROM cells c JOIN tot t ON c.lang = t.lang
    """


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-style readability features per document — the classic
    quality-filter complement to gopher_rules: words, sentences, syllable
    estimate (vowel-group count, the standard dictionary-free heuristic),
    and the two derived ratios that drive the Flesch score.

    All counts are regexp_replace/size expressions (one codegen'd map,
    no shuffle); sentences = terminal-punctuation runs, clamped to >= 1;
    syllables = vowel groups [aeiouyAEIOUY]+. The score itself is the
    textbook linear form 206.835 - 1.015*(W/S) - 84.6*(Syl/W), computed
    as a fixed-order double chain on exact integer counts with injected
    literal coefficients, rounded to 4dp.
    Output: (id, n_words, n_sentences, n_syllables, flesch).
    """
    words = F.expr(f"cast(size({_TOKS}) as bigint)")
    sents = F.expr(
        "cast(greatest(size(filter(split(text, '[.!?]+'), s -> trim(s) <> '')),"
        " 1) as bigint)"
    )
    sylls = F.expr(
        "cast(size(filter(split(text, '[aeiouyAEIOUY]+'), s -> true)) - 1"
        " as bigint)"
    )
    w, s, y = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s.cast("double"))
        - F.lit(84.6) * (y.cast("double") / w.cast("double"))
    )
    return (
        docs.select(
            _id(),
            words.alias("n_words"),
            sents.alias("n_sentences"),
            sylls.alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .withColumn("flesch", F.round(flesch, 4))
    )


def oracle_readability(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH base AS (
      SELECT CAST({id_col} AS BIGINT) AS id,
             CAST(len({toks}) AS BIGINT) AS n_words,
             CAST(greatest(len(list_filter(
                    regexp_split_to_array({text_col}, '[.!?]+'),
                    s -> trim(s) <> '')), 1) AS BIGINT) AS n_sentences,
             CAST(len(regexp_split_to_array({text_col}, '[aeiouyAEIOUY]+')) - 1
                  AS BIGINT) AS n_syllables
      FROM {table}
    )
    SELECT id, n_words, n_sentences, n_syllables,
           round(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - CAST(84.6 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
                 4) AS flesch
    FROM base WHERE n_words > 0
    """


def tokenizer_fertility(docs: DataFrame, n_merges: int = 6) -> DataFrame:
    """Tokenizer fertility report: subword tokens per whitespace word,
    per language — THE standard tokenizer-quality metric (a BPE trained
    on the corpus majority language shows low fertility there and 2-4x
    on under-represented scripts; high fertility = wasted context window
    and slower training for that language).

    Reuses the full BPE loop: train ``n_merges`` merges on the corpus
    and apply them through the memoized distinct-vocabulary path of
    :func:`bpe_encode`, then roll up per language. Exact integer counts,
    one division.
    Output: (lang, n_docs, n_words, n_subwords, fertility).
    """
    return (
        _bpe_encoded(docs, n_merges, "lang", _id())
        .groupBy("lang")
        .agg(
            F.count_distinct("id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("w_syms").cast("bigint").alias("n_subwords"),
            F.round(
                F.sum("w_syms").cast("double") / F.count("*").cast("double"), 6
            ).alias("fertility"),
        )
    )


def oracle_tokenizer_fertility(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_merges: int = 6,
) -> str:
    """DuckDB replay: train through the oracle_bpe_merges CTE chain, apply
    with the chr(31) prefix-separator replace (same greedy semantics as
    the engine's fold — the proven oracle_bpe_encode recipe), roll up per
    language."""
    sep = "chr(31)"
    train = oracle_bpe_merges(table, text_col, n_merges)
    train_ctes = train.split("\n    SELECT * FROM (")[0]
    sql = train_ctes + f""",
    dwords AS (
      SELECT {lang_col} AS lang, CAST({id_col} AS BIGINT) AS id,
             unnest(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                                t -> t <> '')) AS w
      FROM {table}
    ),
    e0 AS (SELECT lang, id, w, regexp_replace(w, '(.)', {sep} || '\\1', 'g') AS s
           FROM dwords)"""
    for i in range(n_merges):
        sql += f""",
    e{i + 1} AS (
      SELECT lang, id, w, replace(s, {sep} || t{i}.l || {sep} || t{i}.r,
                                  {sep} || t{i}.l || t{i}.r) AS s
      FROM e{i}, t{i}
    )"""
    sql += f"""
    SELECT lang, CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(list_filter(str_split(s, {sep}), x -> x <> ''))) AS BIGINT)
             AS n_subwords,
           round(CAST(sum(len(list_filter(str_split(s, {sep}), x -> x <> '')))
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fertility
    FROM e{n_merges}
    GROUP BY lang
    """
    return sql


# ---------------------------------------------------------------------------
# Corpus keyness — Dunning log-likelihood G² per (lang, token): which terms
# are distinctive FOR a slice vs the rest of the corpus. The standard
# corpus-linguistics readout for "what did this source/language contribute",
# and the feature-selection step before training slice classifiers.
# ---------------------------------------------------------------------------


def keyness_g2(docs: DataFrame, top_k: int = 5, min_count: int = 5) -> DataFrame:
    """Top-``top_k`` overrepresented tokens per language by Dunning G²
    over the exact 2×2 contingency (a = token-in-lang, b = token-elsewhere,
    c = lang-other-tokens, d = rest): G² = 2·Σ O·ln(O·N / (rowΣ·colΣ)).

    Scale shape: ONE (lang, token) wordcount shuffle; lang totals broadcast
    (dimension scale); token totals are a second keyed agg on the counted
    frame, joined back by token. All contingency cells are exact BIGINTs —
    the overrepresentation filter a·(N−langΣ) > b·langΣ is pure integer
    compare — and G² is a fixed-order double chain on those exact inputs,
    rounded to 6dp (the unigram_logprob ln-discipline). The rank window is
    per-lang (keyed), over only the min_count-filtered candidates.
    Output: (lang, token, n_in_lang, n_elsewhere, g2, rnk).
    """
    lt = _subtokens(docs, "lang").groupBy("lang", "tok").agg(F.count("*").cast("bigint").alias("a"))
    lang_tot = lt.groupBy("lang").agg(F.sum("a").cast("bigint").alias("lt_n"))
    tok_tot = lt.groupBy("tok").agg(F.sum("a").cast("bigint").alias("tk_n"))
    n_tot = lt.agg(F.sum("a").cast("bigint").alias("nn"))
    cells = (
        lt.filter(F.col("a") >= min_count)
        .join(F.broadcast(lang_tot), "lang")
        .join(tok_tot, "tok")
        .join(F.broadcast(n_tot), how="cross")
        .withColumn("b", (F.col("tk_n") - F.col("a")).cast("bigint"))
        .withColumn("c", (F.col("lt_n") - F.col("a")).cast("bigint"))
        .withColumn(
            "d", (F.col("nn") - F.col("lt_n") - F.col("tk_n") + F.col("a")).cast("bigint")
        )
        .filter(
            F.col("a") * (F.col("nn") - F.col("lt_n")) > F.col("b") * F.col("lt_n")
        )
    )

    def _term(o: str, row_tot, col_tot):
        od = F.col(o).cast("double")
        return F.when(
            F.col(o) > 0,
            od
            * F.log(
                od * F.col("nn").cast("double") / (row_tot.cast("double") * col_tot.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    rest_rows = F.col("nn") - F.col("lt_n")
    rest_cols = F.col("nn") - F.col("tk_n")
    scored = cells.withColumn(
        "g2",
        F.round(
            F.lit(2.0)
            * (
                _term("a", F.col("lt_n"), F.col("tk_n"))
                + _term("b", rest_rows, F.col("tk_n"))
                + _term("c", F.col("lt_n"), rest_cols)
                + _term("d", rest_rows, rest_cols)
            ),
            6,
        ),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("g2"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            "lang",
            F.col("tok").alias("token"),
            F.col("a").alias("n_in_lang"),
            F.col("b").alias("n_elsewhere"),
            "g2",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def oracle_keyness_g2(
    table: str,
    lang_col: str = "lang",
    text_col: str = "text",
    top_k: int = 5,
    min_count: int = 5,
) -> str:
    term = (
        "CASE WHEN {o} > 0 THEN CAST({o} AS DOUBLE) * ln(CAST({o} AS DOUBLE)"
        " * CAST(nn AS DOUBLE) / (CAST({rt} AS DOUBLE) * CAST({ct} AS DOUBLE)))"
        " ELSE 0.0 END"
    )
    return f"""
    WITH toks AS (
      SELECT {lang_col} AS lang,
             unnest(regexp_extract_all({text_col}, '{SUBTOKEN_RE}')) AS tok
      FROM {table}
    ),
    lt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS a FROM toks GROUP BY 1, 2),
    lang_tot AS (SELECT lang, CAST(sum(a) AS BIGINT) AS lt_n FROM lt GROUP BY 1),
    tok_tot AS (SELECT tok, CAST(sum(a) AS BIGINT) AS tk_n FROM lt GROUP BY 1),
    n_tot AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM lt),
    cells AS (
      SELECT lt.lang, lt.tok, lt.a,
             CAST(tt.tk_n - lt.a AS BIGINT) AS b,
             CAST(g.lt_n - lt.a AS BIGINT) AS c,
             CAST(n.nn - g.lt_n - tt.tk_n + lt.a AS BIGINT) AS d,
             g.lt_n, tt.tk_n, n.nn
      FROM lt JOIN lang_tot g ON lt.lang = g.lang
              JOIN tok_tot tt ON lt.tok = tt.tok, n_tot n
      WHERE lt.a >= {min_count}
        AND lt.a * (n.nn - g.lt_n) > (tt.tk_n - lt.a) * g.lt_n
    ),
    scored AS (
      SELECT lang, tok, a, b,
             round(2.0 * ({term.format(o='a', rt='lt_n', ct='tk_n')}
                          + {term.format(o='b', rt='nn - lt_n', ct='tk_n')}
                          + {term.format(o='c', rt='lt_n', ct='nn - tk_n')}
                          + {term.format(o='d', rt='nn - lt_n', ct='nn - tk_n')}), 6) AS g2
      FROM cells
    )
    SELECT lang, tok AS token, a AS n_in_lang, b AS n_elsewhere, g2,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY g2 DESC, tok) AS INT) AS rnk
    FROM scored
    QUALIFY rnk <= {top_k}
    """


# ---------------------------------------------------------------------------
# Zipf fit — the log-log OLS slope of the token frequency-rank curve. A
# healthy natural corpus sits near slope −1; template/boilerplate-heavy or
# synthetic corpora bend the curve, so the slope is a one-number corpus
# health check alongside the quality gates.
# ---------------------------------------------------------------------------


def zipf_fit(docs: DataFrame, size: int = 1000) -> DataFrame:
    """OLS fit of ln(freq) against ln(rank) over the top-``size`` tokens
    of :func:`induce_vocab` (ranked deterministically by count desc,
    token asc).

    Determinism: ln(rank) and ln(freq) are rounded to 6dp per point, then
    every OLS sum (Σx, Σy, Σxy, Σx²) accumulates as exact decimal on
    those rounded points — so the normal-equation chain sees bit-identical
    inputs in any engine at any parallelism. The fit frame is vocabulary
    scale (``size`` rows), never the corpus.
    Output: (n_points, slope, intercept) — one row.
    """
    vocab = induce_vocab(docs, size=size)
    pts = vocab.select(
        F.expr("cast(round(ln(token_id + 1), 6) as decimal(18,6))").alias("x"),
        F.expr("cast(round(ln(n), 6) as decimal(18,6))").alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("x").cast("decimal(38,6)").alias("sx"),
        F.sum("y").cast("decimal(38,6)").alias("sy"),
        F.sum(F.expr("x * y")).cast("decimal(38,12)").alias("sxy"),
        F.sum(F.expr("x * x")).cast("decimal(38,12)").alias("sxx"),
    )
    vd = F.col("v").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (vd * sxy - sx * sy) / (vd * sxx - sx * sx)
    return s.select(
        F.col("v").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / vd, 6).alias("intercept"),
    )


def oracle_zipf_fit(table: str, text_col: str = "text", size: int = 1000) -> str:
    return f"""
    WITH {oracle_vocab_ctes(table, text_col, size)},
    pts AS (
      SELECT CAST(round(ln(token_id + 1), 6) AS DECIMAL(18,6)) AS x,
             CAST(round(ln(n), 6) AS DECIMAL(18,6)) AS y
      FROM vocab
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(x) AS DECIMAL(38,6)) AS sx,
             CAST(sum(y) AS DECIMAL(38,6)) AS sy,
             CAST(sum(x * y) AS DECIMAL(38,12)) AS sxy,
             CAST(sum(x * x) AS DECIMAL(38,12)) AS sxx
      FROM pts
    )
    SELECT v AS n_points,
           round((CAST(v AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(v AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(v AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(v AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(v AS DOUBLE), 6) AS intercept
    FROM s
    """


def char_entropy_rate(docs: DataFrame) -> DataFrame:
    """Character-bigram conditional entropy per language,
    H(c₂|c₁) = −Σ p(c₁c₂) · ln(p(c₁c₂)/p(c₁)), in nats — the language-
    model-free entropy-rate estimate: anomalously low means boilerplate/
    template text, anomalously high means noise/binary junk. The
    info-theoretic sibling of the repetition and compression gates.

    Scale shape: one character-bigram explosion (JVM substring over a
    sequence — no Python), ONE (lang, bigram) wordcount shuffle, prefix
    totals by a second keyed agg. Each entropy term is a fixed-order
    double chain on exact BIGINT counts rounded to DECIMAL(38,6) before
    the exact per-lang sum (the unigram_logprob ln-discipline), so
    accumulation order cannot move the result.
    Output: (lang, n_bigrams_distinct, n_bigrams_total, entropy_nats).
    """
    big = docs.select(
        "lang",
        F.explode(
            F.expr(
                # sequence(1, 0) is DESCENDING in Spark, not empty — guard
                # single-char/empty texts explicitly.
                "case when length(text) >= 2 then "
                "transform(sequence(1, length(text) - 1),"
                " i_ -> substring(text, i_, 2))"
                " else cast(array() as array<string>) end"
            )
        ).alias("bg"),
    )
    counts = big.groupBy("lang", "bg").agg(F.count("*").cast("bigint").alias("c2"))
    first = counts.select(
        "lang", F.substring(F.col("bg"), 1, 1).alias("c1"), "c2"
    ).groupBy("lang", "c1").agg(F.sum("c2").cast("bigint").alias("cc1"))
    tot = counts.groupBy("lang").agg(F.sum("c2").cast("bigint").alias("n"))
    terms = (
        counts.withColumn("c1", F.substring(F.col("bg"), 1, 1))
        .join(first, ["lang", "c1"])
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            F.expr(
                "cast(round(-(cast(c2 as double) / cast(n as double))"
                " * ln(cast(c2 as double) / cast(cc1 as double)), 6)"
                " as decimal(38,6))"
            ).alias("term"),
        )
    )
    agg = terms.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_bigrams_distinct"),
        F.round(F.sum("term").cast("double"), 6).alias("entropy_nats"),
    )
    return agg.join(tot.select("lang", F.col("n").alias("n_bigrams_total")), "lang").select(
        "lang", "n_bigrams_distinct", "n_bigrams_total", "entropy_nats"
    )


def oracle_char_entropy_rate(
    table: str, lang_col: str = "lang", text_col: str = "text"
) -> str:
    return f"""
    WITH big AS (
      SELECT {lang_col} AS lang,
             substring({text_col}, i_, 2) AS bg
      FROM {table}, UNNEST(range(1, greatest(length({text_col}) - 1, 0) + 1)) u(i_)
    ),
    counts AS (
      SELECT lang, bg, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2
    ),
    first AS (
      SELECT lang, substring(bg, 1, 1) AS c1, CAST(sum(c2) AS BIGINT) AS cc1
      FROM counts GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(sum(c2) AS BIGINT) AS n FROM counts GROUP BY 1),
    terms AS (
      SELECT c.lang,
             CAST(round(-(CAST(c.c2 AS DOUBLE) / CAST(t.n AS DOUBLE))
                        * ln(CAST(c.c2 AS DOUBLE) / CAST(f.cc1 AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS term
      FROM counts c
      JOIN first f ON c.lang = f.lang AND substring(c.bg, 1, 1) = f.c1
      JOIN tot t ON c.lang = t.lang
    )
    SELECT tm.lang,
           CAST(count(*) AS BIGINT) AS n_bigrams_distinct,
           CAST(any_value(t.n) AS BIGINT) AS n_bigrams_total,
           round(CAST(sum(tm.term) AS DOUBLE), 6) AS entropy_nats
    FROM terms tm JOIN tot t ON tm.lang = t.lang
    GROUP BY tm.lang
    """


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-language lexical diversity rollup: mean type-token ratio,
    root-TTR (Guiraud), and Maas a² = (ln n − ln t)/(ln n)² over
    documents — the vocabulary-richness quality band (templated text
    scores low TTR, keyword-stuffed spam scores anomalously high).

    Per-doc type/token counts are ONE exact groupBy over the subtoken
    explosion; each per-doc metric is a fixed-order double rounded to
    6dp, then the per-lang means accumulate as DECIMAL(38,6) (order-free,
    exact). Docs with fewer than 2 tokens are excluded identically in
    both engines (ln 1 = 0 denominators). Output: (lang, n_docs,
    mean_ttr, mean_root_ttr, mean_maas).
    """
    per_doc = _subtokens(docs, "lang", F.col("doc_id").alias("id")).groupBy("lang", "id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("tok").cast("bigint").alias("t"),
    ).filter(F.col("n") >= 2)
    metrics = per_doc.select(
        "lang",
        F.expr("cast(round(cast(t as double) / cast(n as double), 6) as decimal(38,6))")
        .alias("ttr"),
        F.expr("cast(round(cast(t as double) / sqrt(cast(n as double)), 6) as decimal(38,6))")
        .alias("rttr"),
        F.expr(
            "cast(round((ln(cast(n as double)) - ln(cast(t as double)))"
            " / (ln(cast(n as double)) * ln(cast(n as double))), 6) as decimal(38,6))"
        ).alias("maas"),
    )
    return metrics.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.sum("ttr").cast("double") / F.count("*").cast("double"), 6).alias(
            "mean_ttr"
        ),
        F.round(F.sum("rttr").cast("double") / F.count("*").cast("double"), 6).alias(
            "mean_root_ttr"
        ),
        F.round(F.sum("maas").cast("double") / F.count("*").cast("double"), 6).alias(
            "mean_maas"
        ),
    )


def oracle_lexical_diversity(
    table: str, lang_col: str = "lang", text_col: str = "text"
) -> str:
    return f"""
    WITH toks AS (
      SELECT {lang_col} AS lang, doc_id AS id,
             unnest(regexp_extract_all({text_col}, '{SUBTOKEN_RE}')) AS tok
      FROM {table}
    ),
    per_doc AS (
      SELECT lang, id, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT tok) AS BIGINT) AS t
      FROM toks GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    metrics AS (
      SELECT lang,
             CAST(round(CAST(t AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DECIMAL(38,6)) AS ttr,
             CAST(round(CAST(t AS DOUBLE) / sqrt(CAST(n AS DOUBLE)), 6) AS DECIMAL(38,6)) AS rttr,
             CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(t AS DOUBLE)))
                        / (ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))), 6)
                  AS DECIMAL(38,6)) AS maas
      FROM per_doc
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(ttr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_ttr,
           round(CAST(sum(rttr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_root_ttr,
           round(CAST(sum(maas) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_maas
    FROM metrics GROUP BY lang
    """


def boilerplate_prefixes(
    docs: DataFrame, prefix_tokens: int = 3, min_share_pct: int = 2
) -> DataFrame:
    """Boilerplate-prefix mining per source: the token prefixes that open
    a disproportionate share of a source's documents — the
    header/template detector behind boilerplate stripping (a crawler
    banner or license header shows up as one prefix covering most of a
    source).

    One (source, prefix) wordcount shuffle over JVM slice/concat
    expressions; the share gate is EXACT integer arithmetic
    (count·100 ≥ pct·n_docs — no float thresholds); per-source ranking
    is a keyed window over the surviving candidates only.
    Output: (source, prefix, n_docs_with, n_docs, share_pct, rnk).
    """
    pre = docs.select(
        "source",
        F.expr(
            f"array_join(slice(split(trim(text), '{WS_SQL}'), 1, {prefix_tokens}), ' ')"
        ).alias("prefix"),
    )
    totals = pre.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    counts = pre.groupBy("source", "prefix").agg(
        F.count("*").cast("bigint").alias("n_with")
    )
    cand = counts.join(F.broadcast(totals), "source").filter(
        F.col("n_with") * 100 >= F.lit(min_share_pct) * F.col("n_docs")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_with"), F.asc("prefix"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "source",
            "prefix",
            F.col("n_with").alias("n_docs_with"),
            "n_docs",
            F.round(
                F.col("n_with").cast("double") / F.col("n_docs").cast("double") * 100.0, 6
            ).alias("share_pct"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def oracle_boilerplate_prefixes(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    prefix_tokens: int = 3,
    min_share_pct: int = 2,
) -> str:
    return f"""
    WITH pre AS (
      SELECT {group_col} AS src,
             array_to_string(regexp_split_to_array(trim({text_col}), '{WS}')
                             [1:{prefix_tokens}], ' ') AS prefix
      FROM {table}
    ),
    totals AS (SELECT src, CAST(count(*) AS BIGINT) AS n_docs FROM pre GROUP BY src),
    counts AS (
      SELECT src, prefix, CAST(count(*) AS BIGINT) AS n_with
      FROM pre GROUP BY 1, 2
    ),
    cand AS (
      SELECT c.src, c.prefix, c.n_with, t.n_docs
      FROM counts c JOIN totals t ON c.src = t.src
      WHERE c.n_with * 100 >= {min_share_pct} * t.n_docs
    )
    SELECT src AS {group_col}, prefix, n_with AS n_docs_with, n_docs,
           round(CAST(n_with AS DOUBLE) / CAST(n_docs AS DOUBLE) * 100.0, 6)
             AS share_pct,
           CAST(row_number() OVER (PARTITION BY src ORDER BY n_with DESC, prefix)
                AS INT) AS rnk
    FROM cand QUALIFY rnk <= 3
    """


# ln(2) as a Python-evaluated double, repr-injected into both engines so
# the missing-token mass term uses the identical IEEE constant.
_LN2 = 0.6931471805599453


def js_divergence_by_source(docs: DataFrame) -> DataFrame:
    """Jensen–Shannon divergence between each source's unigram
    distribution and the rest of the corpus — the bounded, symmetric
    vocabulary-drift readout (0 = same distribution, ln 2 = disjoint):
    JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2.

    Tokens absent from the source contribute exactly q·ln 2 on the Q
    side, so the whole divergence reduces to sums over the SOURCE's own
    token frame plus one closed-form missing-mass term — never a
    sources×vocabulary expansion. All probabilities are single divisions
    of exact BIGINT counts; each summand rounds to DECIMAL(38,12)
    (the summands are O(p·ln p) — 6dp would flush them) before the exact
    decimal sum. Output: (source, n_tokens, jsd_to_rest).
    """
    per = _subtokens(docs, "source").groupBy("source", "tok").agg(F.count("*").cast("bigint").alias("c"))
    glob = per.groupBy("tok").agg(F.sum("c").cast("bigint").alias("g"))
    np_ = per.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_src"))
    ntot = per.agg(F.sum("c").cast("bigint").alias("n_tot"))
    j = (
        per.join(glob, "tok")
        .join(F.broadcast(np_), "source")
        .join(F.broadcast(ntot), how="cross")
        .withColumn("r", (F.col("g") - F.col("c")).cast("bigint"))
        .withColumn("n_rest", (F.col("n_tot") - F.col("n_src")).cast("bigint"))
    )
    pterm = F.expr(
        "cast(round((cast(c as double) / cast(n_src as double))"
        " * ln(2.0 * (cast(c as double) / cast(n_src as double))"
        "      / ((cast(c as double) / cast(n_src as double))"
        "         + (cast(r as double) / cast(n_rest as double)))), 12)"
        " as decimal(38,12))"
    )
    qterm = F.expr(
        "case when r > 0 then cast(round((cast(r as double) / cast(n_rest as double))"
        " * ln(2.0 * (cast(r as double) / cast(n_rest as double))"
        "      / ((cast(c as double) / cast(n_src as double))"
        "         + (cast(r as double) / cast(n_rest as double)))), 12)"
        " as decimal(38,12)) else cast(0 as decimal(38,12)) end"
    )
    qmass = F.expr("cast(round(cast(r as double) / cast(n_rest as double), 12) as decimal(38,12))")
    agg = j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(pterm).alias("sp"),
        F.sum(qterm).alias("sq"),
        F.sum(qmass).alias("smass"),
    )
    return agg.select(
        "source",
        "n_tokens",
        F.round(
            F.lit(0.5)
            * (
                F.col("sp").cast("double")
                + F.col("sq").cast("double")
                + F.lit(_LN2) * (F.lit(1.0) - F.col("smass").cast("double"))
            ),
            6,
        ).alias("jsd_to_rest"),
    )


def oracle_js_divergence_by_source(
    table: str, group_col: str = "source", text_col: str = "text"
) -> str:
    p = "(CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE))"
    q = "(CAST(r AS DOUBLE) / CAST(n_rest AS DOUBLE))"
    return f"""
    WITH toks AS (
      SELECT {group_col} AS src,
             unnest(regexp_extract_all({text_col}, '{SUBTOKEN_RE}')) AS tok
      FROM {table}
    ),
    per AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    gtok AS (SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM per GROUP BY tok),
    np_ AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_src FROM per GROUP BY src),
    ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM per),
    j AS (
      SELECT p.src, p.c, CAST(g.g - p.c AS BIGINT) AS r, n.n_src,
             CAST(t.n_tot - n.n_src AS BIGINT) AS n_rest
      FROM per p JOIN gtok g ON p.tok = g.tok
                 JOIN np_ n ON p.src = n.src, ntot t
    ),
    agg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS n_tokens,
             sum(CAST(round({p} * ln(2.0 * {p} / ({p} + {q})), 12)
                      AS DECIMAL(38,12))) AS sp,
             sum(CASE WHEN r > 0 THEN
                   CAST(round({q} * ln(2.0 * {q} / ({p} + {q})), 12)
                        AS DECIMAL(38,12))
                 ELSE CAST(0 AS DECIMAL(38,12)) END) AS sq,
             sum(CAST(round({q}, 12) AS DECIMAL(38,12))) AS smass
      FROM j GROUP BY src
    )
    SELECT src AS {group_col}, n_tokens,
           round(0.5 * (CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)
                        + CAST({_LN2!r} AS DOUBLE)
                          * (1.0 - CAST(smass AS DOUBLE))), 6) AS jsd_to_rest
    FROM agg
    """


def feature_hashing(docs: DataFrame, dim: int = 1024, doc_mod: int = 37) -> DataFrame:
    """Hashing-trick featurizer: whitespace tokens hashed into a fixed
    ``dim``-dimensional count vector (Weinberger et al. 2009) — the
    production featurizer for linear text models at corpus scale, where
    a vocabulary dictionary would itself be a big-data object with a
    training-serving skew problem. [[txt_train_lr]]'s in-engine GD
    consumes exactly this long-form (doc, feature, count) layout.

    feature = hash32(token) % dim, counts exact BIGINTs — the whole map
    is one narrow JVM expression chain + one (doc, feat) keyed
    aggregate. ``doc_mod`` gates the demo to a deterministic doc subset
    (the full corpus at 100 TB is the same plan; the gate is a pushed
    scan filter, not a sample stage).

    Output: (doc_id, feat, cnt) long-form sparse matrix.
    """
    from ..functions import hex_hash32, tokenize

    return (
        docs.filter(F.col("doc_id") % doc_mod == 0)
        .select("doc_id", F.explode(tokenize("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            "doc_id", (hex_hash32("tok") % dim).cast("bigint").alias("feat")
        )
        .groupBy("doc_id", "feat")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def oracle_feature_hashing(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    doc_mod: int = 37,
) -> str:
    h = oracle_hash32("tok")
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id, t.tok
      FROM {table},
           UNNEST(list_filter(regexp_split_to_array(trim({text_col}), '{WS}'),
                              x -> x <> '')) AS t(tok)
      WHERE {id_col} % {doc_mod} = 0
    )
    SELECT doc_id, CAST({h} % {dim} AS BIGINT) AS feat,
           CAST(count(*) AS BIGINT) AS cnt
    FROM toks GROUP BY 1, 2
    """
