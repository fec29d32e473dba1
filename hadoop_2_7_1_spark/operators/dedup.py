"""Deduplication operators for large-scale corpus curation.

Not present in the reference (its dedup is group-by-key with identity reduce,
SortValidator.java:101 context); these are the north-star additions scoped
for 100 TB corpora:

- exact:    hash-groupBy on a content fingerprint (one shuffle, map-side
            partial agg; the md5 is computed JVM-side in codegen).
- MinHash+LSH: shingle → K min-hashes → B bands → bucket-join. Candidate
            generation never compares all pairs: cost is Σ bucket² only.
- SimHash:  per-bit majority over token hashes → single 32-bit signature per
            doc; near-dup = small Hamming distance (banded lookup at scale).
- n-gram Jaccard: exact pairwise similarity over a shingle-inverted index
            (the verification stage after LSH candidates at scale).

Cross-engine determinism: every hash derives from md5 hex strings, so the
DuckDB oracle reproduces signatures bit-for-bit (see functions.hex_hash32).

Every engine function over a documents frame reads the table's own columns:
``doc_id`` and ``text``, plus ``source`` or ``url`` where it uses them.
``exact_dup_groups`` and ``fuzzy_key_pairs`` name their columns (their
callers pass other tables), and ``canonical_url`` is a column function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    WS,
    exploded_word_shingles,
    hex_hash32,
    oracle_hash32,
    ws_tokens_sql,
)
from . import fan_out, release_checkpoint


# ---------------------------------------------------------------------------
# shared parts
# ---------------------------------------------------------------------------

def _shingles(docs: DataFrame, n: int, *keep) -> DataFrame:
    """(*keep, shingle): one row per word ``n``-gram of each document's
    ``text``; a document with fewer than ``n`` tokens has none. ``keep``
    are the columns (names or expressions) every row carries. ``fan_out``
    keeps the shingling and hashing off a single input split."""
    return exploded_word_shingles(
        fan_out(docs).select(*keep, "text"), "text", n, "shingle"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Groups of byte-identical content: (fingerprint, n_dups, keep_id).

    keep_id = min id (the canonical survivor); only groups with >1 member.
    """
    return (
        df.select(F.md5(F.col(content_col)).alias("fp"), F.col(id_col).alias("id"))
        .groupBy("fp")
        .agg(F.count("*").cast("bigint").alias("n_dups"), F.min("id").cast("bigint").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_signatures(docs: DataFrame, num_hashes: int, shingle_n: int) -> DataFrame:
    """(id, h0..h{K-1}): per-permutation minimum over each document's
    shingles, a classic MinHash signature. One explode + one groupBy
    (map-side combine).

    Double hashing (Kirsch-Mitzenmacher): two md5-derived 32-bit ints per
    shingle, K permutations h_k = (h1 + k*h2) mod p. 2 digests per shingle
    instead of K — the digest is the hot cost at corpus scale.
    """
    hashed = _shingles(docs, shingle_n, F.col("doc_id").alias("id")).select(
        "id",
        hex_hash32("shingle").alias("h1"),
        hex_hash32("shingle", salt="s").alias("h2"),
    )
    p = 2147483647
    aggs = [
        F.min((F.col("h1") + k * F.col("h2")) % p).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return hashed.groupBy("id").agg(*aggs)


def _band_keys(sig: DataFrame, bands: int) -> DataFrame:
    """(id, band, key) — one row per LSH band of each signature row: the
    band key is the '_'-joined run of rows_per_band consecutive minhash
    values."""
    hs = sig.columns[1:]
    rows_per_band = len(hs) // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *hs[b * rows_per_band:(b + 1) * rows_per_band]).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _lsh_pairs(sig: DataFrame, bands: int, max_bucket: int) -> DataFrame:
    """(id_a, id_b), id_a < id_b: the documents of ``sig`` that share at
    least one band bucket of at most ``max_bucket`` members.

    Docs agreeing on all rows of any band collide in a bucket; the join is on
    (band, key) so work is proportional to bucket sizes, never |D|².

    Degenerate-band cap (the 100 TB skew guard): a bucket of n docs emits
    n(n-1)/2 pairs, so one pathological bucket — all-empty docs, a boilerplate
    shingle set, an adversarial crawl — turns the equi-join quadratic. Buckets
    larger than ``max_bucket`` are dropped *before* the self-join via a
    pre-count (one extra aggregation on the same (band, key) shuffle key).
    Dropping is semantically safe for the dedup pipeline: byte-identical docs
    belong to ``exact_dup_groups`` (run first), and a >max_bucket LSH bucket
    of non-identical docs is hash degeneracy, not signal. The same pre-count
    also removes singleton buckets, which shrinks the join input by the long
    tail of unique docs. Deterministic, so the DuckDB oracle replicates it
    exactly.
    """
    banded = _band_keys(sig, bands)
    ok_buckets = (
        banded.groupBy("band", "key")
        .agg(F.count("*").alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .select("band", "key")
    )
    pruned = banded.join(ok_buckets, ["band", "key"])
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").cast("bigint").alias("id_a"),
            F.col("b.id").cast("bigint").alias("id_b"),
        )
        .distinct()
    )


def _agreement(cands: DataFrame, sig: DataFrame, k: int) -> DataFrame:
    """(id_a, id_b, agree): for each candidate pair, the number of the
    ``k`` MinHash permutations on which the two signatures agree."""
    sa = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)]
    )
    sb = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)]
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    )
    return cands.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", agree.alias("agree")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing ≥1 LSH band
    bucket of at most ``max_bucket`` documents (see :func:`_lsh_pairs`).

    The signatures are materialized: the banded frame is referenced three
    times (bucket pre-count + both self-join sides), and AQE's runtime
    broadcast conversions re-compute a non-materialized subtree instead of
    reusing its shuffle (the shingle-explode + double-md5 pass, the hot
    cost of this operator, ran 3x in the final plan). One row of K ints per
    doc, so the checkpoint is narrow at any corpus size while the digest
    pass it saves is corpus-text-scale. The returned frame keeps it.
    """
    sig = _minhash_signatures(docs, num_hashes, shingle_n).localCheckpoint()
    return _lsh_pairs(sig, bands, max_bucket)


def oracle_lsh_candidate_pairs(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 500,
) -> str:
    """DuckDB SQL reproducing lsh_candidate_pairs bit-for-bit."""
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    p = 2147483647
    mins = ", ".join(
        f"min(({oracle_hash32('shingle')} + {k} * {oracle_hash32('shingle', salt='s')}) % {p}) AS h{k}"
        for k in range(num_hashes)
    )
    rows_per_band = num_hashes // bands
    band_selects = []
    for b in range(bands):
        hs = " || '_' || ".join(
            f"CAST(h{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        band_selects.append(f"SELECT id, {b} AS band, {hs} AS key FROM sig")
    banded = " UNION ALL ".join(band_selects)
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT {id_col} AS id, unnest({shingles}) AS shingle FROM {table}
    ), sig AS MATERIALIZED (
      SELECT id, {mins} FROM sh GROUP BY id
    ), banded AS MATERIALIZED ({banded}), ok AS MATERIALIZED (
      SELECT band, key FROM banded GROUP BY band, key
      HAVING count(*) >= 2 AND count(*) <= {max_bucket}
    ), pruned AS MATERIALIZED (
      SELECT banded.* FROM banded JOIN ok USING (band, key)
    )
    SELECT DISTINCT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b
    FROM pruned a JOIN pruned b ON a.band = b.band AND a.key = b.key AND a.id < b.id
    """


def minhash_accuracy(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 500,
) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair, compare the
    MinHash Jaccard ESTIMATE (fraction of the K permutations agreeing)
    against the EXACT shingle Jaccard; returns one row
    (n_pairs, mean_abs_err, max_abs_err).

    This is the measure-don't-guess loop for the dedup family: run it on a
    sample whenever shingle size / K / banding change. Cost shape = the
    candidate join (Σ bucket²) + the exact verify restricted to pairs
    sharing a shingle — never all-pairs. The error values are rounded to
    9 decimals before the mean so the summary is order-independent.
    """
    sig = _minhash_signatures(docs, num_hashes, shingle_n)
    est = _agreement(_lsh_pairs(sig, bands, max_bucket), sig, num_hashes).select(
        "id_a", "id_b", (F.col("agree").cast("double") / F.lit(num_hashes)).alias("est")
    )
    exact = ngram_jaccard_pairs(docs, shingle_n, threshold=0.0)
    joined = est.join(
        exact.select("id_a", "id_b", "jaccard"), ["id_a", "id_b"], "left"
    ).select(
        F.abs(F.col("est") - F.coalesce(F.col("jaccard"), F.lit(0.0)))
        .cast("decimal(38,9)")
        .alias("err")
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.sum("err").cast("double") / F.count("*")).alias("mean_abs_err"),
        F.max("err").cast("double").alias("max_abs_err"),
    )


def oracle_minhash_accuracy(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 500,
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    p = 2147483647
    mins = ", ".join(
        f"min(({oracle_hash32('shingle')} + {k} * {oracle_hash32('shingle', salt='s')}) % {p}) AS h{k}"
        for k in range(num_hashes)
    )
    matches = " + ".join(
        f"CASE WHEN a.h{k} = b.h{k} THEN 1 ELSE 0 END" for k in range(num_hashes)
    )
    cand_sql = oracle_lsh_candidate_pairs(
        table, id_col, text_col, num_hashes, bands, shingle_n, max_bucket
    )
    exact_sql = oracle_ngram_jaccard_pairs(
        table, id_col, text_col, shingle_n, threshold=0.0
    )
    return f"""
    WITH cand AS MATERIALIZED ({cand_sql}),
    acc_sh AS MATERIALIZED (
      SELECT {id_col} AS id, unnest({shingles}) AS shingle FROM {table}
    ),
    acc_sig AS MATERIALIZED (SELECT id, {mins} FROM acc_sh GROUP BY id),
    est AS (
      SELECT c.id_a, c.id_b, CAST({matches} AS DOUBLE) / {num_hashes} AS est
      FROM cand c JOIN acc_sig a ON c.id_a = a.id JOIN acc_sig b ON c.id_b = b.id
    ),
    ex AS ({exact_sql}),
    j AS (
      SELECT CAST(abs(est.est - coalesce(ex.jaccard, 0.0)) AS DECIMAL(38,9)) AS err
      FROM est LEFT JOIN ex ON est.id_a = ex.id_a AND est.id_b = ex.id_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(err) AS DOUBLE) / count(*) AS mean_abs_err,
           CAST(max(err) AS DOUBLE) AS max_abs_err
    FROM j
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise over inverted index)
# ---------------------------------------------------------------------------

def _overlaps(sh: DataFrame, ordered: bool) -> tuple[DataFrame, DataFrame]:
    """The inverted-index intersection of the distinct (id, shingle) frame
    ``sh``: (id_a, id_b, inter), the number of shingles each pair of
    documents shares — id_a < id_b if ``ordered``, else both orientations —
    and (id, sz), each document's shingle count. |pairs sharing a shingle|
    dominates the cost."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    pair = F.col("a.id") < F.col("b.id") if ordered else F.col("a.id") != F.col("b.id")
    inter = (
        a.join(b, "shingle")
        .filter(pair)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    docs: DataFrame, shingle_n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Pairs (id_a < id_b) with Jaccard(shingle sets) ≥ threshold.

    Inverted-index join (:func:`_overlaps`); at 100 TB run it on LSH
    candidates only (this operator IS the verify stage).
    """
    sh = _shingles(docs, shingle_n, F.col("doc_id").alias("id")).distinct()
    inter, sizes = _overlaps(sh, ordered=True)
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            "jaccard",
        )
    )


def oracle_ngram_jaccard_pairs(
    table: str, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.5
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT {id_col} AS id, unnest({shingles}) AS shingle FROM {table}
    ), sizes AS MATERIALIZED (
      SELECT id, count(*) AS sz FROM sh GROUP BY id
    ), inter AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(inter / (sa.sz + sb.sz - inter) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = inter.id_a
    JOIN sizes sb ON sb.id = inter.id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(id, simhash): per-bit majority vote over token hash bits.

    One explode + one groupBy; the 32 bit-sums are plain conditional sums so
    the whole signature is a single hash-aggregate pass.
    """
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.expr(ws_tokens_sql("text"))).alias("tok"),
    )
    h = hex_hash32("tok")
    bit_terms = [
        F.sum(
            F.when((F.shiftright(h, i).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = toks.groupBy("id").agg(*bit_terms)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select(
        F.col("id").cast("bigint"), sig.cast("bigint").alias("simhash")
    )


def oracle_simhash(table: str, id_col: str, text_col: str, bits: int = 32) -> str:
    h = oracle_hash32("tok")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (({h} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
    WITH toks AS (
      SELECT id, tok FROM (
        SELECT {id_col} AS id,
               unnest(regexp_split_to_array(trim({text_col}), '{WS}')) AS tok
        FROM {table}
      ) WHERE tok <> ''
    ), sums AS (
      SELECT id, {bit_sums} FROM toks GROUP BY id
    )
    SELECT CAST(id AS BIGINT) AS id, CAST({sig} AS BIGINT) AS simhash FROM sums
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicates
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.9, bucket_dims: int = 4
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Scale path: candidates are generated only within a sign-pattern LSH
    bucket (random-hyperplane LSH with axis-aligned planes), so the self-join
    is an equi-join on the bucket key — shuffle-partitioned by bucket, never
    an all-pairs cartesian. Recall can be raised by lowering ``bucket_dims``
    or multi-probing (:func:`similarity.threshold_join`); exactness inside a
    bucket is preserved. Output: (id_a, id_b, cos) with id_a < id_b.
    """
    from .similarity import _bucket_range_join

    return _bucket_range_join(emb, threshold, bucket_dims, flips=False)


def oracle_embedding_neardup(
    table: str, threshold: float = 0.9, bucket_dims: int = 4
) -> str:
    from .similarity import ORACLE_DOT, ORACLE_NORM

    parts = " || ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '+' ELSE '-' END)"
        for i in range(bucket_dims)
    )
    dot = ORACLE_DOT.format(a="a.embedding", b="b.embedding")
    na = ORACLE_NORM.format(a="a.embedding")
    nb = ORACLE_NORM.format(a="b.embedding")
    return f"""
    WITH v AS (SELECT vec_id, embedding, ({parts}) AS bucket FROM {table})
    SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
           CAST({dot} / ({na} * {nb}) AS DOUBLE) AS cos
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {dot} / ({na} * {nb}) >= {threshold}
    """


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_hamming.

    Scale path (banded lookup): two 32-bit signatures within Hamming
    distance 3 must agree exactly on at least one of 4 disjoint bytes
    (pigeonhole), so candidates come from 4 equi-joins on (band_idx, byte)
    — never an all-pairs scan. The exact popcount filter runs on candidates.
    """
    sig = simhash(docs, bits)  # (id, simhash)
    n_bands = 4
    band_w = bits // n_bands
    bands = sig.select(
        F.col("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * band_w)
                        .bitwiseAND(F.lit((1 << band_w) - 1))
                        .alias("bkey"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.col("hamming").cast("int"),
    )


def oracle_simhash_neardup(table: str, id_col: str, text_col: str, max_hamming: int = 3, bits: int = 32) -> str:
    """DuckDB twin of simhash_neardup_pairs (plain all-pairs + popcount —
    the oracle checks the semantics; the banding is a Spark-side pruning
    that cannot change the result set)."""
    sig_sql = oracle_simhash(table, id_col, text_col, bits)
    return f"""
    WITH sig AS MATERIALIZED ({sig_sql})
    SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(node, component) for the undirected graph of the (id_a, id_b)
    near-dup pairs; component = min node id reachable (the canonical
    survivor's id).

    Iterative min-label propagation: each round every node takes the min of
    its own and its neighbors' labels; converged when nothing changes. Rounds
    needed = graph diameter — tiny for dup clusters. Per round: one join +
    one aggregate (both on the node key); localCheckpoint truncates lineage
    so plans don't grow with iterations. Each round's checkpoint is released
    once the next one is materialized, and the edge table after the last
    round: the returned frame keeps only its own final checkpoint.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # every round joins edges; without this the whole upstream pipeline
        # (e.g. MinHash+LSH candidate generation) re-executes per iteration
        .localCheckpoint()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    try:
        labels = nodes.withColumn("component", F.col("node")).localCheckpoint()
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left_outer")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                    ).alias("component"),
                    (F.col("nbr_min") < F.col("component")).alias("_changed"),
                )
                .localCheckpoint()
            )
            release_checkpoint(labels)
            labels = new_labels
            if labels.filter(F.col("_changed")).limit(1).count() == 0:
                break
        else:
            # Partially-propagated labels would silently split one cluster
            # into several; fail loudly instead (caller raises max_iter —
            # rounds needed = component diameter).
            release_checkpoint(labels)
            raise RuntimeError(
                f"connected_components did not converge within max_iter={max_iter}; "
                "labels would be wrong — raise max_iter (rounds needed = diameter)"
            )
    finally:
        release_checkpoint(edges)
    return labels.select(
        F.col("node").cast("bigint"), F.col("component").cast("bigint")
    )


def oracle_connected_components(pairs_sql: str) -> str:
    """DuckDB recursive-CTE twin: min reachable id per node via transitive
    closure (exact; dup clusters are small, so the closure is bounded)."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    reach(src, dst) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT CAST(src AS BIGINT) AS node, CAST(min(dst) AS BIGINT) AS component
    FROM reach GROUP BY src
    """


# ---------------------------------------------------------------------------
# Cross-document repeated-span removal ("paragraph dedup" at token-chunk
# granularity — the scalable form of exact substring dedup from the public
# train-data-dedup literature: repeated spans are found by hashing fixed
# token windows instead of building a corpus suffix array).
# ---------------------------------------------------------------------------


def _doc_chunks(docs: DataFrame, chunk_tokens: int) -> DataFrame:
    """(doc_id, chunk_idx, chunk): consecutive ``chunk_tokens``-token spans
    of the whitespace token stream (shared by chunk_dedup and the
    incremental-ingest index)."""
    w = chunk_tokens
    toks = ws_tokens_sql("text")
    return docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size({toks}) / {w}.0) as int) - 1), "
                f"i -> array_join(slice({toks}, i * {w} + 1, {w}), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    ).filter(F.col("chunk") != "")


def chunk_dedup(docs: DataFrame, chunk_tokens: int = 20) -> DataFrame:
    """Split each doc's whitespace token stream into consecutive
    ``chunk_tokens``-token chunks, dedupe chunks globally (first occurrence
    by (doc_id, chunk_idx) wins), report per-doc survival stats.

    Output: (doc_id, n_chunks, n_dup_chunks, tokens_kept).

    Scale shape: the explode produces ~n_tokens/chunk_tokens rows per doc;
    the single shuffle keys on the chunk md5 — uniform by construction, so
    no hot reducers. Same plan at 100 TB, just more partitions.
    """
    chunks = _doc_chunks(docs, chunk_tokens)
    win = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    ranked = chunks.select(
        "doc_id",
        "chunk_idx",
        F.expr(f"size({ws_tokens_sql('chunk')})").alias("chunk_toks"),
        F.row_number().over(win).alias("rn"),
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint").alias("n_dup_chunks"),
        F.sum(F.when(F.col("rn") == 1, F.col("chunk_toks")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


def oracle_chunk_dedup(table: str, chunk_tokens: int = 20) -> str:
    w = chunk_tokens
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
      FROM {table}
    ), idx AS (
      SELECT doc_id, tk,
             unnest(range(CAST(ceil(len(tk) / {w}.0) AS INT))) AS chunk_idx
      FROM toks WHERE len(tk) > 0
    ), chunks AS (
      SELECT doc_id, chunk_idx,
             array_to_string(list_slice(tk, chunk_idx * {w} + 1, chunk_idx * {w} + {w}), ' ') AS chunk,
             len(list_slice(tk, chunk_idx * {w} + 1, chunk_idx * {w} + {w})) AS chunk_toks
      FROM idx
    ), ranked AS (
      SELECT doc_id, chunk_idx, chunk_toks,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks WHERE chunk <> ''
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN chunk_toks ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM ranked GROUP BY doc_id
    """


def incremental_ingest(
    delta: DataFrame,
    corpus: DataFrame,
    chunk_tokens: int = 20,
    max_known_frac: float = 0.5,
) -> DataFrame:
    """Dedupe an incoming batch against the existing corpus — the daily-
    ingest shape: a delta is admitted unless its exact hash is already
    indexed, or too much of it is made of spans the corpus already has.

    Output per delta doc: (doc_id, n_chunks, n_known, exact_dup, kept) with
    kept = NOT exact_dup AND n_known/n_chunks < max_known_frac.

    Scale shape: the corpus never re-shuffles against itself — only its two
    indexes (distinct text md5s; distinct chunk md5s) participate, each an
    equi-join against the (much smaller) delta side. In production the
    indexes are materialized once and appended per ingest, not recomputed.
    """
    fp_index = corpus.select(F.md5("text").alias("fp")).distinct()
    chunk_index = (
        _doc_chunks(corpus, chunk_tokens).select(F.md5("chunk").alias("ch")).distinct()
    )
    delta_chunks = _doc_chunks(delta, chunk_tokens).select(
        "doc_id", F.md5("chunk").alias("ch")
    )
    known = (
        delta_chunks.join(
            chunk_index.withColumn("__hit", F.lit(True)), "ch", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("bigint").alias("n_known"),
        )
    )
    exact = delta.select("doc_id", F.md5("text").alias("fp")).join(
        fp_index.withColumn("__dup", F.lit(True)), "fp", "left"
    )
    return (
        known.join(exact.select("doc_id", "__dup"), "doc_id")
        .select(
            F.col("doc_id").cast("bigint"),
            "n_chunks",
            "n_known",
            F.coalesce(F.col("__dup"), F.lit(False)).alias("exact_dup"),
            (
                F.coalesce(~F.col("__dup"), F.lit(True))
                & (F.col("n_known") / F.col("n_chunks") < max_known_frac)
            ).alias("kept"),
        )
    )


def oracle_incremental_ingest(
    delta_sql: str,
    corpus_sql: str,
    chunk_tokens: int = 20,
    max_known_frac: float = 0.5,
) -> str:
    w = chunk_tokens
    def chunk_cte(src: str, name: str) -> str:
        return f"""
    {name}_toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
      FROM {src}
    ), {name}_idx AS (
      SELECT doc_id, tk,
             unnest(range(CAST(ceil(len(tk) / {w}.0) AS INT))) AS chunk_idx
      FROM {name}_toks WHERE len(tk) > 0
    ), {name}_chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(tk, chunk_idx * {w} + 1, chunk_idx * {w} + {w}), ' ')) AS ch
      FROM {name}_idx
      WHERE array_to_string(list_slice(tk, chunk_idx * {w} + 1, chunk_idx * {w} + {w}), ' ') <> ''
    )"""
    return f"""
    WITH delta AS ({delta_sql}), corpus AS ({corpus_sql}),
    {chunk_cte('delta', 'd')},
    {chunk_cte('corpus', 'c')},
    chunk_index AS (SELECT DISTINCT ch FROM c_chunks),
    fp_index AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
    known AS (
      SELECT d.doc_id, count(*) AS n_chunks,
             sum(CASE WHEN ci.ch IS NOT NULL THEN 1 ELSE 0 END) AS n_known
      FROM d_chunks d LEFT JOIN chunk_index ci ON d.ch = ci.ch
      GROUP BY d.doc_id
    ), exact AS (
      SELECT doc_id, (fp_index.fp IS NOT NULL) AS exact_dup
      FROM (SELECT doc_id, md5(text) AS fp FROM delta) x
      LEFT JOIN fp_index ON x.fp = fp_index.fp
    )
    SELECT CAST(k.doc_id AS BIGINT) AS doc_id,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_known AS BIGINT) AS n_known,
           e.exact_dup,
           (NOT e.exact_dup AND n_known / CAST(n_chunks AS DOUBLE) < {max_known_frac})
             AS kept
    FROM known k JOIN exact e ON k.doc_id = e.doc_id
    """


def incremental_lsh(
    delta: DataFrame,
    corpus: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH-grade NEAR-dup admission of an incoming shard against the corpus
    — the continuously-ingesting companion to :func:`incremental_ingest`
    (which is exact-hash/known-span only): a delta doc is rejected when
    any of its MinHash band keys collides with the corpus's banded index,
    or with a smaller-id doc in the same delta (first-writer-wins within
    the shard).

    Output per delta doc: (doc_id, n_bands, n_corpus_hits, delta_dup, kept)
    with kept = n_corpus_hits = 0 AND NOT delta_dup.

    Scale shape — strictly cheaper than the batch pair-mining path: the
    corpus participates ONLY via its DISTINCT (band, key) index (in
    production materialized once and appended per ingest, never recomputed
    or re-shuffled against itself), and there is NO pair enumeration
    anywhere — corpus collision is a semi-join-shaped left join against
    the key index, intra-delta dedup is a bucket-min aggregation
    (min(doc_id) per (band, key)), so a degenerate bucket costs one
    aggregation row, not n²/2 pairs, and lsh_candidate_pairs' max_bucket
    guard is unnecessary by construction. First-writer-wins is the
    standard streaming-ingest discipline: each bucket's smallest delta id
    is the potential keeper and every later colliding id drops, which is
    deterministic and replayable in SQL without iteration (a
    component-wise rep choice would need the connected-components loop —
    that is the BATCH keep-list's job, :func:`dedup_keeplist`).
    """
    # materialize the delta's banded keys — they feed the corpus left join
    # AND the bucket-min aggregation, and AQE's runtime broadcast
    # conversions re-compute non-materialized subtrees (the delta's
    # shingle + double-md5 signature pass ran twice). The delta shard is
    # the small side by definition, so the checkpoint is bounded.
    d_banded = _band_keys(
        _minhash_signatures(delta, num_hashes, shingle_n), bands
    ).localCheckpoint()
    c_keys = (
        _band_keys(_minhash_signatures(corpus, num_hashes, shingle_n), bands)
        .select("band", "key")
        .distinct()
    )
    d_min = d_banded.groupBy("band", "key").agg(F.min("id").alias("min_id"))
    j = d_banded.join(
        c_keys.withColumn("__hit", F.lit(True)), ["band", "key"], "left"
    ).join(d_min, ["band", "key"])
    agg = j.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_bands"),
        F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("bigint").alias("n_corpus_hits"),
        F.max(F.when(F.col("min_id") < F.col("id"), 1).otherwise(0)).alias("_sm"),
    )
    return agg.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "n_bands",
        "n_corpus_hits",
        (F.col("_sm") == 1).alias("delta_dup"),
        ((F.col("n_corpus_hits") == 0) & (F.col("_sm") == 0)).alias("kept"),
    )


def oracle_incremental_lsh(
    delta_sql: str,
    corpus_sql: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> str:
    """DuckDB twin of :func:`incremental_lsh` — same salted double-hash
    signatures and band keys as :func:`oracle_lsh_candidate_pairs`, but
    collision DETECTION (left join vs the distinct corpus key index +
    bucket-min within the delta), never pair enumeration."""
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles("text", shingle_n)
    p = 2147483647
    mins = ", ".join(
        f"min(({oracle_hash32('shingle')} + {k} * {oracle_hash32('shingle', salt='s')}) % {p}) AS h{k}"
        for k in range(num_hashes)
    )
    rows_per_band = num_hashes // bands

    def banded(src_sig: str) -> str:
        selects = []
        for b in range(bands):
            hs = " || '_' || ".join(
                f"CAST(h{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            )
            selects.append(f"SELECT id, {b} AS band, {hs} AS key FROM {src_sig}")
        return " UNION ALL ".join(selects)

    return f"""
    WITH delta AS ({delta_sql}), corpus AS ({corpus_sql}),
    d_sh AS MATERIALIZED (
      SELECT doc_id AS id, unnest({shingles}) AS shingle FROM delta
    ), d_sig AS MATERIALIZED (
      SELECT id, {mins} FROM d_sh GROUP BY id
    ), d_banded AS MATERIALIZED ({banded("d_sig")}),
    c_sh AS MATERIALIZED (
      SELECT doc_id AS id, unnest({shingles}) AS shingle FROM corpus
    ), c_sig AS MATERIALIZED (
      SELECT id, {mins} FROM c_sh GROUP BY id
    ), c_keys AS MATERIALIZED (
      SELECT DISTINCT band, key FROM ({banded("c_sig")})
    ), d_min AS MATERIALIZED (
      SELECT band, key, min(id) AS min_id FROM d_banded GROUP BY band, key
    ), j AS (
      SELECT b.id, (ck.band IS NOT NULL) AS hit, (dm.min_id < b.id) AS smaller
      FROM d_banded b
      LEFT JOIN c_keys ck ON b.band = ck.band AND b.key = ck.key
      JOIN d_min dm ON b.band = dm.band AND b.key = dm.key
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bands,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus_hits,
           bool_or(smaller) AS delta_dup,
           (sum(CASE WHEN hit THEN 1 ELSE 0 END) = 0 AND NOT bool_or(smaller))
             AS kept
    FROM j GROUP BY id
    """


def ngram_containment_pairs(
    docs: DataFrame, shingle_n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric near-dup: ordered pairs (id_a, id_b) where
    containment(A in B) = |A∩B| / |A| ≥ threshold — catches a document
    swallowed whole by a larger one, which symmetric Jaccard dilutes away.

    Same inverted-index join as ngram_jaccard_pairs (:func:`_overlaps`);
    only the normalizer and the pair orientation differ (both directions
    are emitted).
    """
    sh = _shingles(docs, shingle_n, F.col("doc_id").alias("id")).distinct()
    inter, sizes = _overlaps(sh, ordered=False)
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .withColumn("containment", (F.col("inter") / F.col("sz_a")).cast("double"))
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            "containment",
        )
    )


def oracle_ngram_containment_pairs(
    table: str, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.8
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT {id_col} AS id, unnest({shingles}) AS shingle FROM {table}
    ), sizes AS MATERIALIZED (
      SELECT id, count(*) AS sz FROM sh GROUP BY id
    ), inter AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id <> b.id
      GROUP BY a.id, b.id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(inter / sa.sz AS DOUBLE) AS containment
    FROM inter JOIN sizes sa ON sa.id = inter.id_a
    WHERE inter / sa.sz >= {threshold}
    """


# ---------------------------------------------------------------------------
# Sorted-neighborhood candidate pairing (Hernandez-Stolfo merge/purge)
# ---------------------------------------------------------------------------

def sorted_neighborhood_pairs(
    docs: DataFrame,
    block_chars: int = 8,
    window: int = 3,
    prefix_chars: int = 40,
    max_dist: int = 20,
) -> DataFrame:
    """Near-dup candidate pairs by the sorted-neighborhood method: sort
    records on a blocking key (first ``block_chars`` characters), slide a
    window of ``window`` records, and verify each record against its
    window successors with edit distance over a ``prefix_chars`` prefix.

    Complements the set-similarity paths (MinHash/SimHash): SNM catches
    near-identical PREFIXES (truncation dups, re-crawls with appended
    boilerplate) that shingle sketches dilute. Scale shape: the window is
    partitioned BY the block key — each block sorts independently, no
    global-order single-partition window; pair fan-out is window-1 per
    row; the levenshtein verify runs only on candidate pairs, codegen-side.
    Output: (id_a, id_b, dist) with id_a < id_b order within the block sort.
    """
    base = docs.select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.substring("text", 1, prefix_chars).alias("pfx"),
        F.substring("text", 1, block_chars).alias("blk"),
    )
    w = Window.partitionBy("blk").orderBy("pfx", "id")
    leads = base.select(
        "id",
        "pfx",
        *[F.lead("id", i).over(w).alias(f"nid{i}") for i in range(1, window)],
        *[F.lead("pfx", i).over(w).alias(f"npfx{i}") for i in range(1, window)],
    )
    pairs = None
    for i in range(1, window):
        p = (
            leads.filter(F.col(f"nid{i}").isNotNull())
            .select(
                F.col("id").alias("id_a"),
                F.col(f"nid{i}").alias("id_b"),
                F.levenshtein("pfx", f"npfx{i}").cast("bigint").alias("dist"),
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.filter(F.col("dist") <= max_dist).distinct()


def oracle_sorted_neighborhood_pairs(
    table: str,
    id_col: str,
    text_col: str,
    block_chars: int = 8,
    window: int = 3,
    prefix_chars: int = 40,
    max_dist: int = 20,
) -> str:
    nid = ", ".join(
        f"lead({id_col}, {i}) OVER w AS nid{i}, lead(pfx, {i}) OVER w AS npfx{i}"
        for i in range(1, window)
    )
    arms = "\n      UNION ALL\n".join(
        f"""      SELECT {id_col} AS id_a, nid{i} AS id_b,
             CAST(levenshtein(pfx, npfx{i}) AS BIGINT) AS dist
      FROM leads WHERE nid{i} IS NOT NULL"""
        for i in range(1, window)
    )
    return f"""
    WITH base AS (
      SELECT {id_col},
             substr({text_col}, 1, {prefix_chars}) AS pfx,
             substr({text_col}, 1, {block_chars}) AS blk
      FROM {table}
    ),
    leads AS (
      SELECT {id_col}, pfx, {nid}
      FROM base
      WINDOW w AS (PARTITION BY blk ORDER BY pfx, {id_col})
    ),
    pairs AS (
{arms}
    )
    SELECT DISTINCT id_a, id_b, dist FROM pairs WHERE dist <= {max_dist}
    """


# ---------------------------------------------------------------------------
# URL canonicalization + dedup — the web-corpus ingest step (same URL
# crawled under case/port/fragment/tracking-param/param-order variants must
# collapse to ONE document). Canonicalization is 100% JVM expressions.
# ---------------------------------------------------------------------------

_TRACKING_RE = "^(utm_[^=]*|fbclid|gclid|msclkid|ref)="


def canonical_url(url_col: str):
    """Column expression: canonical form of a URL column.

    Rules (the standard crawl-dedup set): lowercase scheme+host, strip
    default ports (http:80 / https:443), drop the fragment, drop tracking
    query params (utm_*, fbclid, gclid, msclkid, ref), sort the remaining
    params, strip trailing path slashes (bare host keeps '/'). Values
    without a ``scheme://`` authority form (mailto:, relative paths,
    javascript:) pass through UNCHANGED — collapsing them all to one
    degenerate key would merge unrelated rows.
    """
    u = f"regexp_replace({url_col}, '#.*$', '')"  # fragment off first
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    host = f"lower(regexp_extract({u}, '://([^/?#]+)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({host}, ':443$', '') "
        f"ELSE {host} END"
    )
    path = f"regexp_extract({u}, '://[^/?#]+([^?#]*)', 1)"
    path = f"CASE WHEN regexp_replace({path}, '/+$', '') = '' THEN '/' ELSE regexp_replace({path}, '/+$', '') END"
    query = f"regexp_extract({u}, '\\\\?([^#]*)', 1)"
    kept = (
        f"array_join(array_sort(filter(split({query}, '&'), "
        f"p -> p != '' AND NOT p RLIKE '{_TRACKING_RE}')), '&')"
    )
    return F.expr(
        f"CASE WHEN {scheme} = '' OR {host} = '' THEN {url_col} "
        f"ELSE concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {kept} != '' THEN concat('?', {kept}) ELSE '' END) END"
    )


def oracle_canonical_url(url_expr: str) -> str:
    """DuckDB fragment computing the identical canonical form."""
    u = f"regexp_replace({url_expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    host = f"lower(regexp_extract({u}, '://([^/?#]+)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({host}, ':443$', '') "
        f"ELSE {host} END"
    )
    path = f"regexp_extract({u}, '://[^/?#]+([^?#]*)', 1)"
    path = (
        f"CASE WHEN regexp_replace({path}, '/+$', '') = '' THEN '/' "
        f"ELSE regexp_replace({path}, '/+$', '') END"
    )
    query = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    kept = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_RE}'))), '&')"
    )
    return (
        f"CASE WHEN {scheme} = '' OR {host} = '' THEN {url_expr} "
        f"ELSE concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {kept} <> '' THEN concat('?', {kept}) ELSE '' END) END"
    )


def url_dedup(docs: DataFrame) -> DataFrame:
    """(canonical_url, n_variants, keep_id): collapse URL variants; one
    hash-groupBy shuffle on the canonical form (uniform md5-like key mix at
    corpus scale — hosts are high-cardinality)."""
    return (
        docs.select(F.col("doc_id").alias("id"), canonical_url("url").alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").cast("bigint").alias("n_variants"),
            F.min("id").cast("bigint").alias("keep_id"),
        )
        .select(F.col("curl").alias("canonical_url"), "n_variants", "keep_id")
    )


def _gram_hashes(docs: DataFrame, n: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The word ``n``-gram hash stream of each document:

    - (doc, tk): the document's whitespace tokens;
    - (doc, pos, gh): the md5 of the n-gram starting at token ``pos``
      (1-based), for every document with at least ``n`` tokens;
    - (gh, owner): the grams that occur in more than one document, with the
      smallest such doc id. The cross-doc test is min <> max — map-side
      combinable partial aggregates, no count-distinct key expansion on the
      gram shuffle.

    It explodes the POSITION SEQUENCE, not a prebuilt gram-string array:
    generating array<string> per doc and exploding it costs ~6x this stage
    in UnsafeArray construction/copies, while exploding the int sequence
    keeps the md5(concat_ws(slice)) per OUTPUT ROW inside whole-stage
    codegen (measured 6.1s -> 0.8s at sf0.1). fan_out keeps the hashing off
    a single input split when the source arrives as one small file.
    """
    tk = fan_out(docs).select(
        F.col("doc_id").cast("bigint").alias("doc"), F.expr(ws_tokens_sql("text")).alias("tk")
    )
    grams = (
        tk.filter(F.expr(f"size(tk) >= {n}"))
        .select("doc", "tk", F.explode(F.expr(f"sequence(1, size(tk) - {n} + 1)")).alias("pos"))
        .select("doc", "pos", F.expr(f"md5(concat_ws(' ', slice(tk, pos, {n})))").alias("gh"))
    )
    owners = (
        grams.groupBy("gh")
        .agg(F.min("doc").alias("owner"), F.max("doc").alias("_hi"))
        .filter(F.col("owner") != F.col("_hi"))
        .select("gh", "owner")
    )
    return tk, grams, owners


def dup_span_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exact duplicated-substring detection at n-gram granularity
    (the scalable form of suffix-array substring dedup, Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better").

    Every word n-gram is hashed into an inverted index; a gram that occurs
    in more than one document marks its positions as duplicated, and runs
    of consecutive duplicated positions merge into maximal spans. Per doc:
    (n_grams, n_dup_grams, n_dup_spans, dup_frac) — the removal step would
    cut exactly those spans.

    Scale shape: gram fan-out is a narrow map (~1 row per token); the only
    shuffles are the gram-hash groupBy (map-side partial), the equi-join
    back, and a doc-keyed window for run merging. Never all-pairs, never a
    global sort. At 100 TB the gram index is the dominant shuffle — salt is
    unnecessary because gram hashes are uniform md5.
    """
    tk, grams, owners = _gram_hashes(docs, n)
    marked = grams.join(owners, "gh").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    spans = (
        marked.withColumn("prev", F.lag("pos").over(w))
        .withColumn("new_run", F.when(F.col("prev").isNull() | (F.col("pos") != F.col("prev") + 1), 1).otherwise(0))
        .groupBy("doc")
        .agg(
            F.count("*").cast("bigint").alias("n_dup_grams"),
            F.sum("new_run").cast("bigint").alias("n_dup_spans"),
        )
    )
    totals = tk.select(
        "doc", F.expr(f"cast(greatest(size(tk) - {n} + 1, 0) as bigint)").alias("n_grams")
    )
    return (
        totals.join(spans, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            (
                F.coalesce("n_dup_grams", F.lit(0)).cast("double")
                / F.greatest(F.col("n_grams"), F.lit(1))
            ).alias("dup_frac"),
        )
    )


def oracle_dup_span_stats(table: str, id_col: str, text_col: str, n: int = 8) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH tk AS (
      SELECT CAST({id_col} AS BIGINT) AS doc, {toks} AS t FROM {table}
    ), grams AS (
      SELECT doc, pos, md5(array_to_string(t[pos : pos + {n} - 1], ' ')) AS gh
      FROM tk, UNNEST(range(1, greatest(len(t) - {n} + 2, 1))) AS u(pos)
    ), dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING min(doc) <> max(doc)
    ), marked AS (
      SELECT doc, pos, lag(pos) OVER (PARTITION BY doc ORDER BY pos) AS prev
      FROM grams JOIN dup USING (gh)
    ), spans AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_dup_grams,
             CAST(sum(CASE WHEN prev IS NULL OR pos <> prev + 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM marked GROUP BY doc
    ), totals AS (
      SELECT doc, CAST(greatest(len(t) - {n} + 1, 0) AS BIGINT) AS n_grams FROM tk
    )
    SELECT totals.doc AS doc_id, n_grams,
           CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(n_dup_grams, 0) AS DOUBLE) / greatest(n_grams, 1) AS dup_frac
    FROM totals LEFT JOIN spans USING (doc)
    """


def fuzzy_key_pairs(
    df: DataFrame, id_col: str, key_col: str
) -> DataFrame:
    """Edit-distance-1 entity resolution via deletion-neighborhood blocking.

    Every key generates itself plus its |s| single-character deletions; two
    keys within Levenshtein distance 1 ALWAYS share a block (substitution:
    both delete the differing position; insertion/deletion: the longer
    key's deletion equals the shorter key), so an equi-join on the block
    string finds every candidate without comparing all pairs. A JVM
    ``levenshtein`` verify then removes block-collision false positives.

    Scale shape: |s|+1 narrow fan-out rows per key, one block-keyed
    shuffle whose bucket sizes are true near-dup group sizes (never the
    corpus), distinct on the pair. The classic FastSS decomposition,
    Spark-shaped.
    """
    variants = (
        f"array_union(array(lower({key_col})), "
        f"transform(sequence(1, length({key_col})), i -> "
        f"concat(substring(lower({key_col}), 1, i - 1), "
        f"substring(lower({key_col}), i + 1, length({key_col})))))"
    )
    blocks = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(key_col).alias("key"),
        F.explode(F.expr(variants)).alias("blk"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
        )
        .distinct()
        .withColumn("dist", F.levenshtein("key_a", "key_b").cast("bigint"))
        .filter(F.col("dist") <= 1)
    )


def oracle_fuzzy_key_pairs(table: str, id_col: str, key_col: str) -> str:
    variants = (
        f"list_distinct(list_append(list_transform(range(1, length({key_col}) + 1), i -> "
        f"substr(lower({key_col}), 1, i - 1) || substr(lower({key_col}), i + 1, "
        f"length({key_col}))), lower({key_col})))"
    )
    return f"""
    WITH blocks AS (
      SELECT CAST({id_col} AS BIGINT) AS id, {key_col} AS key, unnest({variants}) AS blk
      FROM {table}
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
      FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.id < b.id
    )
    SELECT id_a, id_b, key_a, key_b,
           CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(key_a, key_b) <= 1
    """


def dedup_keeplist(docs: DataFrame) -> DataFrame:
    """The full dedup DECISION for every document — the artifact a curation
    run actually ships: (doc_id, keep, reason, canonical_id).

    Precedence mirrors the standard pipeline order: byte-identical dups go
    first (reason ``exact_dup``, canonical = min id of the identical
    group), then MinHash-LSH near-dup clusters (reason ``near_dup``,
    canonical = connected-component min). Survivors get ``keep``.

    Scale shape: the exact pass is one fp-keyed shuffle; the near pass
    reuses the banded LSH candidate join + min-label components (both
    plan-audited elsewhere); the final assembly is two equi-joins on
    doc_id. Nothing here is new data movement — it composes the audited
    stages into the shippable keep-list.
    """
    ids = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), F.md5("text").alias("fp"))
    exact_keep = ids.groupBy("fp").agg(F.min("doc_id").alias("exact_canon"))
    with_exact = ids.join(exact_keep, "fp").select("doc_id", "exact_canon")
    # lsh_candidate_pairs with its defaults, but the signature checkpoint is
    # this function's own: once the components have read the pairs, nothing
    # does, so it is released
    sig = _minhash_signatures(docs, 16, 3).localCheckpoint()
    try:
        comp = connected_components(_lsh_pairs(sig, 4, 500))
    finally:
        release_checkpoint(sig)
    out = with_exact.join(
        comp, with_exact.doc_id == comp.node, "left"
    ).select(
        "doc_id",
        "exact_canon",
        F.coalesce("component", F.col("doc_id")).alias("near_canon"),
    )
    reason = (
        F.when(F.col("doc_id") != F.col("exact_canon"), F.lit("exact_dup"))
        .when(F.col("doc_id") != F.col("near_canon"), F.lit("near_dup"))
        .otherwise(F.lit("keep"))
    )
    canonical = (
        F.when(F.col("doc_id") != F.col("exact_canon"), F.col("exact_canon"))
        .otherwise(F.col("near_canon"))
    )
    return out.select(
        "doc_id",
        (reason == "keep").alias("keep"),
        reason.alias("reason"),
        canonical.cast("bigint").alias("canonical_id"),
    )


def oracle_dedup_keeplist(table: str, id_col: str, text_col: str) -> str:
    comp_sql = oracle_connected_components(
        oracle_lsh_candidate_pairs(table, id_col, text_col)
    )
    return f"""
    WITH ex AS (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, md5({text_col}) AS fp FROM {table}
    ), ek AS (
      SELECT fp, min(doc_id) AS exact_canon FROM ex GROUP BY fp
    ), comp AS (
      SELECT * FROM ({comp_sql})
    ), base AS (
      SELECT ex.doc_id, ek.exact_canon,
             coalesce(comp.component, ex.doc_id) AS near_canon
      FROM ex JOIN ek USING (fp)
      LEFT JOIN comp ON comp.node = ex.doc_id
    )
    SELECT doc_id,
           (CASE WHEN doc_id <> exact_canon THEN 'exact_dup'
                 WHEN doc_id <> near_canon THEN 'near_dup'
                 ELSE 'keep' END) = 'keep' AS keep,
           CASE WHEN doc_id <> exact_canon THEN 'exact_dup'
                WHEN doc_id <> near_canon THEN 'near_dup'
                ELSE 'keep' END AS reason,
           CAST(CASE WHEN doc_id <> exact_canon THEN exact_canon
                     ELSE near_canon END AS BIGINT) AS canonical_id
    FROM base
    """


def remove_dup_spans(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exact duplicated-substring REMOVAL (the cleaning step of
    suffix-array dedup): any token covered by a cross-doc duplicated
    n-gram is cut from every doc except the gram's owner (min doc id),
    and the surviving tokens are reassembled in order.

    Output: (doc_id, n_before, n_after, cleaned_md5) — the md5 keeps the
    verified artifact row-sized; the same pipeline writes the cleaned
    text column when shipping.

    Scale shape: gram index + owner fold (one gh shuffle, min/max
    partials), coverage expansion is a bounded ×n explode of MARKED
    positions only, reassembly is one doc-keyed aggregation whose
    in-group ordering comes from array_sort over (pos, tok) structs —
    deterministic at any parallelism, no global sort anywhere.
    """
    tk, grams, owners = _gram_hashes(docs, n)
    toks = tk.select(
        "doc", F.posexplode("tk").alias("pos", "tok")
    ).withColumn("pos", F.col("pos") + 1)
    marked = (
        grams.join(owners, "gh")
        .filter(F.col("doc") != F.col("owner"))
        .select("doc", "pos")
    )
    removed = marked.select(
        "doc", F.explode(F.expr(f"sequence(pos, pos + {n} - 1)")).alias("pos")
    ).distinct()
    kept = toks.join(removed, ["doc", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
            )
        ).alias("cleaned_md5"),
    )
    totals = tk.select("doc", F.expr("cast(size(tk) as bigint)").alias("n_before"))
    return totals.join(rebuilt, "doc", "left").select(
        F.col("doc").alias("doc_id"),
        "n_before",
        F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
        F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
    )


def oracle_remove_dup_spans(table: str, id_col: str, text_col: str, n: int = 8) -> str:
    toks = f"list_filter(regexp_split_to_array(trim({text_col}), '{WS}'), t -> t <> '')"
    return f"""
    WITH base AS (
      SELECT CAST({id_col} AS BIGINT) AS doc, {toks} AS tk FROM {table}
    ), toks AS (
      SELECT doc, pos, tk[pos] AS tok
      FROM base, UNNEST(range(1, len(tk) + 1)) AS u(pos)
    ), grams AS (
      SELECT doc, gpos, md5(array_to_string(tk[gpos : gpos + {n} - 1], ' ')) AS gh
      FROM base, UNNEST(range(1, greatest(len(tk) - {n} + 2, 1))) AS g(gpos)
    ), owners AS (
      SELECT gh, min(doc) AS owner FROM grams
      GROUP BY gh HAVING min(doc) <> max(doc)
    ), marked AS (
      SELECT g.doc, g.gpos FROM grams g JOIN owners o USING (gh)
      WHERE g.doc <> o.owner
    ), removed AS (
      SELECT DISTINCT doc, pos
      FROM marked, UNNEST(range(gpos, gpos + {n})) AS r(pos)
    ), kept AS (
      SELECT t.doc, t.pos, t.tok
      FROM toks t LEFT JOIN removed r ON t.doc = r.doc AND t.pos = r.pos
      WHERE r.pos IS NULL
    ), rebuilt AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_after,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
      FROM kept GROUP BY doc
    )
    SELECT base.doc AS doc_id,
           CAST(len(tk) AS BIGINT) AS n_before,
           CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
           coalesce(cleaned_md5, md5('')) AS cleaned_md5
    FROM base LEFT JOIN rebuilt ON rebuilt.doc = base.doc
    """


def lsh_band_sweep(
    docs: DataFrame,
    num_hashes: int = 16,
    bands_list: tuple[int, ...] = (2, 4, 8),
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 500,
) -> DataFrame:
    """Banding operating-point curve: for each (bands, rows_per_band)
    config, measure candidate volume (the cost) and recall of true
    near-duplicate pairs (exact Jaccard >= ``threshold``) — the banded-LSH
    S-curve, measured instead of assumed (the dedup twin of
    sim_kmeans_recall_curve).

    One exact-pair ground truth (inverted-index join, never all-pairs),
    then per config a candidate generation + two counts. Pick the smallest
    bands (largest rows-per-band) whose recall clears the target; the
    candidate count is the Σ bucket² bill you pay for it. All outputs are
    ratios of exact integers.
    """
    truth = ngram_jaccard_pairs(docs, shingle_n, threshold).select("id_a", "id_b")
    t_tot = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    # One signature frame serves every band config (the signatures depend
    # only on K; banding is just a re-grouping).
    sig = _minhash_signatures(docs, num_hashes, shingle_n)
    curve = None
    for bands in bands_list:
        cands = _lsh_pairs(sig, bands, max_bucket)
        n_c = cands.agg(F.count("*").cast("bigint").alias("n_candidates"))
        n_f = truth.join(cands, ["id_a", "id_b"]).agg(
            F.count("*").cast("bigint").alias("n_found")
        )
        point = n_c.crossJoin(F.broadcast(n_f)).select(
            F.lit(bands).cast("bigint").alias("bands"),
            F.lit(num_hashes // bands).cast("bigint").alias("rows_per_band"),
            "n_candidates",
            "n_found",
        )
        curve = point if curve is None else curve.unionByName(point)
    return curve.crossJoin(F.broadcast(t_tot)).select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_truth",
        "n_found",
        F.expr(
            "case when n_truth = 0 then cast(0 as double)"
            " else cast(n_found as double) / n_truth end"
        ).alias("recall"),
    )


def oracle_lsh_band_sweep(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands_list: tuple[int, ...] = (2, 4, 8),
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 500,
) -> str:
    truth_sql = oracle_ngram_jaccard_pairs(table, id_col, text_col, shingle_n, threshold)
    blocks = []
    selects = []
    for bands in bands_list:
        cand = oracle_lsh_candidate_pairs(
            table, id_col, text_col, num_hashes, bands, shingle_n, max_bucket
        )
        blocks.append(f"cand{bands} AS ({cand})")
        selects.append(
            f"""SELECT CAST({bands} AS BIGINT) AS bands,
               CAST({num_hashes // bands} AS BIGINT) AS rows_per_band,
               (SELECT CAST(count(*) AS BIGINT) FROM cand{bands}) AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT)
                FROM truth JOIN cand{bands} USING (id_a, id_b)) AS n_found"""
        )
    union = "\n      UNION ALL\n".join(selects)
    ctes = ",\n    ".join(blocks)
    return f"""
    WITH truth AS (SELECT id_a, id_b FROM ({truth_sql})),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
    {ctes},
    curve AS (
      {union}
    )
    SELECT bands, rows_per_band, n_candidates, n_truth, n_found,
           CASE WHEN n_truth = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(n_found AS DOUBLE) / n_truth END AS recall
    FROM curve, tt
    """


# ---------------------------------------------------------------------------
# Train/eval contamination — the benchmark-leakage audit: what fraction of
# each held-out document's shingles already appears anywhere in the
# training split. Run before every eval; near-dup thresholds don't catch
# partial copying, containment-per-eval-doc does.
# ---------------------------------------------------------------------------


def contamination_report(
    docs: DataFrame, eval_filter: str, shingle_n: int = 3
) -> DataFrame:
    """Per-eval-document shingle containment against the train split.

    ONE shingle explosion over the whole corpus, split into eval and train
    sides by the boolean ``eval_filter``; the train side collapses to
    DISTINCT shingles (the inverted-index key set); eval shingles left-join
    it and count hits — a pure equi-join on the shingle hash space, never
    doc×doc. Documents shorter than ``shingle_n`` words have no shingles
    and emit no row (identical in both engines).

    Output: (doc_id, n_shingles, n_contaminated, contamination).
    """
    sh = _shingles(
        docs, shingle_n, F.col("doc_id").alias("id"), F.expr(eval_filter).alias("is_eval")
    ).distinct()
    train = sh.filter(~F.col("is_eval")).select("shingle").distinct().withColumn(
        "__hit", F.lit(True)
    )
    ev = sh.filter(F.col("is_eval")).join(train, "shingle", "left")
    return ev.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("bigint").alias("n_contaminated"),
        F.round(
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("contamination"),
    )


def oracle_contamination_report(
    table: str, id_col: str, text_col: str, eval_filter: str, shingle_n: int = 3
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT {id_col} AS id, ({eval_filter}) AS is_eval,
             unnest({shingles}) AS shingle
      FROM {table}
    ),
    train AS MATERIALIZED (SELECT DISTINCT shingle FROM sh WHERE NOT is_eval),
    ev AS (
      SELECT s.id, CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM sh s LEFT JOIN train t ON s.shingle = t.shingle
      WHERE s.is_eval
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(hit) AS BIGINT) AS n_contaminated,
           round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS contamination
    FROM ev GROUP BY id
    """


def shingle_profile(docs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """Shingle-repetitiveness profile per source: total vs distinct
    shingle counts, the repetition ratio 1 − distinct/total, and the
    single most duplicated shingle — the quick corpus-health readout that
    says WHERE near-dup pressure concentrates before running the full
    dedup passes.

    One shingle explosion, one (source, shingle) count shuffle, a
    per-source rollup, and a keyed top-1 window. Output: (source,
    n_shingles, n_distinct, repetition, top_shingle, top_count).
    """
    counts = _shingles(docs, shingle_n, "source").groupBy("source", "shingle").agg(
        F.count("*").cast("bigint").alias("c")
    )
    roll = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_shingles"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("shingle"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("shingle").alias("top_shingle"), F.col("c").alias("top_count"))
    )
    return roll.join(top, "source").select(
        "source",
        "n_shingles",
        "n_distinct",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("repetition"),
        "top_shingle",
        "top_count",
    )


def oracle_shingle_profile(
    table: str,
    id_col: str,
    text_col: str,
    group_col: str = "source",
    shingle_n: int = 3,
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    return f"""
    WITH sh AS (
      SELECT {group_col} AS src, unnest({shingles}) AS shingle FROM {table}
    ),
    counts AS (
      SELECT src, shingle, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1, 2
    ),
    roll AS (
      SELECT src, CAST(sum(c) AS BIGINT) AS n_shingles,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM counts GROUP BY src
    ),
    top AS (
      SELECT src, shingle AS top_shingle, c AS top_count
      FROM (
        SELECT src, shingle, c,
               row_number() OVER (PARTITION BY src ORDER BY c DESC, shingle) AS rn
        FROM counts
      ) WHERE rn = 1
    )
    SELECT r.src AS {group_col}, r.n_shingles, r.n_distinct,
           round(1.0 - CAST(r.n_distinct AS DOUBLE) / CAST(r.n_shingles AS DOUBLE), 6)
             AS repetition,
           t.top_shingle, t.top_count
    FROM roll r JOIN top t ON r.src = t.src
    """


def decontaminate_train(
    docs: DataFrame, eval_filter: str, shingle_n: int = 3, max_hits: int = 2
) -> DataFrame:
    """Decontamination pass (the flip side of :func:`contamination_report`):
    DROP training documents that share more than ``max_hits`` distinct
    shingles with the held-out split — the GPT-3/C4-style benchmark
    hygiene step, reported as a per-source before/after plan.

    The eval side collapses to a DISTINCT shingle key set; train shingles
    semi-probe it with one equi-join and an exact integer hit count per
    doc. No doc×doc comparison, no thresholds on floats. Output:
    (source, n_train, n_dropped, drop_pct).
    """
    sh = _shingles(
        docs, shingle_n, "source", F.col("doc_id").alias("id"),
        F.expr(eval_filter).alias("is_eval"),
    ).distinct()
    eval_keys = sh.filter(F.col("is_eval")).select("shingle").distinct()
    hits = (
        sh.filter(~F.col("is_eval"))
        .join(eval_keys.withColumn("__hit", F.lit(True)), "shingle", "left")
        .groupBy("source", "id")
        .agg(
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("bigint").alias("n_hits")
        )
    )
    # docs with no shingles at all never contaminate; count them from the base
    train_docs = docs.filter(~F.expr(eval_filter)).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_train")
    )
    dropped = hits.filter(F.col("n_hits") > max_hits).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_dropped")
    )
    return train_docs.join(dropped, "source", "left").select(
        "source",
        "n_train",
        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
        F.round(
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("double")
            / F.col("n_train").cast("double")
            * 100.0,
            6,
        ).alias("drop_pct"),
    )


def oracle_decontaminate_train(
    table: str,
    id_col: str,
    text_col: str,
    eval_filter: str,
    group_col: str = "source",
    shingle_n: int = 3,
    max_hits: int = 2,
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    return f"""
    WITH sh AS (
      SELECT DISTINCT {group_col} AS src, {id_col} AS id,
             ({eval_filter}) AS is_eval, unnest({shingles}) AS shingle
      FROM {table}
    ),
    eval_keys AS (SELECT DISTINCT shingle FROM sh WHERE is_eval),
    hits AS (
      SELECT s.src, s.id,
             CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
      FROM sh s LEFT JOIN eval_keys e ON s.shingle = e.shingle
      WHERE NOT s.is_eval GROUP BY s.src, s.id
    ),
    train_docs AS (
      SELECT {group_col} AS src, CAST(count(*) AS BIGINT) AS n_train
      FROM {table} WHERE NOT ({eval_filter}) GROUP BY 1
    ),
    dropped AS (
      SELECT src, CAST(count(*) AS BIGINT) AS n_dropped
      FROM hits WHERE n_hits > {max_hits} GROUP BY src
    )
    SELECT t.src AS {group_col}, t.n_train,
           CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           round(CAST(coalesce(d.n_dropped, 0) AS DOUBLE)
                 / CAST(t.n_train AS DOUBLE) * 100.0, 6) AS drop_pct
    FROM train_docs t LEFT JOIN dropped d ON t.src = d.src
    """


def tfidf_cosine_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    df_min: int = 2,
    df_max: int = 20,
    threshold: float = 0.5,
) -> DataFrame:
    """Sparse TF-IDF cosine pairwise similarity via a df-capped inverted
    index (the Elsayed/Lin/Oard 2008 pairwise-document-similarity
    MapReduce shape, Spark-first): postings self-join on TERM, so cost is
    Σ df² over kept terms — the df_max cap bounds it at |terms|·df_max²,
    never |D|². Terms are word ``shingle_n``-grams, not unigrams: on a
    small-vocabulary corpus every unigram is corpus-wide (df ≈ |D|,
    zero discrimination), while shingle df distributions have the rare
    discriminative band this index lives on — the same reason MinHash
    shingles. Terms with df < df_min carry no pair, terms with
    df > df_max carry little cosine mass but quadratic cost: drop both
    (the prefix-filter discipline; norms run over KEPT terms, standard
    for filtered pairwise similarity and replayed identically by the
    oracle).

    Cross-engine float discipline: idf = ln(N/df) rounded through
    DECIMAL(38,6) per TERM (as ``txt_tfidf_topterms`` does — ln differs
    in the last ulp across engines); every pair contribution wgt_a*wgt_b
    and every norm term wgt² is rounded to DECIMAL(38,6) before the EXACT
    decimal sum, so join/aggregation order cannot move the result.

    Output: (id_a, id_b, cos) with id_a < id_b and cos >= threshold.
    """
    # the shingle generator without _shingles' fan_out: the term table
    # feeds four branches, and a repartition under each made the query
    # slower (0.94 -> 1.12 s at sf0.01, slower in 10 of 10 pairs)
    terms = exploded_word_shingles(
        docs.select("doc_id", "text"), "text", shingle_n, "term"
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= df_min) & (F.col("df") <= df_max))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    postings = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "wgt",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            )
            .cast("decimal(38,6)")
            .cast("double"),
        )
        .select("term", "doc_id", "wgt")
    )
    norms = (
        postings.select(
            "doc_id", F.expr("cast(wgt * wgt as decimal(38,6))").alias("w2")
        )
        .groupBy("doc_id")
        .agg(F.sum("w2").cast("double").alias("n2"))
    )
    a = postings.select(
        "term", F.col("doc_id").alias("id_a"), F.col("wgt").alias("wa")
    )
    b = postings.select(
        "term", F.col("doc_id").alias("id_b"), F.col("wgt").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.expr("cast(wa * wb as decimal(38,6))").alias("c")
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum("c").cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cos",
            F.round(F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("id_a").cast("bigint"),
            F.col("id_b").cast("bigint"),
            "cos",
        )
    )


def oracle_tfidf_cosine_pairs(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    df_min: int = 2,
    df_max: int = 20,
    threshold: float = 0.5,
) -> str:
    from ..functions import oracle_word_shingles

    sh = oracle_word_shingles(text_col, shingle_n)
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id, unnest({sh}) AS term
      FROM {table}
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
      HAVING count(*) >= {df_min} AND count(*) <= {df_max}
    ), n AS (SELECT count(*) AS n_docs FROM {table}),
    postings AS MATERIALIZED (
      SELECT tf.term, tf.doc_id,
             CAST(CAST(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df)
                       AS DECIMAL(38,6)) AS DOUBLE) AS wgt
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id, CAST(sum(CAST(wgt * wgt AS DECIMAL(38,6))) AS DOUBLE) AS n2
      FROM postings GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(CAST(a.wgt * b.wgt AS DECIMAL(38,6))) AS DOUBLE) AS dot
      FROM postings a JOIN postings b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(d.id_a AS BIGINT) AS id_a, CAST(d.id_b AS BIGINT) AS id_b,
           round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
    FROM dots d JOIN norms na ON d.id_a = na.doc_id
                JOIN norms nb ON d.id_b = nb.doc_id
    WHERE round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= CAST({threshold!r} AS DOUBLE)
    """


def contrastive_pairs(
    docs: DataFrame, num_hashes: int = 16, min_agree: int = 8
) -> DataFrame:
    """Contrastive training pairs from the dedup index: LSH candidate
    pairs labeled POSITIVE when their MinHash signatures agree on
    >= min_agree of num_hashes permutations (estimated Jaccard >=
    min_agree/num_hashes), else HARD NEGATIVE — pairs the index
    considered similar but that aren't, exactly the negatives a
    contrastive embedding loss needs (random negatives are too easy).

    ONE signature frame serves both candidate generation and labeling,
    as in :func:`lsh_band_sweep`. Output: (id_a, id_b, agree, label).
    """
    sig = _minhash_signatures(docs, num_hashes, 3)
    agree = _agreement(_lsh_pairs(sig, 4, 500), sig, num_hashes)
    return agree.select(
        "id_a",
        "id_b",
        F.col("agree").cast("bigint").alias("agree"),
        (F.col("agree") >= min_agree).cast("bigint").alias("label"),
    )


def oracle_contrastive_pairs(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 500,
    min_agree: int = 8,
) -> str:
    from ..functions import oracle_word_shingles

    shingles = oracle_word_shingles(text_col, shingle_n)
    p = 2147483647
    mins = ", ".join(
        f"min(({oracle_hash32('shingle')} + {k} * {oracle_hash32('shingle', salt='s')}) % {p}) AS h{k}"
        for k in range(num_hashes)
    )
    rows_per_band = num_hashes // bands
    band_selects = []
    for b in range(bands):
        hs = " || '_' || ".join(
            f"CAST(h{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        band_selects.append(f"SELECT id, {b} AS band, {hs} AS key FROM sig")
    banded = " UNION ALL ".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(num_hashes)
    )
    return f"""
    WITH sh AS (
      SELECT {id_col} AS id, unnest({shingles}) AS shingle FROM {table}
    ), sig AS MATERIALIZED (
      SELECT id, {mins} FROM sh GROUP BY id
    ), banded AS ({banded}), ok AS (
      SELECT band, key FROM banded GROUP BY band, key
      HAVING count(*) >= 2 AND count(*) <= {max_bucket}
    ), pruned AS (
      SELECT banded.* FROM banded JOIN ok USING (band, key)
    ), cand AS (
      SELECT DISTINCT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b
      FROM pruned a JOIN pruned b ON a.band = b.band AND a.key = b.key AND a.id < b.id
    )
    SELECT c.id_a, c.id_b, CAST({agree} AS BIGINT) AS agree,
           CAST(CASE WHEN ({agree}) >= {min_agree} THEN 1 ELSE 0 END AS BIGINT)
             AS label
    FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b
    """
