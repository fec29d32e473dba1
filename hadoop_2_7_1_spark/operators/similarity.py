"""Similarity search over embedding columns (array<float>).

North-star addition (no reference analogue): approximate-nearest-neighbor
over document embeddings.

- brute-force cosine top-k: the exactness baseline. Queries are broadcast;
  the scan over the corpus is embarrassingly parallel (no shuffle until the
  per-query top-k, which is a tiny aggregation).
- IVF-style bucketed ANN: coarse quantizer = sign pattern of the leading
  dimensions (a fixed, data-independent set of hyperplanes — deterministic,
  reproducible in SQL). Probing only the query's bucket cuts the scanned
  fraction by ~2^dims; at 100 TB you'd train real centroids, but the
  plumbing (bucket key, co-partitioned join, per-bucket top-k) is identical.

All arithmetic is JVM-side (zip_with/aggregate fold) in doc order, so the
DuckDB oracle (list_zip/list_sum in the same order) matches to float
round-off; comparisons use rtol 1e-9.

Every operator reads an embedding table as ``(vec_id, embedding)`` and is
composed from a few parts: a corpus side ``(vec_id, vec, c_nrm, …)`` and a
query side ``(q_id, q_vec, q_nrm, …)`` (:func:`_corpus`, :func:`_queries`);
a candidate generator (all pairs, sign bucket with or without its Hamming-1
probes, trained IVF cells, PQ codes; SimHash in :func:`simhash_topk`); one
score per metric (:data:`COS`, :data:`L2`, :func:`_adc`); and one per-query
ranking (:func:`_rank`, :func:`_topk`, :func:`_nearest`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"
NORM = "sqrt(aggregate({a}, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double)))"
# Squared L2 distance, the same in-order fold as DOT.
L2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (cast(x as double) - cast(y as double))"
    " * (cast(x as double) - cast(y as double))), 0D, (acc, v) -> acc + v)"
)
# Cosine of a candidate pair from the norms each side computed once per row:
# the per-pair cost is the dot fold only, and the value is IEEE-identical to
# the oracle's per-pair formulation (the norm is the same fold either way).
COS = f"cast({DOT.format(a='vec', b='q_vec')} / (c_nrm * q_nrm) as double)"


def _vec_id() -> Column:
    """``vec_id`` under a fresh attribute id, as a new read would give it. A
    frame that keeps the table's own attribute, is checkpointed and is then
    joined back with itself plans worse: kcenter_select's greedy rounds ran
    81 jobs instead of 9."""
    return F.col("vec_id").alias("vec_id")


def _corpus(emb: DataFrame, *extra: Column) -> DataFrame:
    """Corpus side of a search: ``(vec_id, vec, c_nrm, *extra)``; ``extra``
    columns are computed from ``embedding``."""
    return emb.select(
        _vec_id(),
        F.col("embedding").alias("vec"),
        F.expr(NORM.format(a="embedding")).alias("c_nrm"),
        *extra,
    )


def _queries(queries: DataFrame, *extra: Column) -> DataFrame:
    """Query side of a search: ``(q_id, q_vec, q_nrm, *extra)``."""
    return queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.expr(NORM.format(a="embedding")).alias("q_nrm"),
        *extra,
    )


def _all_pairs(c: DataFrame, q: DataFrame) -> DataFrame:
    """Every (corpus row, query) pair but a query with itself. The query
    side is small and broadcast to every task."""
    return c.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))


def _probe(c: DataFrame, q: DataFrame, key: str) -> DataFrame:
    """Corpus rows in a cell (``key``: sign bucket or trained cluster) that
    a query probes, the query itself excluded. The query side, one row per
    probed cell, is broadcast."""
    return c.join(F.broadcast(q), key).filter(F.col("vec_id") != F.col("q_id"))


def _cell_pairs(q: DataFrame, c: DataFrame, key: str, keep: Column) -> DataFrame:
    """Big-to-big candidates: a shuffled equi-join on the cell ``key``,
    neither side broadcast. ``keep`` drops the self pair (``!=``) or, in a
    self-join, keeps each unordered pair once (``<``)."""
    return q.join(c, key).filter(keep)


def _rank(*order: Column | str, by: str | tuple[str, ...] = "q_id") -> Column:
    """``row_number()`` per ``by`` group in ``order``: the module's one
    window. Each caller orders by its score or distance with ties broken by
    the candidate id, or, for trained-cell probes, by ``(cdist, cluster)``."""
    by = (by,) if isinstance(by, str) else by
    return F.row_number().over(Window.partitionBy(*by).orderBy(*order))


def _topk(
    df: DataFrame,
    k: int,
    *order: Column | str,
    by: str | tuple[str, ...] = "q_id",
    rnk: str = "rnk",
) -> DataFrame:
    """The first ``k`` rows per ``by`` group in ``order``, ranked in column
    ``rnk`` (a candidate budget, a shortlist pool or a probe count names its
    own)."""
    return df.withColumn(rnk, _rank(*order, by=by)).filter(F.col(rnk) <= k)


def _nearest(
    scored: DataFrame,
    k: int,
    order: Column,
    *out: str,
    ids: tuple[str, str] = ("q_id", "vec_id"),
) -> DataFrame:
    """Top-k neighbours per query: best first in ``order``, ties by
    ascending candidate id. Output: both ids as bigint, ``out``, then
    ``rnk`` as bigint."""
    q, v = ids
    return _topk(scored, k, order, F.asc(v), by=q).select(
        F.col(q).cast("bigint"), F.col(v).cast("bigint"), *out, F.col("rnk").cast("bigint")
    )


# ---------------------------------------------------------------------------
# Size-derived knob defaults (round 9).
#
# The Σ cluster²/bucket² pair bill of semdedup / knn_join / threshold_join is
# linear in N only while the PER-CELL row count stays constant as the corpus
# grows — a pinned cluster/bucket count makes the pair stage quadratic. So
# the cell-count knob must derive from the data, the same discipline the
# reference applies to partition counts (InputSampler samples the input to
# drive TotalOrderPartitioner: MRC/mapreduce/lib/partition/InputSampler.java:97).
#
# The rule was validated at sf0.5 (min-of-2, warmed session) on the three
# operators whose sf0.1 → sf0.5 wall-clock grew superlinearly at pinned knobs
# (×11.9 dd_semdedup at k=8, ×15.7 sim_threshold_join and ×24.8 sim_hubness
# at dims=6, for ×5 data). Growing the knob with the corpus brought them to
# ×4.4 (k=40), ×4.9 and ×6.1 (dims=8). k = ceil(N/250) and
# dims = ceil(log2(ceil(N/40))) reproduce those operating points
# (k: 8@N=2000 -> 40@N=10000; dims: 6 -> 8); re-measured at the derived
# defaults the three grew ×5.0/×5.8/×5.6. Integer arithmetic only — DuckDB
# replays the identical derivation (_knob_k_sql/_knob_dims_sql), so auto-knob
# queries stay exact-hash comparable at every SF.
# ---------------------------------------------------------------------------
SEMDEDUP_TARGET_CELL = 250  # rows per k-means cell at the derived k
BUCKET_TARGET_ROWS = 40  # rows per sign-bucket at the derived dims
MAX_BUCKET_DIMS = 16  # leading-dims cap (embeddings carry >= 16 dims)


def derive_k(n_rows: int, target_cell: int = SEMDEDUP_TARGET_CELL) -> int:
    """Cluster-count default: ``k = ceil(N / target_cell)``, at least 1.

    Pure integer arithmetic so the DuckDB oracle derives the identical k
    from ``count(*)`` (see :func:`_knob_k_sql`).
    """
    return max(1, (int(n_rows) + target_cell - 1) // target_cell)


def derive_bucket_dims(
    n_rows: int,
    target_rows: int = BUCKET_TARGET_ROWS,
    max_dims: int = MAX_BUCKET_DIMS,
) -> int:
    """Sign-bucket width default: smallest ``dims`` with
    ``2^dims >= ceil(N / target_rows)``, clamped to [1, max_dims].

    ``(cells - 1).bit_length()`` == ``length(bin(cells - 1))`` in DuckDB for
    cells >= 2; the cells=1 edge (bit_length 0 vs '0' length 1) lands on the
    same value after the >=1 clamp (see :func:`_knob_dims_sql`).
    """
    cells = max(1, (int(n_rows) + target_rows - 1) // target_rows)
    return max(1, min(max_dims, (cells - 1).bit_length()))


def _knob_k_sql(target_cell: int = SEMDEDUP_TARGET_CELL) -> str:
    """DuckDB aggregate-context scalar mirroring :func:`derive_k`."""
    return f"GREATEST(1, (count(*) + {target_cell - 1}) // {target_cell})"


def _knob_dims_sql(
    target_rows: int = BUCKET_TARGET_ROWS, max_dims: int = MAX_BUCKET_DIMS
) -> str:
    """DuckDB aggregate-context scalar mirroring :func:`derive_bucket_dims`."""
    cells = f"GREATEST(1, (count(*) + {target_rows - 1}) // {target_rows})"
    return (
        f"GREATEST(1, LEAST({max_dims}, "
        f"length(bin(CAST({cells} - 1 AS BIGINT)))))"
    )


# ---------------------------------------------------------------------------
# SimHash prefilter + exact re-rank: the production QUERY-SERVING retriever
# (round 11). The r10 retrieval_quality capstone measured the bucket
# multi-probe retriever's recall@10 falling 0.52 -> 0.24 from sf0.01 ->
# sf0.1, and a radius sweep showed why: this corpus is measured-isotropic
# (random-pair cosine ~0 +- 0.12, 10th-NN cosine only ~0.32, k-means
# centers capture assign-cosine 0.33), so holding recall >= 0.5 by widening
# the Hamming probe radius means scanning >= 50% of the buckets — quadratic
# in disguise for an all-pairs join. The honest serving-path contract is
# instead a LINEAR signature scan with a bounded exact re-rank: hash every
# vector to its full-width 64-bit sign signature once, rank candidates per
# query by Hamming distance (two bigint XOR+popcounts — no float math), and
# re-rank only the top `rerank_budget` by exact cosine. Per-query cost is
# O(N) popcounts + O(budget) dots — the FAISS-flat shape real pipelines use
# on unstructured embeddings — and the budget below is the measured knee:
# recall@10 = 0.80/0.63/0.54/0.56 at sf0.01/0.1/0.5/1.0. The quality/cost
# trade is the same contract the reference's BloomMapFile exposes
# (io/BloomMapFile.java:49 — false-positive rate vs lookup cost).
# ---------------------------------------------------------------------------
RERANK_BUDGET_FLOOR = 100  # minimum exact-rerank candidates per query
RERANK_TARGET_DIVISOR = 50  # budget = ceil(N / 50): ~2% of the corpus


def derive_rerank_budget(
    n_rows: int,
    floor: int = RERANK_BUDGET_FLOOR,
    divisor: int = RERANK_TARGET_DIVISOR,
) -> int:
    """Exact-rerank candidate budget: ``max(floor, ceil(N / divisor))``.

    The budget must GROW with the corpus: on isotropic data the Hamming
    distances of true neighbors and random rows concentrate a fixed number
    of standard deviations apart, so a CONSTANT budget captures a shrinking
    quantile and recall decays (measured: C=100 gives 0.80 at N=500 but
    0.35 at N=20000; C=ceil(N/50) holds 0.54-0.80 across the same range).
    Pure integer arithmetic so the DuckDB oracle derives the identical
    budget from ``count(*)`` (see :func:`_knob_budget_sql`).
    """
    return max(floor, (int(n_rows) + divisor - 1) // divisor)


def _knob_budget_sql(
    floor: int = RERANK_BUDGET_FLOOR, divisor: int = RERANK_TARGET_DIVISOR
) -> str:
    """DuckDB aggregate-context scalar mirroring :func:`derive_rerank_budget`."""
    return f"GREATEST({floor}, (count(*) + {divisor - 1}) // {divisor})"


# 64-bit sign signature as two 32-bit halves (hi = dims 1..32, lo = 33..64),
# each folded into a BIGINT. Two halves, not one 64-bit word: acc*2 carries
# into the sign bit at width 64, which DuckDB (and Spark under ANSI) rejects
# as overflow — 32-bit halves keep every intermediate exact and positive.
# `get()` (0-based) returns NULL past the end even under ANSI, and the CASE
# folds that NULL to 0, so vectors shorter than 64 dims hash correctly.
SIG_HI = (
    "aggregate(sequence(1, 32), cast(0 as bigint), (acc, i) -> acc + "
    "CASE WHEN get({v}, i - 1) >= 0 THEN shiftleft(cast(1 as bigint), 32 - i) "
    "ELSE cast(0 as bigint) END)"
)
SIG_LO = (
    "aggregate(sequence(1, 32), cast(0 as bigint), (acc, i) -> acc + "
    "CASE WHEN get({v}, i + 31) >= 0 THEN shiftleft(cast(1 as bigint), 32 - i) "
    "ELSE cast(0 as bigint) END)"
)
_ORACLE_SIG_HI = (
    "CAST(list_sum(list_transform(range(1, 33), i_ -> "
    "CASE WHEN {v}[i_] >= 0 THEN (1::BIGINT << (32 - i_)) ELSE 0 END)) AS BIGINT)"
)
_ORACLE_SIG_LO = (
    "CAST(list_sum(list_transform(range(1, 33), i_ -> "
    "CASE WHEN {v}[i_ + 32] >= 0 THEN (1::BIGINT << (32 - i_)) ELSE 0 END)) AS BIGINT)"
)


def simhash_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank_budget: int | None = None,
) -> DataFrame:
    """Production query-serving retriever: full-width SimHash prefilter +
    exact cosine re-rank of a size-derived candidate budget.

    Stage 1 ranks the whole corpus per query by Hamming distance between
    64-bit sign signatures (two XOR+popcount bigint ops — integer-exact, so
    both engines order candidates identically; ties break by vec_id) and
    keeps the top ``rerank_budget``. Stage 2 re-ranks the survivors by
    exact cosine (norms precomputed once per row, the knn_join move) and
    emits top-k as (q_id, vec_id, cos, rnk).

    Scale shape: |Q| x N integer ops + |Q| x budget float dots, with the
    query side broadcast — linear in N for a fixed query panel; callers
    registering this MUST use a constant query budget (the stride knob),
    never a corpus fraction. ``rerank_budget=None`` derives
    ``max(100, ceil(N/50))`` from the corpus (:func:`derive_rerank_budget`)
    — the measured recall>=0.5 knee on this corpus. CONTRACT for
    ``rerank_budget=None``: ``emb`` must be the full registered table (the
    DuckDB oracle's auto mode derives the budget from ``count(*)`` of the
    registered table); a filtered corpus needs an explicit budget on both
    sides.
    """
    if rerank_budget is None:
        rerank_budget = derive_rerank_budget(emb.count())
    hi = F.expr(SIG_HI.format(v="embedding"))
    lo = F.expr(SIG_LO.format(v="embedding"))
    c = _corpus(emb, hi.alias("c_hi"), lo.alias("c_lo"))
    q = _queries(queries, hi.alias("q_hi"), lo.alias("q_lo"))
    ham = F.expr("bit_count(c_hi ^ q_hi) + bit_count(c_lo ^ q_lo)")
    cand = _topk(
        _all_pairs(c, q).withColumn("ham", ham),
        rerank_budget,
        F.asc("ham"),
        F.asc("vec_id"),
        rnk="rn",
    )
    return _nearest(cand.withColumn("cos", F.expr(COS)), k, F.desc("cos"), "cos")


def oracle_simhash_topk(
    table: str,
    query_filter: str | None = None,
    k: int = 10,
    rerank_budget: int | None = None,
) -> str:
    """DuckDB twin of :func:`simhash_topk`. ``query_filter=None`` selects
    the size-derived fixed query panel (stride knob CTE, ~80 queries);
    ``rerank_budget=None`` derives the budget from ``count(*)`` via
    :func:`_knob_budget_sql` — both mirror the Spark derivations exactly
    (integer-only arithmetic)."""
    pre = ""
    if query_filter is None:
        pre += (
            f"qknob AS MATERIALIZED (SELECT {_knob_stride_sql()} AS s"
            f" FROM {table}),\n    "
        )
        query_filter = "vec_id % (SELECT s FROM qknob) = 0"
    if rerank_budget is None:
        pre += (
            f"bknob AS MATERIALIZED (SELECT {_knob_budget_sql()} AS c"
            f" FROM {table}),\n    "
        )
        budget = "(SELECT c FROM bknob)"
    else:
        budget = str(int(rerank_budget))
    hi = _ORACLE_SIG_HI.format(v="embedding")
    lo = _ORACLE_SIG_LO.format(v="embedding")
    dot = ORACLE_DOT.format(a="vec", b="q_vec")
    nc = ORACLE_NORM.format(a="vec")
    nq = ORACLE_NORM.format(a="q_vec")
    return f"""
    WITH {pre}q AS MATERIALIZED (
      SELECT vec_id, embedding, {hi} AS q_hi, {lo} AS q_lo
      FROM {table} WHERE {query_filter}
    ), c AS MATERIALIZED (
      SELECT vec_id, embedding, {hi} AS c_hi, {lo} AS c_lo FROM {table}
    ), cand AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
             q.embedding AS q_vec, c.embedding AS vec,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY bit_count(xor(c_hi, q_hi)) + bit_count(xor(c_lo, q_lo)),
                        c.vec_id
             ) AS rn
      FROM c JOIN q ON c.vec_id <> q.vec_id
    ), scored AS (
      SELECT q_id, vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
      FROM cand WHERE rn <= {budget}
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
                AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    Output: (q_id, vec_id, cos, rnk), k rows per query, ties broken by
    vec_id. ``queries`` must be small (it is broadcast to every task).
    """
    scored = _all_pairs(_corpus(emb), _queries(queries)).select(
        "q_id", "vec_id", F.expr(COS).alias("cos")
    )
    return _nearest(scored, k, F.desc("cos"), "cos")


ORACLE_DOT = (
    "list_sum(list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), "
    "p -> p[1] * p[2]))"
)
ORACLE_NORM = "sqrt(list_sum(list_transform(CAST({a} AS DOUBLE[]), v -> v * v)))"


def oracle_cosine_topk(table: str, query_filter: str, k: int = 5) -> str:
    dot = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="q.embedding")
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM {table} WHERE {query_filter}),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
      FROM {table} c CROSS JOIN q
      WHERE c.vec_id <> q.vec_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """


def sign_bucket(dims: int = 8) -> Column:
    """Coarse quantizer: '+-++-...' sign pattern of the leading dims of
    ``embedding``."""
    return _sign_pattern(dims)


def _sign_pattern(dims: int, flip: int = 0) -> Column:
    """The sign pattern with the sign test inverted at 1-based position
    ``flip`` (0: none), i.e. the Hamming-1 neighbour bucket."""
    parts = []
    for i in range(dims):
        pos, neg = ("-", "+") if i + 1 == flip else ("+", "-")
        cond = F.expr(f"element_at(embedding, {i + 1})") >= 0
        parts.append(F.when(cond, F.lit(pos)).otherwise(F.lit(neg)))
    return F.concat(*parts)


def _bucket(dims: int, flips: bool = False) -> Column:
    """The ``bucket`` key: a row's own sign bucket or, with ``flips``, one
    row per probe: the own bucket, then each Hamming-1 neighbour. A
    candidate sits in exactly one bucket, so a pair meets at most one
    probe."""
    if not flips:
        return sign_bucket(dims).alias("bucket")
    probes = [_sign_pattern(dims, flip) for flip in range(dims + 1)]
    return F.explode(F.array(*probes)).alias("bucket")


def ivf_topk(
    emb: DataFrame, queries: DataFrame, k: int = 3, bucket_dims: int = 8
) -> DataFrame:
    """ANN: probe only the query's sign-bucket, exact top-k inside it.

    The bucket join is an equi-join on the bucket key — co-partitionable and
    broadcastable; per-bucket candidate lists shrink the scan by ~2^dims.
    """
    c = _corpus(emb, _bucket(bucket_dims))
    q = _queries(queries, _bucket(bucket_dims))
    scored = _probe(c, q, "bucket").withColumn("cos", F.expr(COS))
    return _nearest(scored, k, F.desc("cos"), "cos")


def knn_join(
    emb_a: DataFrame,
    emb_b: DataFrame,
    k: int = 2,
    bucket_dims: int | None = None,
) -> DataFrame:
    """Big-to-big ANN join: top-k neighbors in ``emb_b`` for EVERY row of
    ``emb_a``, with neither side broadcast.

    Scale path: both sides get a sign-bucket key; the query side multi-probes
    its own bucket plus every 1-bit flip (Hamming-1 neighbors), so recall
    survives vectors that sit near a quantization boundary. The probe is a
    plain equi-join on the bucket key — shuffle co-partitioned on both
    sides, skew-split by AQE — followed by a per-query top-k window. Cost is
    (dims+1) * Σ bucket_a × bucket_b, never |A| × |B| — PROVIDED the bucket
    count grows with the corpus: by default ``bucket_dims`` derives from the
    corpus side (``dims = ceil(log2(ceil(N/40)))``, :func:`derive_bucket_dims`)
    so per-bucket size stays constant; a pinned dims makes the pair bill
    quadratic (sim_hubness, which runs this join corpus-to-corpus, took
    ×24.8 the time at ×5 data with dims pinned at 6, against ×6.1 with dims
    grown to 8). Pass an explicit dims
    to pin. CONTRACT for ``bucket_dims=None``: ``emb_b`` must be the full
    registered table — Spark derives dims from ``emb_b.count()`` while the
    DuckDB oracle's auto mode derives from ``count(*)`` of the registered
    table, and the two only agree on that population. A caller passing a
    FILTERED candidate side must pass an explicit ``bucket_dims`` (and
    unroll it in the oracle) or the engines silently derive different dims. A (q, c) pair can match at most one probe (c has exactly one
    bucket), so no dedup stage.
    """
    if bucket_dims is None:
        bucket_dims = derive_bucket_dims(emb_b.count())
    c = _corpus(emb_b, _bucket(bucket_dims))
    q = _queries(emb_a, _bucket(bucket_dims, flips=True))
    keep = F.col("vec_id") != F.col("q_id")
    scored = _cell_pairs(q, c, "bucket", keep).withColumn("cos", F.expr(COS))
    return _nearest(scored, k, F.desc("cos"), "cos")


def _oracle_bucket_parts(
    table: str, bucket_dims: int | None
) -> tuple[str, "callable", str]:
    """Shared fixed/auto plumbing for sign-bucket oracles: returns
    (knob_cte_prefix, bucket_expr_fn, hamming1_probe_src). Auto mode
    (``bucket_dims is None``) derives dims from count(*) exactly like
    :func:`derive_bucket_dims`; the probe source then unnests
    range(0, dims+1) instead of a constant generate_series."""
    if bucket_dims is None:
        pre = (
            f"knob AS MATERIALIZED (SELECT {_knob_dims_sql()} AS d FROM {table}),\n      "
        )
        d = "(SELECT d FROM knob)"

        def bucket(col: str) -> str:
            return (
                f"list_aggregate(list_transform(range(1, {d} + 1), "
                f"i_ -> CASE WHEN {col}[i_] >= 0 THEN '+' ELSE '-' END), "
                "'string_agg', '')"
            )

        probe_src = (
            "(SELECT vec_id, embedding, bucket, "
            f"unnest(range(0, {d} + 1)) AS i FROM q)"
        )
    else:
        pre = ""

        def bucket(col: str) -> str:
            parts = " || ".join(
                f"(CASE WHEN {col}[{i + 1}] >= 0 THEN '+' ELSE '-' END)"
                for i in range(bucket_dims)
            )
            return f"({parts})"

        probe_src = f"q, generate_series(0, {bucket_dims}) AS t(i)"
    return pre, bucket, probe_src


def oracle_knn_join(
    table: str, query_filter: str, k: int = 2, bucket_dims: int | None = None
) -> str:
    pre, bucket, probe_src = _oracle_bucket_parts(table, bucket_dims)
    dot = ORACLE_DOT.format(a="c.embedding", b="p.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="p.embedding")
    return f"""
    WITH {pre}q AS MATERIALIZED (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket
      FROM {table} WHERE {query_filter}
    ), p AS (
      SELECT vec_id, embedding,
             CASE WHEN i = 0 THEN bucket
                  ELSE substr(bucket, 1, i - 1)
                       || (CASE WHEN substr(bucket, i, 1) = '+' THEN '-' ELSE '+' END)
                       || substr(bucket, i + 1)
             END AS bucket
      FROM {probe_src}
    ), c AS (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket FROM {table}
    ), scored AS (
      SELECT p.vec_id AS q_id, c.vec_id AS vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
      FROM c JOIN p ON c.bucket = p.bucket AND c.vec_id <> p.vec_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """


def oracle_ivf_topk(table: str, query_filter: str, k: int = 3, bucket_dims: int = 8) -> str:
    def bucket(col: str) -> str:
        parts = " || ".join(
            f"(CASE WHEN {col}[{i + 1}] >= 0 THEN '+' ELSE '-' END)" for i in range(bucket_dims)
        )
        return f"({parts})"

    dot = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="q.embedding")
    return f"""
    WITH q AS (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket
      FROM {table} WHERE {query_filter}
    ), c AS (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket FROM {table}
    ), scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
      FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """


# ---------------------------------------------------------------------------
# K-means (Lloyd) coarse quantizer + IVF search over the trained centroids.
# The sign-bucket IVF above uses data-independent hyperplanes; this is the
# real thing: centroids trained on the corpus, the same distributed shape
# MLlib's KMeans uses — per-iteration broadcast of k*d doubles, map-only
# assignment, partial-aggregated per-dimension means. The driver only ever
# holds the model (k*d scalars), never data.
# ---------------------------------------------------------------------------


def _centroids_sql(cents: list[list[float]]) -> str:
    """SQL literal array<array<double>> for a trained centroid set.

    Values go through ``repr`` (shortest round-trip form) inside a string
    CAST, so the JVM parses back the exact same IEEE double the driver
    collected — no precision loss between iterations.
    """
    inner = ",".join(
        "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in c) + ")" for c in cents
    )
    return f"array({inner})"


def _dists_expr(vec: str, cents_sql: str) -> str:
    """Squared-L2 distance from column ``vec`` to every centroid (array<double>)."""
    return (
        f"transform({cents_sql}, c -> aggregate(zip_with({vec}, c, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "0D, (acc, v) -> acc + v))"
    )


def _nearest_cell(vec: str, cents: list[list[float]]) -> Column:
    """Index (int) of the squared-L2-nearest of ``cents`` to column ``vec``;
    ties go to the lowest index (array_position finds the first minimum)."""
    d = _dists_expr(vec, _centroids_sql(cents))
    return (F.expr(f"array_position({d}, array_min({d}))") - 1).cast("int")


def _assign(df: DataFrame, cents: list[list[float]], vec: str) -> DataFrame:
    """``df`` plus an int ``cluster`` column: the argmin of the squared-L2
    distances from column ``vec`` to ``cents``, computed once per row."""
    d = _dists_expr(vec, _centroids_sql(cents))
    return (
        df.withColumn("_dists", F.expr(d))
        .withColumn(
            "cluster",
            (F.expr("array_position(_dists, array_min(_dists))") - 1).cast("int"),
        )
        .drop("_dists")
    )


def assign_clusters(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Add an int ``cluster`` column = argmin squared-L2 over ``cents``.

    Map-only: the centroid set rides inside the expression (broadcast with
    the plan), ties break to the lowest cluster index (array_position finds
    the first minimum) — same tiebreak the oracle's ORDER BY dist, cluster
    uses.
    """
    return _assign(emb, cents, "embedding")


def kmeans_fit(emb: DataFrame, k: int = 8, n_iter: int = 2) -> list[list[float]]:
    """Lloyd's algorithm with deterministic init.

    Seeding: the k lowest-id vectors among a deterministic ~1/16 hash sample
    (md5-gate on the id, same gate in the DuckDB oracle). The ordered-limit
    then runs on the small gated subset instead of ranking the whole corpus —
    at 100 TB the seed step reads every row once (map-side filter) but sorts
    almost nothing. Degenerate corpora with fewer than k gated rows fall back
    to the ungated ordered-limit (count check is one map-side pass).

    Each iteration is one assignment pass (map-only, centroids broadcast in
    the plan) plus one per-dimension mean (posexplode -> partial+final
    HashAggregate over k*d cells; the shuffle moves k*d*partitions rows, not
    data). Only the k*d centroid doubles are collected per iteration —
    at 100 TB the data never funnels anywhere. Empty clusters keep their
    previous centroid (same guard MLlib applies).
    """
    from ..functions import hex_hash32

    # The fit reads emb n_iter+1 times (seed gate + one assignment pass per
    # iteration); materialize once — at 100 TB you fit on a cached sample.
    # fan_out first: the assignment + posexplode passes are CPU-bound
    # narrow work, and a single-split parquet would serialize every
    # iteration onto one core (no-op on wide inputs; every downstream fold
    # is order-independent — scaled-bigint means, ordered-limit seeds).
    from . import fan_out

    emb = fan_out(emb).persist()
    cand = emb.filter(hex_hash32(F.col("vec_id")) % 16 == 0)
    # degenerate-corpus guard: take(k) on the id column early-terminates as
    # soon as k gated rows exist — never a full count of the gated subset
    enough = len(cand.select("vec_id").take(k)) >= k
    src = cand if enough else emb
    seeds = src.orderBy("vec_id").limit(k).select("embedding").collect()
    cents = [[float(x) for x in row[0]] for row in seeds]
    dim = len(cents[0])
    for _ in range(n_iter):
        assigned = assign_clusters(emb, cents)
        # Scaled-bigint mean (x1e9): fl(v*1e9) is the same IEEE product and
        # round() the same half-away rounding on both engines; the integer
        # sum is exact at any parallelism, so the centroid update — and
        # therefore every subsequent assignment — is bit-identical to the
        # oracle's replay. A plain avg(double) drifts in the last ulp with
        # partial-sum grouping, and the drift compounds across iterations.
        rows = (
            assigned.select("cluster", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(
                        F.round(F.col("val").cast("double") * F.lit(1e9)).cast("bigint")
                    ).cast("double")
                    / F.count("*")
                    / F.lit(1e9)
                ).alias("m")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        cents = [
            [by_cluster[c][i] for i in range(dim)] if c in by_cluster else cents[c]
            for c in range(k)
        ]
    emb.unpersist()
    return cents


def kmeans_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search against trained centroids: rank cells per query, probe the
    ``nprobe`` nearest, exact cosine top-k inside the probed cells.

    Corpus assignment is map-only; the probe is an equi-join on the cluster
    key (queries broadcast; for big-to-big use the same shape shuffled).
    Scanned fraction ~= nprobe/k of the corpus per query.
    """
    corpus = _assign(_corpus(emb), cents, "vec")
    probes = _cell_probes(_queries(queries), cents, nprobe)
    scored = _probe(corpus, probes, "cluster").withColumn("cos", F.expr(COS))
    return _nearest(scored, k, F.desc("cos"), "cos")


def _cell_probes(q: DataFrame, cents: list[list[float]], nprobe: int) -> DataFrame:
    """Trained-cell probes: each row of the query side ``q`` once per cell
    among its ``nprobe`` nearest centroids, ranked by ``(cdist, cluster)``.
    Output: ``q``'s columns, ``cluster`` (int) and its rank ``prb``."""
    d = _dists_expr("q_vec", _centroids_sql(cents))
    return _topk(
        q.withColumn("_d", F.expr(d)).select(
            *q.columns, F.posexplode("_d").alias("cluster", "cdist")
        ),
        nprobe,
        "cdist",
        "cluster",
        rnk="prb",
    ).select(*q.columns, F.col("cluster").cast("int").alias("cluster"), "prb")


def _oracle_kmeans_ctes(
    table: str, k: int | str, n_iter: int, dim: int, pre_cte: str = ""
) -> str:
    """Shared CTE chain replaying Lloyd's algorithm in DuckDB: seeds ->
    (assign -> per-dimension means -> next centroids) * n_iter.

    ``k`` may be an int (pinned knob) or a SQL scalar expression such as
    ``(SELECT k FROM knob)`` for the size-derived default; ``pre_cte``
    injects the knob CTE (trailing comma included) ahead of the chain.
    """
    dist = (
        "list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), ct.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    gate = (
        "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        " % 16 = 0"
    )
    sql = f"""
    WITH {pre_cte}seed_src AS MATERIALIZED (
      SELECT vec_id, embedding FROM {table} WHERE {gate}
        AND (SELECT count(*) FROM {table} WHERE {gate}) >= {k}
      UNION ALL
      SELECT vec_id, embedding FROM {table}
        WHERE (SELECT count(*) FROM {table} WHERE {gate}) < {k}
    ), cent0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             CAST(embedding AS DOUBLE[]) AS c
      FROM (SELECT vec_id, embedding FROM seed_src ORDER BY vec_id LIMIT {k})
    )"""
    for i in range(n_iter):
        sql += f""",
    assign{i} AS MATERIALIZED (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, ct.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, ct.cluster) AS rn
        FROM {table} e CROSS JOIN cent{i} ct
      ) WHERE rn = 1
    ),
    means{i} AS MATERIALIZED (
      SELECT cluster, i AS pos,
             CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT))
                  AS DOUBLE) / count(*) / 1e9 AS m
      FROM assign{i}, range(1, {dim + 1}) t(i)
      GROUP BY cluster, i
    ),
    cent{i + 1} AS MATERIALIZED (
      SELECT ct.cluster, coalesce(mm.c, ct.c) AS c
      FROM cent{i} ct LEFT JOIN (
        SELECT cluster, list(m ORDER BY pos) AS c FROM means{i} GROUP BY cluster
      ) mm USING (cluster)
    )"""
    final = f"cent{n_iter}"
    sql += f""",
    assign_final AS MATERIALIZED (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, ct.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, ct.cluster) AS rn
        FROM {table} e CROSS JOIN {final} ct
      ) WHERE rn = 1
    )"""
    return sql


def oracle_kmeans_sizes(table: str, k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    return (
        _oracle_kmeans_ctes(table, k, n_iter, dim)
        + f"""
    SELECT CAST(ct.cluster AS BIGINT) AS cluster,
           CAST(coalesce(sz.n, 0) AS BIGINT) AS n,
           CAST(ct.c[1] AS DOUBLE) AS c0
    FROM cent{n_iter} ct LEFT JOIN (
      SELECT cluster, count(*) AS n FROM assign_final GROUP BY cluster
    ) sz USING (cluster)
    """
    )


def oracle_kmeans_ivf(
    table: str,
    query_filter: str,
    k: int = 3,
    nprobe: int = 2,
    n_clusters: int = 8,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    qdist = (
        "list_sum(list_transform(list_zip(CAST(q.embedding AS DOUBLE[]), ct.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    dot = ORACLE_DOT.format(a="c.embedding", b="p.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="p.embedding")
    return (
        _oracle_kmeans_ctes(table, n_clusters, n_iter, dim)
        + f""",
    probes AS (
      SELECT q_id, embedding, cluster FROM (
        SELECT q.vec_id AS q_id, q.embedding, ct.cluster,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {qdist}, ct.cluster) AS prb
        FROM {table} q CROSS JOIN cent{n_iter} ct
        WHERE {query_filter.replace('vec_id', 'q.vec_id')}
      ) WHERE prb <= {nprobe}
    ),
    scored AS (
      SELECT p.q_id, c.vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
      FROM assign_final c JOIN probes p ON c.cluster = p.cluster
                                       AND c.vec_id <> p.q_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``m`` contiguous subspaces
    and run the deterministic Lloyd fit (kmeans_fit) independently in each.

    Returns m codebooks of k centroids of dim/m doubles. Each subspace fit
    has the kmeans_fit scale shape (assignment map-only, means a k*(dim/m)
    cell aggregate). Codebook bytes collected to the driver:
    m*k*(dim/m) = k*dim doubles — constant.

    r11 optimization (guide §1.2 "the distributed algorithm" / §2.6): the m
    subspace fits used to run as m SEQUENTIAL kmeans_fit calls — m persists,
    m seed collects and m*n_iter driver-synchronous mean jobs over the same
    corpus. The Lloyd recurrences share nothing across subspaces but their
    INPUT passes are identical, so one joint loop now drives all m
    subspaces: one cached slice projection, one seed collect (the k
    lowest-id gated rows are the same rows for every subspace — the gate is
    on the id), and per iteration ONE assignment + per-dimension-mean pass
    whose explode tags each value with its subspace (total exploded rows
    N*dim, exactly what the m separate fits exploded in aggregate). Every
    per-cell mean is the same scaled-bigint fold over the same multiset, so
    the codebooks are bit-identical to the sequential fit (pinned by
    tests/test_operators.py::test_pq_fit_joint_matches_sequential).
    """
    from . import fan_out
    from ..functions import hex_hash32

    sub = dim // m
    slice_cols = [
        F.slice("embedding", s * sub + 1, sub).alias(f"_s{s}") for s in range(m)
    ]
    base = fan_out(emb).select(_vec_id(), *slice_cols).persist()
    cand = base.filter(hex_hash32(F.col("vec_id")) % 16 == 0)
    # degenerate-corpus guard, once for all subspaces (gate is id-only)
    enough = len(cand.select("vec_id").take(k)) >= k
    src = cand if enough else base
    seed_rows = (
        src.orderBy("vec_id").limit(k).select(*[f"_s{s}" for s in range(m)]).collect()
    )
    books = [[[float(x) for x in row[s]] for row in seed_rows] for s in range(m)]
    for _ in range(n_iter):
        assign_cols = [_nearest_cell(f"_s{s}", books[s]).alias(f"_c{s}") for s in range(m)]
        assigned = base.select(
            *[F.col(f"_s{s}") for s in range(m)], *assign_cols
        )
        quads = assigned.select(
            F.explode(
                F.flatten(
                    F.array(
                        *[
                            F.expr(
                                f"transform(_s{s}, (v, i) -> struct("
                                f"{s} as s, _c{s} as cluster, i as pos, "
                                f"cast(v as double) as val))"
                            )
                            for s in range(m)
                        ]
                    )
                )
            ).alias("q")
        ).select("q.s", "q.cluster", "q.pos", "q.val")
        rows = (
            quads.groupBy("s", "cluster", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("val") * F.lit(1e9)).cast("bigint")).cast(
                        "double"
                    )
                    / F.count("*")
                    / F.lit(1e9)
                ).alias("m")
            )
            .collect()
        )
        by_cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault((r.s, r.cluster), {})[r.pos] = r.m
        books = [
            [
                [by_cell[(s, c)][i] for i in range(sub)]
                if (s, c) in by_cell
                else books[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    base.unpersist()
    return books


def _pq_codes(books: list[list[list[float]]]) -> Column:
    """``codes``: per subspace, the index of the codeword nearest the
    ``embedding`` slice (array<int>, one entry per codebook)."""
    sub = len(books[0][0])
    return F.array(
        *[
            _nearest_cell(f"slice(embedding, {s * sub + 1}, {sub})", book)
            for s, book in enumerate(books)
        ]
    ).alias("codes")


def _adc_tables(books: list[list[list[float]]]) -> list[Column]:
    """A query's ADC lookup tables: per subspace ``s``, column ``t{s}``
    holds the squared-L2 distances from the query's slice to every
    codeword (m*k doubles per query, computed map-only)."""
    sub = len(books[0][0])
    return [
        F.expr(
            _dists_expr(f"slice(embedding, {s * sub + 1}, {sub})", _centroids_sql(book))
        ).alias(f"t{s}")
        for s, book in enumerate(books)
    ]


def _adc(m: int) -> Column:
    """Asymmetric distance of a (query, coded row) pair: the sum over the
    m subspaces of the query's table entry at the row's code."""
    return sum(
        F.element_at(F.col(f"t{s}"), F.element_at("codes", s + 1) + 1) for s in range(m)
    ).cast("double")


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Encode every vector to its m subspace code ids (argmin squared-L2
    against the subspace codebook). Map-only: the codebooks ride in the plan
    as literals; output is (vec_id, codes array<int>) — at 100 TB this is
    the compressed representation you persist (m bytes per vector instead
    of dim floats, a 32x shrink at the defaults here).
    """
    return emb.select(_vec_id(), _pq_codes(books))


def pq_search_adc(
    emb: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 3,
) -> DataFrame:
    """ADC search: exact query subvectors against the corpus's PQ codes.

    approx_dist(q, x) = sum_s ||q_s - codebook_s[code_s(x)]||^2 — the
    query-side distance table (m*k doubles per query) is computed map-only
    and carried with the broadcast query row; the corpus side touches ONLY
    the m-byte codes, never the original vectors. That asymmetry is the
    whole point at 100 TB: the scan reads the 32x-compressed table and the
    accurate (uncompressed-query) distances come from table lookups.
    Output: (id_q, id_vec, score_adc, rnk) — integer ids lead the sorted
    column order so cross-engine float ulps can't flip canonical row order.
    """
    c = _corpus(emb, _pq_codes(books))
    q = _queries(queries, *_adc_tables(books))
    scored = _all_pairs(c, q).select(
        F.col("q_id").alias("id_q"),
        F.col("vec_id").alias("id_vec"),
        _adc(len(books)).alias("score_adc"),
    )
    return _nearest(scored, k, F.asc("score_adc"), "score_adc", ids=("id_q", "id_vec"))


def semdedup(
    emb: DataFrame,
    k: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with k-means, then WITHIN each cluster drop every
    vector that has a lower-id neighbor with cosine >= threshold (the
    deterministic keep-lowest greedy). Returns per-cluster
    (cluster, n_total, n_dropped).

    Scale shape — the whole point of the cluster stage: the pairwise
    cosine join is an equi-join on ``cluster``, so candidate cost is
    sum(cluster_size^2), never |corpus|^2. By default ``k`` is DERIVED
    from the corpus (``k = ceil(N / 250)``, :func:`derive_k`) so cluster
    sizes stay bounded as the data grows — the paper's design point and
    the reference's InputSampler discipline; a pinned k makes the pair
    stage quadratic (at sf0.1 → sf0.5, ×5 data, the query took ×11.9 the
    time at k=8 and ×4.4 at k=40). The count is
    one metadata-cheap job; pass an explicit ``k`` to pin it. The fit is
    the deterministic scaled-bigint Lloyd loop (kmeans_fit); assignment
    is map-only with centroids as plan literals.
    """
    if k is None:
        k = derive_k(emb.count())
    assigned = assign_clusters(emb, kmeans_fit(emb, k=k, n_iter=n_iter))
    dropped = (
        _similar_pairs(
            _queries(assigned, F.col("cluster")),
            _corpus(assigned, F.col("cluster")),
            "cluster",
            threshold,
        )
        .select("cluster", "vec_id")
        .distinct()
        .groupBy("cluster")
        .agg(F.count("*").alias("n_dropped"))
    )
    totals = assigned.groupBy("cluster").agg(F.count("*").alias("n_total"))
    return totals.join(dropped, "cluster", "left").select(
        F.col("cluster").cast("bigint"),
        F.col("n_total").cast("bigint"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
    )


def _similar_pairs(q: DataFrame, c: DataFrame, key: str, threshold: float) -> DataFrame:
    """Self-join range candidates: pairs sharing a ``key`` cell, each
    unordered pair once (``q_id < vec_id``), with cosine >= ``threshold``.
    The cosine is a bit-identical double on both engines, so ``>=`` is
    portable."""
    keep = F.col("q_id") < F.col("vec_id")
    return (
        _cell_pairs(q, c, key, keep)
        .withColumn("cos", F.expr(COS))
        .filter(F.col("cos") >= threshold)
    )


def _bucket_range_join(
    emb: DataFrame, threshold: float, bucket_dims: int, flips: bool
) -> DataFrame:
    """Pairs ``(id_a, id_b, cos)``, ``id_a < id_b``, with cosine >=
    ``threshold`` whose sign buckets match or, with ``flips``, lie within
    Hamming distance 1 (one side probes its bucket and each 1-bit flip)."""
    return _similar_pairs(
        _queries(emb, _bucket(bucket_dims, flips)),
        _corpus(emb, _bucket(bucket_dims)),
        "bucket",
        threshold,
    ).select(
        F.col("q_id").cast("bigint").alias("id_a"),
        F.col("vec_id").cast("bigint").alias("id_b"),
        "cos",
    )


def oracle_semdedup(
    table: str,
    k: int | None = None,
    n_iter: int = 2,
    threshold: float = 0.35,
    dim: int = 64,
) -> str:
    dot = ORACLE_DOT.format(a="a.embedding", b="b.embedding")
    na = ORACLE_NORM.format(a="a.embedding")
    nb = ORACLE_NORM.format(a="b.embedding")
    if k is None:
        # auto-knob: DuckDB derives the same k = ceil(N/250) the Spark
        # side computes in derive_k — integer arithmetic, exact both ways
        pre = (
            f"knob AS MATERIALIZED (SELECT {_knob_k_sql()} AS k FROM {table}),\n    "
        )
        k_sql: int | str = "(SELECT k FROM knob)"
    else:
        pre, k_sql = "", k
    return (
        _oracle_kmeans_ctes(table, k_sql, n_iter, dim, pre_cte=pre)
        + f""",
    sd_pairs AS (
      SELECT a.cluster, b.vec_id AS id_b
      FROM assign_final a JOIN assign_final b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE CAST({dot} / ({na} * {nb}) AS DOUBLE)
            >= CAST({threshold!r} AS DOUBLE)
    ),
    sd_dropped AS (
      SELECT cluster, count(*) AS n_dropped
      FROM (SELECT DISTINCT cluster, id_b FROM sd_pairs) GROUP BY cluster
    )
    SELECT CAST(t.cluster AS BIGINT) AS cluster,
           CAST(t.n_total AS BIGINT) AS n_total,
           CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM (SELECT cluster, count(*) AS n_total FROM assign_final GROUP BY cluster) t
    LEFT JOIN sd_dropped d USING (cluster)
    """
    )


def _oracle_pq_ctes(table: str, m: int, k: int, n_iter: int, dim: int) -> str:
    """Per-subspace unrolled kmeans CTE chains (prefix s{i}_) over sliced
    vectors, ending in s{i}_assign_final (vec_id, cluster)."""
    sub = dim // m
    parts = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        sl = f"CAST(embedding[{lo}:{hi}] AS DOUBLE[])"
        dist = (
            f"list_sum(list_transform(list_zip({sl.replace('embedding', 'e.embedding')}, ct.c), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))"
        )
        chain = f"""
    s{s}_cent0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, {sl} AS c
      FROM (SELECT vec_id, embedding FROM pq_seed_src ORDER BY vec_id LIMIT {k})
    )"""
        for i in range(n_iter):
            chain += f""",
    s{s}_assign{i} AS MATERIALIZED (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, ct.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, ct.cluster) AS rn
        FROM {table} e CROSS JOIN s{s}_cent{i} ct
      ) WHERE rn = 1
    ),
    s{s}_means{i} AS MATERIALIZED (
      SELECT cluster, i AS pos,
             CAST(sum(CAST(round(CAST(embedding[{lo} + i - 1] AS DOUBLE) * 1e9)
                           AS BIGINT)) AS DOUBLE) / count(*) / 1e9 AS m
      FROM s{s}_assign{i}, range(1, {sub + 1}) t(i)
      GROUP BY cluster, i
    ),
    s{s}_cent{i + 1} AS MATERIALIZED (
      SELECT ct.cluster, coalesce(mm.c, ct.c) AS c
      FROM s{s}_cent{i} ct LEFT JOIN (
        SELECT cluster, list(m ORDER BY pos) AS c FROM s{s}_means{i} GROUP BY cluster
      ) mm USING (cluster)
    )"""
        chain += f""",
    s{s}_assign_final AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, ct.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, ct.cluster) AS rn
        FROM {table} e CROSS JOIN s{s}_cent{n_iter} ct
      ) WHERE rn = 1
    )"""
        parts.append(chain)
    # same md5-gated deterministic seed sample as kmeans_fit/_oracle_kmeans_ctes
    gate = (
        "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        " % 16 = 0"
    )
    seed_src = f"""
    pq_seed_src AS MATERIALIZED (
      SELECT vec_id, embedding FROM {table} WHERE {gate}
        AND (SELECT count(*) FROM {table} WHERE {gate}) >= {k}
      UNION ALL
      SELECT vec_id, embedding FROM {table}
        WHERE (SELECT count(*) FROM {table} WHERE {gate}) < {k}
    )"""
    return "WITH " + seed_src + "," + ",".join(parts)


def oracle_pq_search(
    table: str,
    query_filter: str,
    m: int = 4,
    k_codebook: int = 8,
    n_iter: int = 2,
    k: int = 3,
    dim: int = 64,
) -> str:
    sub = dim // m
    qdist_ctes = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        qd = (
            f"list_sum(list_transform(list_zip(CAST(q.embedding[{lo}:{hi}] AS DOUBLE[]), ct.c), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))"
        )
        qdist_ctes.append(f"""
    qd{s} AS (
      SELECT q.vec_id AS id_q, ct.cluster, {qd} AS d
      FROM {table} q CROSS JOIN s{s}_cent{n_iter} ct
      WHERE {query_filter.replace('vec_id', 'q.vec_id')}
    )""")
    qd_joins = " ".join(
        f"JOIN qd{s} ON qd{s}.id_q = qq.id_q AND qd{s}.cluster = a{s}.cluster" for s in range(m)
    )
    total = " + ".join(f"qd{s}.d" for s in range(m))
    return (
        _oracle_pq_ctes(table, m, k_codebook, n_iter, dim)
        + ","
        + ",".join(qdist_ctes)
        + f""",
    qids AS (SELECT DISTINCT vec_id AS id_q FROM {table} q
             WHERE {query_filter.replace('vec_id', 'q.vec_id')}),
    scored AS (
      SELECT qq.id_q, cc.vec_id AS id_vec, CAST({total} AS DOUBLE) AS score_adc
      FROM (SELECT DISTINCT vec_id FROM {table}) cc CROSS JOIN qids qq
      {" ".join(f"JOIN s{s}_assign_final a{s} ON a{s}.vec_id = cc.vec_id" for s in range(m))}
      {qd_joins}
      WHERE cc.vec_id <> qq.id_q
    )
    SELECT CAST(id_q AS BIGINT) AS id_q, CAST(id_vec AS BIGINT) AS id_vec, score_adc,
           CAST(row_number() OVER (PARTITION BY id_q ORDER BY score_adc, id_vec) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """
    )


def ann_recall(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bucket_dims: int = 6,
) -> DataFrame:
    """Recall@k of the sign-bucket IVF path against brute-force ground
    truth — the measure-don't-guess audit to run whenever k / bucket_dims /
    quantizer change (the vector-search twin of dd_minhash_accuracy).

    Output: one row (n_queries, hits, possible, recall). Both sides share
    the query broadcast; the truth side is the brute-force top-k (bounded
    by the query count, not the corpus), so the audit costs one extra
    scored pass over the corpus — run it on a sampled query set.
    """
    return _recall(
        cosine_topk(emb, queries, k).select("q_id", "vec_id"),
        ivf_topk(emb, queries, k, bucket_dims).select("q_id", "vec_id"),
        F.col("hits").cast("double") / F.col("possible"),
    )


def _recall(truth: DataFrame, approx: DataFrame, recall: Column) -> DataFrame:
    """One row (n_queries, hits, possible, recall): how many of the
    ``truth`` (q_id, vec_id) pairs ``approx`` found; ``recall`` is computed
    from ``hits`` and ``possible``."""
    hits = truth.join(approx, ["q_id", "vec_id"]).agg(
        F.count("*").cast("bigint").alias("hits")
    )
    totals = truth.agg(
        F.count_distinct("q_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("possible"),
    )
    return totals.crossJoin(F.broadcast(hits)).select(
        "n_queries", "hits", "possible", recall.alias("recall")
    )


def oracle_ann_recall(
    table: str, query_filter: str, k: int = 5, bucket_dims: int = 6
) -> str:
    truth = oracle_cosine_topk(table, query_filter, k)
    approx = oracle_ivf_topk(table, query_filter, k, bucket_dims)
    return f"""
    WITH truth AS (SELECT q_id, vec_id FROM ({truth})),
    approx AS (SELECT q_id, vec_id FROM ({approx})),
    h AS (SELECT CAST(count(*) AS BIGINT) AS hits
          FROM truth JOIN approx USING (q_id, vec_id)),
    t AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                 CAST(count(*) AS BIGINT) AS possible FROM truth)
    SELECT n_queries, hits, possible,
           CAST(hits AS DOUBLE) / possible AS recall
    FROM t, h
    """


#: Query budget for the retrieval-quality audit: the truth side costs one
#: brute-force pass of |Q| x |corpus| dots, so |Q| must be a CONSTANT
#: sample budget, not a corpus fraction — a fractional query set (e.g.
#: vec_id % 25) makes the audit O(N^2/25) and the r10 bench measured it
#: x9.2 at x5 data; with the derived stride it is O(budget * N), plain
#: linear. This is how production recall audits actually run at 100 TB: a
#: fixed panel of queries against the full corpus.
RETRIEVAL_EVAL_QUERY_BUDGET = 80


def derive_query_stride(
    n_rows: int, budget: int = RETRIEVAL_EVAL_QUERY_BUDGET
) -> int:
    """Sampling stride for the eval query panel: ``ceil(N / budget)``, so
    ``vec_id % stride = 0`` selects ~budget queries at every corpus size.
    Pure integer arithmetic; the DuckDB oracle derives the identical
    stride from ``count(*)`` (see :func:`_knob_stride_sql`)."""
    return max(1, (int(n_rows) + budget - 1) // budget)


def _knob_stride_sql(budget: int = RETRIEVAL_EVAL_QUERY_BUDGET) -> str:
    """DuckDB aggregate-context scalar mirroring :func:`derive_query_stride`."""
    return f"GREATEST(1, (count(*) + {budget - 1}) // {budget})"


def _ndcg_gain_literals(k: int) -> list[str]:
    """DECIMAL(38,6) literals for the nDCG gain table g(r) = 1/log2(r+1),
    r = 1..k, computed ONCE in Python and emitted verbatim to BOTH engines —
    no ln()/log2 at query time, so there is zero libm or double→decimal
    cast-semantics risk (the float-CONSTANTS discipline from the pagerank /
    damping oracles, applied to a whole lookup table)."""
    import math
    from decimal import ROUND_HALF_EVEN, Decimal

    out = []
    for r in range(1, k + 1):
        g = math.log(2.0) / math.log(float(r + 1))
        out.append(
            str(Decimal(repr(g)).quantize(Decimal("0.000001"), ROUND_HALF_EVEN))
        )
    return out


def retrieval_quality(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    bucket_dims: int | None = None,
    retriever: str = "multiprobe",
    rerank_budget: int | None = None,
) -> DataFrame:
    """Offline retrieval-quality eval: per-query recall@k and nDCG@k of the
    production retriever (:func:`knn_join` — sign-bucket + Hamming-1
    multi-probe, size-derived dims by default) against the exact cosine
    top-k — the measurement a 100 TB pipeline gates retriever deploys on.

    Relevance is binary (the exact top-k set); the ideal ranking places all
    ``n_exact`` relevant docs at ranks 1..n_exact, so IDCG is the gain-table
    prefix sum over the exact ranks. Gains are DECIMAL(38,6) constants from
    :func:`_ndcg_gain_literals` (order-free exact sums; identical literals
    in the oracle). Output: (q_id, n_exact, n_hit, recall, ndcg), one row
    per query — recall = n_hit/n_exact, ndcg = DCG/IDCG with DCG summing
    gains at the RETRIEVER's ranks of the hits. A query whose probes
    surface nothing still reports (0 hits, 0.0, 0.0).

    Scale shape: one brute-force scored pass over the corpus for the truth
    side — |Q| x |corpus| dots, so |Q| MUST be a constant sample budget.
    ``queries=None`` (the default, and the registered path) derives the
    panel as ``vec_id % ceil(N/80) = 0`` (:func:`derive_query_stride`,
    oracle-mirrored): ~80 queries at every corpus size, making the audit
    O(80·N) — plain linear. Passing a fractional query set instead (e.g.
    ``vec_id % 25``) makes it O(N²/25): the r10 bench measured exactly
    that (×9.2 at ×5 data) before the budget became the default. The
    retriever side is its own bucket equi-join bill; the metric joins are
    all panel-scale. Unlike :func:`ann_recall` (corpus-level single recall
    scalar of the single-probe path), this is per-query and grades RANK
    quality, so a retriever that finds the right docs in the wrong order
    still loses nDCG.
    ``retriever`` selects the system under test: ``"multiprobe"`` (default,
    :func:`knn_join` — the all-pairs ANN-join path, the instrument row that
    MEASURED the recall decay) or ``"simhash"`` (:func:`simhash_topk` — the
    linear-scan serving path whose ``rerank_budget`` knob targets the
    recall>=0.5 floor). On the default panel the corpus is counted ONCE and
    both the stride and the retriever's auto knob derive from that same
    count — identical to the oracle's count(*) derivations on the
    registered table (and one fewer count job than the r10 shape, per
    ADVICE r10).
    """
    if queries is None:
        n_rows = emb.count()
        stride = derive_query_stride(n_rows)
        queries = emb.filter(F.col("vec_id") % stride == 0)
        if retriever == "multiprobe" and bucket_dims is None:
            bucket_dims = derive_bucket_dims(n_rows)
        if retriever == "simhash" and rerank_budget is None:
            rerank_budget = derive_rerank_budget(n_rows)
    gains = _ndcg_gain_literals(k)
    arr = "array(" + ", ".join(f"cast({g} as decimal(38,6))" for g in gains) + ")"
    exact = cosine_topk(emb, queries, k)
    if retriever == "multiprobe":
        approx = knn_join(queries, emb, k, bucket_dims)
    elif retriever == "simhash":
        approx = simhash_topk(emb, queries, k, rerank_budget)
    else:
        raise ValueError(f"unknown retriever {retriever!r}")
    gain = f"element_at({arr}, cast(rnk as int))"
    base = exact.groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum(F.expr(gain)).alias("idcg"),
    )
    hit = (
        approx.join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(
            F.count("*").cast("bigint").alias("n_hit"),
            F.sum(F.expr(gain)).alias("dcg"),
        )
    )
    return base.join(hit, "q_id", "left").select(
        F.col("q_id").cast("bigint"),
        "n_exact",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("recall"),
        (
            F.coalesce(F.col("dcg").cast("double"), F.lit(0.0))
            / F.col("idcg").cast("double")
        ).alias("ndcg"),
    )


def oracle_retrieval_quality(
    table: str,
    query_filter: str | None = None,
    k: int = 10,
    bucket_dims: int | None = None,
    retriever: str = "multiprobe",
    rerank_budget: int | None = None,
    budget: int = RETRIEVAL_EVAL_QUERY_BUDGET,
) -> str:
    """DuckDB twin of :func:`retrieval_quality`. ``query_filter=None`` (the
    default) selects the size-derived fixed query panel — ``vec_id %
    ceil(N/budget) = 0`` via a MATERIALIZED knob CTE, mirroring
    :func:`derive_query_stride` exactly (integer-only arithmetic).
    ``retriever`` mirrors the Spark switch: the approx side is either the
    multi-probe ANN join or the SimHash prefilter + re-rank path."""
    pre = ""
    if query_filter is None:
        pre = (
            f"qknob AS MATERIALIZED (SELECT {_knob_stride_sql(budget)} AS s"
            f" FROM {table}),\n    "
        )
        query_filter = "vec_id % (SELECT s FROM qknob) = 0"
    truth = oracle_cosine_topk(table, query_filter, k)
    if retriever == "multiprobe":
        approx = oracle_knn_join(table, query_filter, k, bucket_dims)
    elif retriever == "simhash":
        approx = oracle_simhash_topk(table, query_filter, k, rerank_budget)
    else:
        raise ValueError(f"unknown retriever {retriever!r}")
    gains = _ndcg_gain_literals(k)
    glist = "[" + ", ".join(f"CAST({g} AS DECIMAL(38,6))" for g in gains) + "]"
    return f"""
    WITH {pre}truth AS MATERIALIZED (SELECT q_id, vec_id, rnk FROM ({truth})),
    approx AS (SELECT q_id, vec_id, rnk FROM ({approx})),
    base AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
             sum({glist}[rnk]) AS idcg
      FROM truth GROUP BY q_id
    ),
    hit AS (
      SELECT a.q_id, CAST(count(*) AS BIGINT) AS n_hit,
             sum({glist}[a.rnk]) AS dcg
      FROM approx a JOIN truth t ON a.q_id = t.q_id AND a.vec_id = t.vec_id
      GROUP BY a.q_id
    )
    SELECT CAST(b.q_id AS BIGINT) AS q_id, b.n_exact,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
             AS recall,
           COALESCE(CAST(h.dcg AS DOUBLE), CAST(0 AS DOUBLE))
             / CAST(b.idcg AS DOUBLE) AS ndcg
    FROM base b LEFT JOIN hit h ON b.q_id = h.q_id
    """


def ivf_multiprobe_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5, bucket_dims: int = 6
) -> DataFrame:
    """Multi-probe IVF: each query probes its own sign bucket plus every
    Hamming-1 neighbor (dims+1 probes), exact top-k over the union.

    This is the standard recall repair for coarse quantizers (the ann_recall
    audit is what tells you single-probe isn't enough): candidates scanned
    grow ~(dims+1)/2^dims of the corpus — still a tiny fraction — while
    recall rises steeply because near-boundary neighbors differ in exactly
    one sign. The probe fan-out lives on the (broadcast) query side; each
    candidate still sits in exactly one bucket, so no dedup is needed.
    """
    c = _corpus(emb, _bucket(bucket_dims))
    q = _queries(queries, _bucket(bucket_dims, flips=True))
    scored = _probe(c, q, "bucket").withColumn("cos", F.expr(COS))
    return _nearest(scored, k, F.desc("cos"), "cos")


def oracle_ivf_multiprobe_topk(
    table: str, query_filter: str, k: int = 5, bucket_dims: int = 6
) -> str:
    def bucket(col: str, flip: int = 0) -> str:
        parts = " || ".join(
            f"(CASE WHEN {col}[{i + 1}] >= 0 THEN "
            + ("'-' ELSE '+'" if i + 1 == flip else "'+' ELSE '-'")
            + " END)"
            for i in range(bucket_dims)
        )
        return f"({parts})"

    probe_selects = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {bucket('embedding', j)} AS bucket"
        f" FROM {table} WHERE {query_filter}"
        for j in range(bucket_dims + 1)
    )
    dot = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="q.embedding")
    return f"""
    WITH q AS ({probe_selects}),
    c AS (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket FROM {table}
    ), scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
      FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
    FROM scored QUALIFY rnk <= {k}
    """


# ---------------------------------------------------------------------------
# Trained-quantizer recall curve (measure-then-tune on a clustered fixture)
# ---------------------------------------------------------------------------

def clustered_fixture(emb: DataFrame, n_anchors: int = 8) -> DataFrame:
    """Deterministic clustered copy of an embedding table: vector i is
    pulled to anchor ``i % n_anchors`` (a ±2 sign pattern over the anchor
    id's bits, cycled across dimensions) plus 0.25× the original vector as
    within-cluster noise.

    IVF recall numbers on uniform vectors are a floor, not a forecast —
    real embedding corpora are clustered, which is exactly what a trained
    coarse quantizer exploits. This fixture adds that structure without any
    RNG: every value is the same IEEE double on Spark and DuckDB (0.25 is a
    power of two; the anchor is an exact ±2.0), so the oracle replays the
    whole pipeline bit-identically.
    """
    bits = max(1, (n_anchors - 1).bit_length())
    return emb.select(
        _vec_id(),
        F.expr(
            f"transform(cast(embedding as array<double>), (x, j) -> "
            f"(case when (shiftright(cast(vec_id % {n_anchors} as int), j % {bits}) & 1) = 1 "
            f"then 2.0D else -2.0D end) + 0.25D * x)"
        ).alias("embedding"),
    )


def oracle_clustered_fixture(table: str = "embeddings", n_anchors: int = 8) -> str:
    """DuckDB subquery (parenthesized, usable as a table term) mirroring
    :func:`clustered_fixture`. DuckDB's lambda index is 1-based, Spark's
    0-based — hence the ``(j - 1)``."""
    bits = max(1, (n_anchors - 1).bit_length())
    return (
        f"(SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), (x, j) -> "
        f"(CASE WHEN ((CAST(vec_id % {n_anchors} AS INT) >> ((j - 1) % {bits})) & 1) = 1 "
        f"THEN CAST(2.0 AS DOUBLE) ELSE CAST(-2.0 AS DOUBLE) END) "
        f"+ CAST(0.25 AS DOUBLE) * x) AS embedding FROM {table})"
    )


def kmeans_recall_curve(
    emb: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """Recall@k vs scan-fraction of the TRAINED k-means IVF path, one row
    per ``nprobe`` operating point — the production tuning curve the
    sim_ann_recall audit motivates (pick the smallest nprobe meeting the
    recall target; scan_frac is the cost you pay for it).

    One corpus-assignment pass and one probe join at ``max(nprobes)``
    produce the scored candidate set with its probe rank attached. Each
    candidate is copied to every level ``n`` with ``prb <= n``, and one
    ranking per (nprobe, q_id) gives every curve point in a single read of
    the candidates; one left join to the ground truth then counts hits and
    candidates per level. Ground truth is the brute-force top-k over the
    (small, broadcast) query sample. scan_frac denominates by the
    brute-force comparison count ``n_queries * (n_corpus - 1)``.

    Everything downstream of the counts is a ratio of exact integers, so
    the result hashes identically at any parallelism.
    """
    level = F.explode(F.array(*[F.lit(n) for n in nprobes])).alias("nprobe")
    corpus = _assign(_corpus(emb), cents, "vec")
    probes = _cell_probes(_queries(queries), cents, max(nprobes))
    ranked = (
        _probe(corpus, probes, "cluster")
        .select("q_id", "vec_id", "prb", F.expr(COS).alias("cos"), level)
        .filter(F.col("prb") <= F.col("nprobe"))
        .withColumn("rnk", _rank(F.desc("cos"), F.asc("vec_id"), by=("nprobe", "q_id")))
    )
    truth = cosine_topk(emb, queries, k).select("q_id", "vec_id", F.lit(1).alias("hit"))
    per_level = (
        ranked.join(F.broadcast(truth), ["q_id", "vec_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.when(F.col("rnk") <= k, F.col("hit"))).alias("hits"),
            F.count("*").alias("scanned"),
        )
    )
    tot = truth.agg(
        F.count_distinct("q_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("possible"),
    )
    # one row per level even where a level scans nothing
    levels = emb.agg(F.count("*").cast("bigint").alias("n_corpus")).select("n_corpus", level)
    return (
        levels.join(per_level, "nprobe", "left")
        .crossJoin(F.broadcast(tot))
        .withColumns(
            {c: F.coalesce(c, F.lit(0)).cast("bigint") for c in ("hits", "scanned")}
        )
        .select(
            F.col("nprobe").cast("bigint"),
            "n_queries",
            "possible",
            "hits",
            (F.col("hits").cast("double") / F.col("possible")).alias("recall"),
            "scanned",
            (
                F.col("scanned").cast("double")
                / (F.col("n_queries") * (F.col("n_corpus") - F.lit(1))).cast("double")
            ).alias("scan_frac"),
        )
    )


def oracle_kmeans_recall_curve(
    table: str,
    query_filter: str,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    n_clusters: int = 8,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB replay of :func:`kmeans_recall_curve` over the same trained
    centroids (shared Lloyd CTE chain). ``table`` may be a parenthesized
    subquery, e.g. :func:`oracle_clustered_fixture`."""
    max_np = max(nprobes)
    qdist = (
        "list_sum(list_transform(list_zip(CAST(q.embedding AS DOUBLE[]), ct.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    dot = ORACLE_DOT.format(a="c.embedding", b="p.embedding")
    nc_ = ORACLE_NORM.format(a="c.embedding")
    np_ = ORACLE_NORM.format(a="p.embedding")
    tdot = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    tnc = ORACLE_NORM.format(a="c.embedding")
    tnq = ORACLE_NORM.format(a="q.embedding")
    levels = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({n} AS BIGINT) AS nprobe,
             (SELECT CAST(count(*) AS BIGINT) FROM (
                SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id,
                         row_number() OVER (PARTITION BY q_id
                                            ORDER BY cos DESC, vec_id) AS rnk
                  FROM scored WHERE prb <= {n}
                ) WHERE rnk <= {k}
              ) a JOIN truth USING (q_id, vec_id)) AS hits,
             (SELECT CAST(count(*) AS BIGINT) FROM scored WHERE prb <= {n})
               AS scanned"""
        for n in nprobes
    )
    return (
        _oracle_kmeans_ctes(table, n_clusters, n_iter, dim)
        + f""",
    probes_all AS (
      SELECT q_id, embedding, cluster, prb FROM (
        SELECT q.vec_id AS q_id, q.embedding, ct.cluster,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {qdist}, ct.cluster) AS prb
        FROM {table} q CROSS JOIN cent{n_iter} ct
        WHERE {query_filter.replace('vec_id', 'q.vec_id')}
      ) WHERE prb <= {max_np}
    ),
    scored AS (
      SELECT p.q_id, c.vec_id, p.prb,
             CAST({dot} / ({nc_} * {np_}) AS DOUBLE) AS cos
      FROM assign_final c JOIN probes_all p ON c.cluster = p.cluster
                                           AND c.vec_id <> p.q_id
    ),
    truth AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY CAST({tdot} / ({tnc} * {tnq}) AS DOUBLE) DESC,
                                           c.vec_id) AS rnk
        FROM {table} c CROSS JOIN
             (SELECT vec_id, embedding FROM {table} WHERE {query_filter}) q
        WHERE c.vec_id <> q.vec_id
      ) WHERE rnk <= {k}
    ),
    tot AS (
      SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS possible
      FROM truth
    ),
    ncorp AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM {table}),
    levels AS (
{levels}
    )
    SELECT l.nprobe, t.n_queries, t.possible, l.hits,
           CAST(l.hits AS DOUBLE) / t.possible AS recall,
           l.scanned,
           CAST(l.scanned AS DOUBLE) / (t.n_queries * (n.n_corpus - 1))
             AS scan_frac
    FROM levels l, tot t, ncorp n
    """
    )


# ---------------------------------------------------------------------------
# PQ quantization-loss audit (recall of ADC search vs exact L2 truth)
# ---------------------------------------------------------------------------

ORACLE_L2 = (
    "list_sum(list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def l2_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact squared-L2 top-k per query (brute force; queries broadcast) —
    the ground truth for the PQ family, which ranks by L2 not cosine."""
    scored = _all_pairs(_corpus(emb), _queries(queries)).select(
        "q_id", "vec_id", F.expr(L2.format(a="vec", b="q_vec")).alias("d")
    )
    return _nearest(scored, k, F.asc("d")).select("q_id", "vec_id")


def pq_recall(
    emb: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
) -> DataFrame:
    """Recall@k of PQ-ADC search against exact squared-L2 ground truth —
    the quantization-loss audit for the compressed scan path (what you
    re-run whenever m / codebook size change). One row:
    (n_queries, hits, possible, recall). The audit costs one extra exact
    pass over the corpus for the sampled query set; the ADC side still
    touches only the m-byte codes.
    """
    approx = pq_search_adc(emb, queries, books, k).select(
        F.col("id_q").alias("q_id"), F.col("id_vec").alias("vec_id")
    )
    return _recall(
        l2_topk(emb, queries, k),
        approx,
        F.expr(
            "case when possible = 0 then cast(0 as double)"
            " else cast(hits as double) / possible end"
        ),
    )


def oracle_pq_recall(
    table: str,
    query_filter: str,
    m: int = 4,
    k_codebook: int = 8,
    n_iter: int = 2,
    k: int = 5,
    dim: int = 64,
) -> str:
    approx = oracle_pq_search(table, query_filter, m, k_codebook, n_iter, k, dim)
    d = ORACLE_L2.format(a="c.embedding", b="q.embedding")
    return f"""
    WITH approx AS (SELECT id_q AS q_id, id_vec AS vec_id FROM ({approx})),
    truth AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {d}, c.vec_id) AS rnk
        FROM {table} c CROSS JOIN
             (SELECT vec_id, embedding FROM {table} WHERE {query_filter}) q
        WHERE c.vec_id <> q.vec_id
      ) WHERE rnk <= {k}
    ),
    h AS (SELECT CAST(count(*) AS BIGINT) AS hits
          FROM truth JOIN approx USING (q_id, vec_id)),
    t AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                 CAST(count(*) AS BIGINT) AS possible FROM truth)
    SELECT n_queries, hits, possible,
           CASE WHEN possible = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(hits AS DOUBLE) / possible END AS recall
    FROM t, h
    """


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer pruning + PQ-ADC scoring — the production ANN
# index shape (FAISS IndexIVFPQ without residual encoding): the coarse cells
# bound WHICH rows are scanned, the PQ codes bound WHAT is read per row.
# ---------------------------------------------------------------------------

def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ search: rank trained coarse cells per query, probe the
    ``nprobe`` nearest, score ONLY the probed cells' rows by PQ-ADC table
    lookups, take top-k by approximate distance.

    One map-only corpus pass computes BOTH the coarse assignment and the m
    subspace codes (centroids and codebooks ride the plan as literals), so
    the persisted index row is (vec_id, cluster, m codes) — cluster id + m
    bytes instead of dim floats. The probe is an equi-join on the cluster
    key (queries broadcast); per query the scan touches ~nprobe/n_clusters
    of the corpus and reads only codes. Scanned-fraction × compression
    multiply — that is why this is the production layout at 100 TB.

    Output: (id_q, id_vec, score_adc, rnk ascending by ADC distance).
    """
    indexed = _assign(_corpus(emb, _pq_codes(books)), cents, "vec")
    probes = _cell_probes(_queries(queries, *_adc_tables(books)), cents, nprobe)
    scored = _probe(indexed, probes, "cluster").select(
        F.col("q_id").alias("id_q"),
        F.col("vec_id").alias("id_vec"),
        _adc(len(books)).alias("score_adc"),
    )
    return _nearest(scored, k, F.asc("score_adc"), "score_adc", ids=("id_q", "id_vec"))


def oracle_ivf_pq(
    table: str,
    query_filter: str,
    n_clusters: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k_codebook: int = 8,
    n_iter: int = 2,
    k: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB replay of :func:`ivf_pq_topk`: the coarse kmeans CTE chain
    (seed_src/cent*/assign_final) and the per-subspace PQ chains
    (pq_seed_src/s{i}_*) share one WITH clause; probes come from the coarse
    centroids, ADC terms from per-(query, code) subspace distances."""
    sub = dim // m
    km = _oracle_kmeans_ctes(table, n_clusters, n_iter, dim)
    pq = _oracle_pq_ctes(table, m, k_codebook, n_iter, dim)
    pq_body = pq.strip()
    assert pq_body.startswith("WITH")
    pq_body = pq_body[len("WITH") :]
    qdist = (
        "list_sum(list_transform(list_zip(CAST(q.embedding AS DOUBLE[]), ct.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    qd_ctes = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        qd = (
            f"list_sum(list_transform(list_zip(CAST(q.embedding[{lo}:{hi}] AS DOUBLE[]), ct.c), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))"
        )
        qd_ctes.append(f"""
    ipq_qd{s} AS (
      SELECT q.vec_id AS q_id, ct.cluster, {qd} AS d
      FROM {table} q CROSS JOIN s{s}_cent{n_iter} ct
      WHERE {query_filter.replace('vec_id', 'q.vec_id')}
    )""")
    code_joins = " ".join(
        f"JOIN s{s}_assign_final a{s} ON a{s}.vec_id = c.vec_id" for s in range(m)
    )
    adc_joins = " ".join(
        f"JOIN ipq_qd{s} ON ipq_qd{s}.q_id = p.q_id AND ipq_qd{s}.cluster = a{s}.cluster"
        for s in range(m)
    )
    total = " + ".join(f"ipq_qd{s}.d" for s in range(m))
    return (
        km
        + ","
        + pq_body
        + ","
        + ",".join(qd_ctes)
        + f""",
    ipq_probes AS (
      SELECT q_id, cluster FROM (
        SELECT q.vec_id AS q_id, ct.cluster,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {qdist}, ct.cluster) AS prb
        FROM {table} q CROSS JOIN cent{n_iter} ct
        WHERE {query_filter.replace('vec_id', 'q.vec_id')}
      ) WHERE prb <= {nprobe}
    ),
    ipq_scored AS (
      SELECT p.q_id, c.vec_id, CAST({total} AS DOUBLE) AS score_adc
      FROM assign_final c
      JOIN ipq_probes p ON c.cluster = p.cluster AND c.vec_id <> p.q_id
      {code_joins}
      {adc_joins}
    )
    SELECT CAST(q_id AS BIGINT) AS id_q, CAST(vec_id AS BIGINT) AS id_vec,
           score_adc,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_adc, vec_id) AS BIGINT) AS rnk
    FROM ipq_scored QUALIFY rnk <= {k}
    """
    )


# ---------------------------------------------------------------------------
# Exact second-moment matrix + PCA (embedding whitening / top direction)
# ---------------------------------------------------------------------------


def embedding_moments(emb: DataFrame, dims: int = 16, scale: int = 10_000) -> DataFrame:
    """EXACT second-moment matrix of the leading ``dims`` embedding
    coordinates, as scaled integers — the distributed half of PCA
    (covariance → :func:`pca_top_component` power-iterates the d×d result
    driver-side), and the input to embedding whitening / decorrelation.

    Each coordinate is fixed-pointed to ``round(x * scale)`` BIGINT, so
    every sum and product sum is an exact integer — identical under any
    partial-sum grouping and any engine, the same determinism recipe as
    pagerank/HITS. Layout: one wide aggregation computes n, the d marginal
    sums and the d(d+1)/2 upper-triangle product sums as SINGLE-ROW
    partials (map-side combined — the shuffle carries one ~d²-cell row per
    partition, data volume never moves), then a stack unpivots to rows.

    Headroom: |s| <= scale * max|x|, so Σ s_i*s_j <= n * (scale*max|x|)².
    With unit-norm embeddings and scale=1e4 that holds to n ≈ 9e10 rows;
    at larger corpora drop scale to 1e3 (still 3 decimal digits of
    per-coordinate precision and 9e16 rows of headroom).

    Output rows: (i, -1, sum_i, n) marginals and (i, j, sum_ij, n) for
    i <= j — covariance cell = s_ij/(n·scale²) − (s_i/(n·scale))·(s_j/(n·scale)).
    """
    s_cols = [
        F.expr(
            f"cast(round(cast(element_at(embedding, {i + 1}) as double) * {scale})"
            f" as bigint)"
        ).alias(f"__s{i}")
        for i in range(dims)
    ]
    base = emb.select(*s_cols)
    aggs = [F.count("*").cast("bigint").alias("n")]
    for i in range(dims):
        aggs.append(F.sum(F.col(f"__s{i}")).cast("bigint").alias(f"m_{i}"))
    for i in range(dims):
        for j in range(i, dims):
            aggs.append(
                F.sum(F.col(f"__s{i}") * F.col(f"__s{j}"))
                .cast("bigint")
                .alias(f"p_{i}_{j}")
            )
    one = base.agg(*aggs)
    parts = [f"{i}, -1, m_{i}" for i in range(dims)]
    parts += [f"{i}, {j}, p_{i}_{j}" for i in range(dims) for j in range(i, dims)]
    stack_expr = f"stack({len(parts)}, " + ", ".join(parts) + ") as (i, j, s)"
    return one.select("n", F.expr(stack_expr)).select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.col("s").cast("bigint").alias("s"),
        "n",
    )


def oracle_embedding_moments(table: str, dims: int = 16, scale: int = 10_000) -> str:
    def cell(i: int) -> str:
        return f"CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * {scale}) AS BIGINT)"

    sums = [f"CAST(count(*) AS BIGINT) AS n"]
    sums += [f"CAST(sum({cell(i)}) AS BIGINT) AS m_{i}" for i in range(dims)]
    sums += [
        f"CAST(sum({cell(i)} * {cell(j)}) AS BIGINT) AS p_{i}_{j}"
        for i in range(dims)
        for j in range(i, dims)
    ]
    # one struct per output cell, unnested from the SINGLE agg row — the
    # naive UNION ALL of one SELECT per cell re-executes the aggregate CTE
    # per branch in DuckDB (measured 9s vs 0.1s at sf0.01)
    cells = [
        f"struct_pack(i := CAST({i} AS INT), j := CAST(-1 AS INT), s := m_{i})"
        for i in range(dims)
    ]
    cells += [
        f"struct_pack(i := CAST({i} AS INT), j := CAST({j} AS INT), s := p_{i}_{j})"
        for i in range(dims)
        for j in range(i, dims)
    ]
    return (
        "WITH agg AS (SELECT "
        + ", ".join(sums)
        + f" FROM {table})\n"
        + "SELECT u.i AS i, u.j AS j, u.s AS s, n FROM agg, UNNEST(["
        + ", ".join(cells)
        + "]) AS t(u)"
    )


def pca_top_component(
    moments_rows: list, dims: int, scale: int, iterations: int = 50
):
    """Power iteration for the top principal component on the EXACT moment
    cells from :func:`embedding_moments` — pass `.collect()` of that frame
    (metadata scale by construction: dims*(dims+3)/2 + marginals rows,
    never data). Deterministic: fixed start vector (uniform), fixed
    iteration count, float64 driver math on exact-integer inputs, sign
    canonicalized so the largest-|coordinate| entry is positive.

    Returns (eigenvector ndarray[dims], eigenvalue float).
    """
    import numpy as np

    m = np.zeros(dims)
    p = np.zeros((dims, dims))
    n = None
    for r in moments_rows:
        n = r["n"]
        if r["j"] == -1:
            m[r["i"]] = r["s"]
        else:
            p[r["i"], r["j"]] = p[r["j"], r["i"]] = r["s"]
    mean = m / (n * scale)
    cov = p / (n * scale * scale) - np.outer(mean, mean)
    v = np.ones(dims) / np.sqrt(dims)
    for _ in range(iterations):
        w = cov @ v
        nrm = np.linalg.norm(w)
        if nrm == 0.0:
            break
        v = w / nrm
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    eigval = float(v @ cov @ v)
    return v, eigval


def project_onto(emb: DataFrame, direction, out_col: str = "proj") -> DataFrame:
    """Project each embedding onto a fixed direction (e.g. the top
    principal component) as a narrow JVM map — the direction is injected
    as repr'd double literals, so the fold is whole-stage-codegen with no
    Python in the path."""
    terms = " + ".join(
        f"cast(element_at(embedding, {i + 1}) as double) * {float(x)!r}"
        for i, x in enumerate(direction)
    )
    return emb.withColumn(out_col, F.expr(terms))


def pq_rerank(
    emb: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k_short: int = 10,
    k: int = 3,
) -> DataFrame:
    """PQ shortlist + EXACT re-rank — the production two-stage ANN serve
    path (FAISS's IndexIVFPQ + refine): ADC over the m-byte codes selects
    ``k_short`` candidates per query (the scan never touches raw
    vectors), then ONLY those candidates fetch their full vectors for an
    exact squared-L2 re-rank down to ``k``.

    The refetch is an id-keyed equi-join of the shortlist (|Q| * k_short
    rows — query-scale, not corpus-scale) against the vector table, so at
    100 TB the expensive exact distances are computed for a vanishing
    fraction of the corpus while final ranking quality comes from
    uncompressed arithmetic. Exact distance is the in-order zip_with fold
    (≡ DuckDB list_sum/list_zip, the proven cosine idiom). Output:
    (id_q, id_vec, score_adc, d_exact, rnk) ranked by exact distance.
    """
    ex = (
        pq_search_adc(emb, queries, books, k_short)
        .join(F.broadcast(_queries(queries)), F.col("id_q") == F.col("q_id"))
        .join(_corpus(emb), F.col("id_vec") == F.col("vec_id"))
        .withColumn("d_exact", F.expr(L2.format(a="vec", b="q_vec")))
    )
    return _nearest(
        ex, k, F.asc("d_exact"), "score_adc", "d_exact", ids=("id_q", "id_vec")
    )


def oracle_pq_rerank(
    table: str,
    query_filter: str,
    m: int = 4,
    k_codebook: int = 8,
    n_iter: int = 2,
    k_short: int = 10,
    k: int = 3,
    dim: int = 64,
) -> str:
    inner = oracle_pq_search(table, query_filter, m, k_codebook, n_iter, k_short, dim)
    exact = (
        "list_sum(list_transform(list_zip(CAST(q.embedding AS DOUBLE[]),"
        " CAST(c.embedding AS DOUBLE[])), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
    WITH shortlist AS ({inner}),
    ex AS (
      SELECT s.id_q, s.id_vec, s.score_adc, CAST({exact} AS DOUBLE) AS d_exact
      FROM shortlist s JOIN {table} q ON q.vec_id = s.id_q
                       JOIN {table} c ON c.vec_id = s.id_vec
    )
    SELECT CAST(id_q AS BIGINT) AS id_q, CAST(id_vec AS BIGINT) AS id_vec,
           score_adc, d_exact,
           CAST(row_number() OVER (PARTITION BY id_q ORDER BY d_exact, id_vec)
                AS BIGINT) AS rnk
    FROM ex QUALIFY rnk <= {k}
    """


def matryoshka_recall(
    emb: DataFrame,
    queries: DataFrame,
    prefix_dims: list[int] = (8, 16, 32),
    k: int = 5,
) -> DataFrame:
    """Matryoshka prefix-dimension recall curve (Kusupati et al. 2022):
    recall@k of cosine search using only the FIRST d' coordinates, per
    d', against full-dimension ground truth — the measurement that tells
    you how far an MRL-style embedding can be truncated (and its index
    shrunk 2-8x) before retrieval quality pays. The ANN-family
    operating-point audit, applied to the dimension axis (siblings:
    ann_recall over buckets, kmeans_recall_curve over nprobe, pq_recall
    over codebooks).

    Each prefix scores all pairs on sliced arrays (the slice happens in
    the codegen'd fold — no array materialization shuffle); one ranking
    per (dim_prefix, q_id) ranks every prefix at once, and one left join
    of truth × prefixes counts the hits. Ground truth is the
    full-dimension :func:`cosine_topk`. Output:
    (dim_prefix, n_queries, hits, possible, recall).
    """
    scored = None
    for d in prefix_dims:
        prefix = F.slice("embedding", 1, d).alias("embedding")
        part = _all_pairs(
            _corpus(emb.select("vec_id", prefix)), _queries(queries.select("vec_id", prefix))
        ).select(F.lit(d).alias("dim_prefix"), "q_id", "vec_id", F.expr(COS).alias("cos"))
        scored = part if scored is None else scored.unionByName(part)
    found = _topk(
        scored, k, F.desc("cos"), F.asc("vec_id"), by=("dim_prefix", "q_id")
    ).select("dim_prefix", "q_id", "vec_id", F.lit(1).alias("hit"))
    level = F.explode(F.array(*[F.lit(d) for d in prefix_dims])).alias("dim_prefix")
    per_level = (
        cosine_topk(emb, queries, k)
        .select("q_id", "vec_id", level)
        .join(found, ["dim_prefix", "q_id", "vec_id"], "left")
        .groupBy("dim_prefix")
        .agg(
            F.count_distinct("q_id").alias("n_queries"),
            F.count("hit").alias("hits"),
            F.count("*").alias("possible"),
        )
    )
    # one row per prefix even when there are no queries
    levels = emb.sparkSession.range(1).select(level)
    return (
        levels.join(per_level, "dim_prefix", "left")
        .withColumns(
            {
                c: F.coalesce(c, F.lit(0)).cast("bigint")
                for c in ("n_queries", "hits", "possible")
            }
        )
        .select(
            F.col("dim_prefix").cast("int"),
            "n_queries",
            "hits",
            "possible",
            (F.col("hits").cast("double") / F.col("possible").cast("double")).alias(
                "recall"
            ),
        )
    )


def oracle_matryoshka_recall(
    table: str,
    query_filter: str,
    prefix_dims: list[int] = (8, 16, 32),
    k: int = 5,
) -> str:
    truth = oracle_cosine_topk(table, query_filter, k)

    def prefix_topk(d: int) -> str:
        dot = ORACLE_DOT.format(a=f"c.embedding[1:{d}]", b=f"q.embedding[1:{d}]")
        nc = ORACLE_NORM.format(a=f"c.embedding[1:{d}]")
        nq = ORACLE_NORM.format(a=f"q.embedding[1:{d}]")
        return f"""
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
        FROM {table} c CROSS JOIN
             (SELECT vec_id, embedding FROM {table} WHERE {query_filter}) q
        WHERE c.vec_id <> q.vec_id
      ) QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= {k}
    """

    parts = []
    for d in prefix_dims:
        parts.append(f"""
    SELECT CAST({d} AS INT) AS dim_prefix, t.n_queries, h.hits, t.possible,
           CAST(h.hits AS DOUBLE) / t.possible AS recall
    FROM (SELECT CAST(count(*) AS BIGINT) AS hits
          FROM truth JOIN ({prefix_topk(d)}) a USING (q_id, vec_id)) h,
         (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                 CAST(count(*) AS BIGINT) AS possible FROM truth) t""")
    return (
        f"WITH truth AS MATERIALIZED (SELECT q_id, vec_id FROM ({truth}))\n"
        + "\nUNION ALL\n".join(parts)
    )


def knn_hubness(
    emb: DataFrame,
    k: int = 5,
    bucket_dims: int | None = None,
) -> DataFrame:
    """Hubness auditof the ANN graph: the k-occurrence (in-degree)
    distribution of :func:`knn_join` run corpus-to-corpus. Heavy right
    tails ("hub" vectors that appear in everyone's top-k) are the standard
    high-dimensionality pathology that silently degrades retrieval — this
    is the measurement that says whether the embedding space needs
    centering/whitening before it ships.

    Scale shape: the bucketed big-to-big kNN (Σ bucket² cost; bucket_dims
    defaults to the size-derived :func:`derive_bucket_dims` knob so the
    pair bill stays linear in N — see :func:`knn_join`), one keyed
    in-degree count, a left join back to the corpus so zero-degree vectors
    are counted, and a final histogram groupBy. All integer counts.

    Self-join symmetry exploited (round 9): the Hamming-≤1 candidate
    relation of a corpus-to-ITSELF kNN is symmetric, so instead of
    :func:`knn_join`'s directed probe (every ordered pair scored), the
    undirected pair set is mined once with the ``id_a < id_b`` filter
    (each unordered pair meets exactly one probe — the
    :func:`threshold_join` argument) and mirrored into both orientations
    before the per-query top-k. Halves the join output and computes each
    cosine ONCE instead of twice; the mirrored cos is bit-identical
    (element-wise products and the norm product commute, the index-order
    sum is unchanged), so the declared output — and the oracle — are
    untouched. Measured at sf0.5 (min-of-3, fresh process per side): 28.45 s
    directed, 18.03 s mirrored, 15.87 s mirrored with the checkpoint pin
    below (sf0.1: 4.16 → 3.02 → 2.68 s).
    Output: (k_occ, n_vectors).
    """
    if bucket_dims is None:
        bucket_dims = derive_bucket_dims(emb.count())
    c = _corpus(emb, _bucket(bucket_dims))
    q = _queries(emb, _bucket(bucket_dims, flips=True))
    keep = F.col("q_id") < F.col("vec_id")
    # localCheckpoint(eager=False): the frame feeds BOTH union
    # orientations — without it each branch recomputes the bucket join
    # (lineage duplication), the exact pattern the betweenness rework
    # documented. eager=False is not lazy under AQE: the call runs the
    # bucket join's shuffle stages and registers a persistent RDD at once;
    # only the final stage's blocks wait for the first job that reads them.
    # The checkpointed RDD is then shared by both orientations; persist()
    # would instead pin the pre-AQE shuffle layout under the driver's plain
    # session.
    undirected = (
        _cell_pairs(q, c, "bucket", keep)
        .withColumn("cos", F.expr(COS))
        .select("q_id", "vec_id", "cos")
        .localCheckpoint(eager=False)
    )
    knn_all = undirected.unionByName(
        undirected.select(
            F.col("vec_id").alias("q_id"),
            F.col("q_id").alias("vec_id"),
            "cos",
        )
    )
    knn = _topk(knn_all, k, F.desc("cos"), F.asc("vec_id")).select("vec_id")
    indeg = knn.groupBy("vec_id").agg(F.count("*").cast("bigint").alias("k_occ"))
    allv = (
        emb.select(_vec_id())
        .join(indeg, "vec_id", "left")
        .select(F.coalesce(F.col("k_occ"), F.lit(0)).cast("bigint").alias("k_occ"))
    )
    return allv.groupBy("k_occ").agg(F.count("*").cast("bigint").alias("n_vectors"))


def oracle_knn_hubness(table: str, k: int = 5, bucket_dims: int | None = None) -> str:
    return f"""
    WITH knn AS ({oracle_knn_join(table, "true", k=k, bucket_dims=bucket_dims)}),
    indeg AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS k_occ FROM knn GROUP BY vec_id
    ),
    allv AS (
      SELECT CAST(coalesce(i.k_occ, 0) AS BIGINT) AS k_occ
      FROM {table} e LEFT JOIN indeg i ON e.vec_id = i.vec_id
    )
    SELECT k_occ, CAST(count(*) AS BIGINT) AS n_vectors FROM allv GROUP BY k_occ
    """


def mmr_topk(
    emb: DataFrame,
    query_filter: str = "vec_id = 0",
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance: greedy diversified top-k —
    round r picks argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s).
    The standard retrieval de-redundancy step (RAG context building,
    eval-set selection) that plain top-k can't express.

    Scale shape: relevance is ONE broadcast-query pass over the corpus;
    the greedy loop then runs on a ``pool``-row shortlist pinned with
    localCheckpoint (top-``pool`` by relevance via TakeOrdered — never a
    global sort). Each round is a broadcast 1-row crossJoin carrying the
    selected set as an array (≤ k vectors — metadata scale) and an
    array_max over JVM higher-order dot products; no Python, no driver
    collect. Cosines round to 6dp BEFORE the argmax, and ties break by
    vec_id, so every engine selects the identical set in the identical
    order.

    Output: (rnk, vec_id, relevance, mmr_score) — k rows.
    """
    cand = _all_pairs(_corpus(emb), _queries(emb.filter(query_filter))).select(
        "vec_id", "vec", F.round(F.expr(COS), 6).alias("rel")
    )
    shortlist = (
        cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(pool).localCheckpoint()
    )
    mmr_dot = DOT.format(a="vec", b="s_.vec")
    mmr_na = NORM.format(a="vec")
    mmr_nb = NORM.format(a="s_.vec")
    ms_expr = (
        f"array_max(transform(sels, s_ -> "
        f"round({mmr_dot} / ({mmr_na} * {mmr_nb}), 6)))"
    )
    winners: list[DataFrame] = []
    sel: DataFrame | None = None
    for r in range(1, k + 1):
        if sel is None:
            scored = shortlist.withColumn("ms", F.lit(0.0))
        else:
            sel_arr = sel.agg(
                F.collect_list(F.struct(F.col("vec_id").alias("sid"), F.col("vec"))).alias(
                    "sels"
                )
            )
            scored = (
                shortlist.join(sel.select("vec_id"), "vec_id", "left_anti")
                .crossJoin(F.broadcast(sel_arr))
                .withColumn("ms", F.expr(ms_expr))
                .drop("sels")
            )
        win = (
            scored.withColumn(
                "score",
                F.round(F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("ms"), 6),
            )
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "vec", "rel", "score", F.lit(r).cast("int").alias("rnk"))
        )
        winners.append(win)
        sel = win.select("vec_id", "vec") if sel is None else sel.unionByName(
            win.select("vec_id", "vec")
        )
    out = winners[0]
    for w_df in winners[1:]:
        out = out.unionByName(w_df)
    return out.select(
        "rnk",
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("rel").alias("relevance"),
        F.col("score").alias("mmr_score"),
    )


def oracle_mmr_topk(
    table: str,
    query_filter: str = "vec_id = 0",
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
) -> str:
    dot_q = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="q.embedding")
    dot_s = ORACLE_DOT.format(a="p.embedding", b="s.embedding")
    np_ = ORACLE_NORM.format(a="p.embedding")
    ns = ORACLE_NORM.format(a="s.embedding")
    ctes = [
        f"q AS (SELECT vec_id, embedding FROM {table} WHERE {query_filter})",
        f"""pool AS MATERIALIZED (
      SELECT c.vec_id, c.embedding, round(CAST({dot_q} / ({nc} * {nq}) AS DOUBLE), 6) AS rel
      FROM {table} c, q WHERE c.vec_id <> q.vec_id
      ORDER BY rel DESC, c.vec_id LIMIT {pool}
    )""",
        f"""s1 AS MATERIALIZED (
      SELECT vec_id, embedding, rel, round({lam!r} * rel - {1.0 - lam!r} * 0.0, 6) AS score, 1 AS rnk
      FROM pool ORDER BY round({lam!r} * rel - {1.0 - lam!r} * 0.0, 6) DESC, vec_id LIMIT 1
    )""",
        "selu1 AS MATERIALIZED (SELECT vec_id, embedding FROM s1)",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"""sc{r} AS MATERIALIZED (
      SELECT p.vec_id, p.rel,
             max(round(CAST({dot_s} / ({np_} * {ns}) AS DOUBLE), 6)) AS ms
      FROM pool p, selu{r - 1} s
      WHERE p.vec_id NOT IN (SELECT vec_id FROM selu{r - 1})
      GROUP BY p.vec_id, p.rel
    )"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
      SELECT c.vec_id, p2.embedding, c.rel, round({lam!r} * c.rel - {1.0 - lam!r} * c.ms, 6) AS score, {r} AS rnk
      FROM sc{r} c JOIN pool p2 ON p2.vec_id = c.vec_id
      ORDER BY round({lam!r} * c.rel - {1.0 - lam!r} * c.ms, 6) DESC, c.vec_id LIMIT 1
    )"""
        )
        ctes.append(
            f"selu{r} AS MATERIALIZED (SELECT vec_id, embedding FROM selu{r - 1} "
            f"UNION ALL SELECT vec_id, embedding FROM s{r})"
        )
    union = "\n      UNION ALL ".join(
        f"SELECT rnk, vec_id, rel, score FROM s{r}" for r in range(1, k + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(rnk AS INT) AS rnk, CAST(vec_id AS BIGINT) AS vec_id,
           rel AS relevance, score AS mmr_score
    FROM ({union})
    """


def rrf_fusion(
    emb: DataFrame,
    query_filter: str = "vec_id = 0",
    k: int = 20,
    kconst: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion of two retrieval rankings for the same
    query — cosine top-k and squared-L2 top-k — the standard no-tuning
    hybrid-search combiner: RRF(d) = Σ_r 1/(kconst + rank_r(d)).

    Each 1/(kconst+rank) is one IEEE division of exact integers (bit-
    identical in any engine), summed over exactly two lists in fixed
    order. Both rankings come from the same broadcast-query brute-force
    pass; the fusion is a tiny full-outer join on the ≤2k shortlisted
    ids. Output: (vec_id, rank_cos, rank_l2, rrf).
    """
    scored = _all_pairs(_corpus(emb), _queries(emb.filter(query_filter))).select(
        "vec_id",
        F.expr(COS).alias("cos"),
        F.expr(L2.format(a="vec", b="q_vec")).alias("d2"),
    )
    w_cos = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    w_l2 = Window.orderBy(F.asc("d2"), F.asc("vec_id"))
    ranked = scored.select(
        "vec_id",
        F.row_number().over(w_cos).cast("bigint").alias("rank_cos"),
        F.row_number().over(w_l2).cast("bigint").alias("rank_l2"),
    )
    top = ranked.filter((F.col("rank_cos") <= k) | (F.col("rank_l2") <= k))
    return top.select(
        "vec_id",
        F.when(F.col("rank_cos") <= k, F.col("rank_cos")).alias("rank_cos"),
        F.when(F.col("rank_l2") <= k, F.col("rank_l2")).alias("rank_l2"),
        F.round(
            F.coalesce(
                F.when(
                    F.col("rank_cos") <= k,
                    F.lit(1.0) / (F.lit(kconst) + F.col("rank_cos")).cast("double"),
                ),
                F.lit(0.0),
            )
            + F.coalesce(
                F.when(
                    F.col("rank_l2") <= k,
                    F.lit(1.0) / (F.lit(kconst) + F.col("rank_l2")).cast("double"),
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("rrf"),
    )


def oracle_rrf_fusion(
    table: str, query_filter: str = "vec_id = 0", k: int = 20, kconst: int = 60
) -> str:
    dot = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="q.embedding")
    l2 = ORACLE_L2.format(a="c.embedding", b="q.embedding")
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM {table} WHERE {query_filter}),
    scored AS (
      SELECT c.vec_id,
             CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos,
             CAST({l2} AS DOUBLE) AS d2
      FROM {table} c, q WHERE c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank_cos,
             CAST(row_number() OVER (ORDER BY d2, vec_id) AS BIGINT) AS rank_l2
      FROM scored
    )
    SELECT vec_id,
           CASE WHEN rank_cos <= {k} THEN rank_cos END AS rank_cos,
           CASE WHEN rank_l2 <= {k} THEN rank_l2 END AS rank_l2,
           round(coalesce(CASE WHEN rank_cos <= {k}
                   THEN 1.0 / CAST({kconst} + rank_cos AS DOUBLE) END, 0.0)
                 + coalesce(CASE WHEN rank_l2 <= {k}
                   THEN 1.0 / CAST({kconst} + rank_l2 AS DOUBLE) END, 0.0), 9) AS rrf
    FROM ranked
    WHERE rank_cos <= {k} OR rank_l2 <= {k}
    """


def label_centroid_drift(
    emb: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Per-slice embedding drift: cosine between each label's centroid
    and the global centroid — the slice-skew detector (a label whose
    centroid points away from the corpus is a distribution shift or a
    labeling bug). Cosine is scale-invariant, so it runs directly on the
    component SUM vectors, never materializing means.

    Determinism: components quantize to exact BIGINTs (×1e9) at the
    scan, per-(label, dim) sums are exact, and the dot/norm accumulations
    run as exact DECIMAL(38,0) over dim-frame rows — the final cosine is
    one fixed double chain. The dim frame is labels × dims (metadata
    scale). Output: (label, n_vecs, cos_to_global).
    """
    comp = emb.select(
        F.col(label_col).alias("lbl"), F.posexplode("embedding").alias("pos", "x")
    ).select("lbl", "pos", F.expr("cast(round(x * 1e9) as bigint)").alias("xq"))
    per_label = comp.groupBy("lbl", "pos").agg(F.sum("xq").cast("bigint").alias("sv"))
    global_ = per_label.groupBy("pos").agg(F.sum("sv").cast("bigint").alias("gv"))
    nvec = emb.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    j = per_label.join(global_, "pos")
    dots = j.groupBy("lbl").agg(
        F.sum(F.col("sv").cast("decimal(38,0)") * F.col("gv")).alias("dot"),
        F.sum(F.col("sv").cast("decimal(38,0)") * F.col("sv")).alias("na"),
    )
    nb = global_.agg(
        F.sum(F.col("gv").cast("decimal(38,0)") * F.col("gv")).alias("nb")
    )
    return (
        dots.join(F.broadcast(nb), how="cross")
        .join(nvec, "lbl")
        .select(
            F.col("lbl").alias(label_col),
            "n_vecs",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
                6,
            ).alias("cos_to_global"),
        )
    )


def oracle_label_centroid_drift(table: str, label_col: str = "label") -> str:
    return f"""
    WITH comp AS (
      SELECT {label_col} AS lbl, vec_id AS id, u.pos,
             CAST(round(embedding[u.pos] * 1e9) AS BIGINT) AS xq
      FROM {table}, UNNEST(range(1, len(embedding) + 1)) u(pos)
    ),
    per_label AS (
      SELECT lbl, pos, CAST(sum(xq) AS BIGINT) AS sv FROM comp GROUP BY 1, 2
    ),
    gtot AS (SELECT pos, CAST(sum(sv) AS BIGINT) AS gv FROM per_label GROUP BY pos),
    nvec AS (SELECT {label_col} AS lbl, CAST(count(*) AS BIGINT) AS n_vecs
             FROM {table} GROUP BY 1),
    dots AS (
      SELECT p.lbl,
             sum(CAST(p.sv AS DECIMAL(38,0)) * g.gv) AS dot,
             sum(CAST(p.sv AS DECIMAL(38,0)) * p.sv) AS na
      FROM per_label p JOIN gtot g ON p.pos = g.pos GROUP BY p.lbl
    ),
    nb AS (SELECT sum(CAST(gv AS DECIMAL(38,0)) * gv) AS nb FROM gtot)
    SELECT d.lbl AS {label_col}, v.n_vecs,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(d.na AS DOUBLE)) * sqrt(CAST(nb.nb AS DOUBLE))), 6)
             AS cos_to_global
    FROM dots d JOIN nvec v ON d.lbl = v.lbl, nb
    """


def kcenter_select(
    emb: DataFrame,
    k: int = 5,
    pool: int = 50,
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection: start
    from the deterministic anchor (lowest id in the pool), then each
    round add the point whose distance to the CLOSEST already-selected
    center is largest — the classic 2-approximation cover, used to pick
    maximally-spread eval/calibration sets from an embedding corpus.

    Same scale scaffold as :func:`mmr_topk`: a deterministic ``pool``-row
    shortlist (lowest ids — the fixture convention, keeps the oracle
    exact) pinned with localCheckpoint; each round one broadcast 1-row
    selected-set array crossJoin and a JVM array_min over higher-order
    squared-L2 distances, rounded to 6dp before every argmax (ties break
    by vec_id). Output: (rnk, vec_id, min_dist_to_prior).
    """
    shortlist = (
        emb.select(_vec_id(), F.col("embedding").alias("vec"))
        .orderBy(F.asc("vec_id"))
        .limit(pool)
        .localCheckpoint()
    )
    d2 = L2.format(a="vec", b="s_.vec")
    md_expr = f"array_min(transform(sels, s_ -> round({d2}, 6)))"
    first = (
        shortlist.orderBy(F.asc("vec_id"))
        .limit(1)
        .select(
            "vec_id",
            "vec",
            F.lit(None).cast("double").alias("md"),
            F.lit(1).cast("int").alias("rnk"),
        )
    )
    winners = [first]
    sel = first.select("vec_id", "vec")
    for r in range(2, k + 1):
        sel_arr = sel.agg(
            F.collect_list(F.struct(F.col("vec_id").alias("sid"), F.col("vec"))).alias("sels")
        )
        win = (
            shortlist.join(sel.select("vec_id"), "vec_id", "left_anti")
            .crossJoin(F.broadcast(sel_arr))
            .withColumn("md", F.expr(md_expr))
            .drop("sels")
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "vec", "md", F.lit(r).cast("int").alias("rnk"))
        )
        winners.append(win)
        sel = sel.unionByName(win.select("vec_id", "vec"))
    out = winners[0]
    for w_df in winners[1:]:
        out = out.unionByName(w_df)
    return out.select(
        "rnk",
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("md").alias("min_dist_to_prior"),
    )


def oracle_kcenter_select(table: str, k: int = 5, pool: int = 50) -> str:
    d2 = ORACLE_L2.format(a="p.embedding", b="s.embedding")
    ctes = [
        f"""pool AS MATERIALIZED (
      SELECT vec_id, embedding FROM {table} ORDER BY vec_id LIMIT {pool}
    )""",
        """s1 AS MATERIALIZED (
      SELECT vec_id, embedding, CAST(NULL AS DOUBLE) AS md, 1 AS rnk
      FROM pool ORDER BY vec_id LIMIT 1
    )""",
        "selu1 AS MATERIALIZED (SELECT vec_id, embedding FROM s1)",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"""sc{r} AS MATERIALIZED (
      SELECT p.vec_id, min(round(CAST({d2} AS DOUBLE), 6)) AS md
      FROM pool p, selu{r - 1} s
      WHERE p.vec_id NOT IN (SELECT vec_id FROM selu{r - 1})
      GROUP BY p.vec_id
    )"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
      SELECT c.vec_id, p2.embedding, c.md, {r} AS rnk
      FROM sc{r} c JOIN pool p2 ON p2.vec_id = c.vec_id
      ORDER BY c.md DESC, c.vec_id LIMIT 1
    )"""
        )
        ctes.append(
            f"selu{r} AS MATERIALIZED (SELECT vec_id, embedding FROM selu{r - 1} "
            f"UNION ALL SELECT vec_id, embedding FROM s{r})"
        )
    union = "\n      UNION ALL ".join(
        f"SELECT rnk, vec_id, md FROM s{r}" for r in range(1, k + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(rnk AS INT) AS rnk, CAST(vec_id AS BIGINT) AS vec_id,
           md AS min_dist_to_prior
    FROM ({union})
    """


def threshold_join(
    emb: DataFrame,
    threshold: float = 0.3,
    bucket_dims: int | None = None,
) -> DataFrame:
    """Similarity RANGE self-join: every pair with cosine >= threshold
    whose sign buckets are within Hamming distance 1 — the range-join
    sibling of :func:`knn_join` (top-k answers "nearest few"; range
    answers "everything this similar", what near-dup mining and
    contrastive-pair construction actually consume).

    Same scale shape as knn_join: one side probes its bucket plus every
    1-bit flip, the other keeps its single bucket, so the join is a plain
    equi-join costing (dims+1) * Σ bucket² — never the |V|² all-pairs.
    ``bucket_dims`` defaults to the size-derived knob
    (:func:`derive_bucket_dims`: dims = ceil(log2(ceil(N/40)))) so the
    per-bucket row count — and with it the pair bill per row — stays
    constant as the corpus grows; with dims pinned at 6 the query took
    ×15.7 the time at ×5 data (sf0.1 → sf0.5), against ×4.9 at dims 8. A
    pair meets at exactly ONE probe (the
    candidate side has one bucket), and the q_id < vec_id filter keeps
    each unordered pair once, so no dedup stage. The cosine filter runs on bit-identical
    doubles (fixed-order fold, both engines), so >= is portable — the
    [[dd_semdedup]] discipline. The Hamming-1 recall is the measured
    operating point, not an assertion: [[sim_kmeans_recall_curve]]
    quantifies it for this quantizer family.

    Output: (id_a, id_b, cos) with id_a < id_b.
    """
    if bucket_dims is None:
        bucket_dims = derive_bucket_dims(emb.count())
    return _bucket_range_join(emb, threshold, bucket_dims, flips=True)


def oracle_threshold_join(
    table: str, threshold: float = 0.3, bucket_dims: int | None = None
) -> str:
    pre, bucket, probe_src = _oracle_bucket_parts(table, bucket_dims)
    dot = ORACLE_DOT.format(a="c.embedding", b="p.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="p.embedding")
    return f"""
    WITH {pre}q AS MATERIALIZED (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket FROM {table}
    ), p AS (
      SELECT vec_id, embedding,
             CASE WHEN i = 0 THEN bucket
                  ELSE substr(bucket, 1, i - 1)
                       || (CASE WHEN substr(bucket, i, 1) = '+' THEN '-' ELSE '+' END)
                       || substr(bucket, i + 1)
             END AS bucket
      FROM {probe_src}
    )
    SELECT CAST(p.vec_id AS BIGINT) AS id_a, CAST(c.vec_id AS BIGINT) AS id_b,
           CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos
    FROM q c JOIN p ON c.bucket = p.bucket AND p.vec_id < c.vec_id
    WHERE CAST({dot} / ({nc} * {nq}) AS DOUBLE) >= CAST({threshold!r} AS DOUBLE)
    """


# ---------------------------------------------------------------------------
# Cross-encoder-style rerank (retrieve -> score candidate pairs with a
# LEARNED scorer -> select). Completes the retrieval family: rrf/mmr/pq
# rerank with FIXED combination rules; this trains the combiner in-engine.
# The production pattern is distillation — cheap retriever features fitted
# to an expensive target ranking (here: exact L2 order), then the linear
# scorer reranks the shortlist at serving time. Training reuses the
# scaled-integer GD of textops.train_linear_weights (bit-identical weight
# trajectory on both engines); no reference analogue (north-star addition,
# like the rest of this module).
# ---------------------------------------------------------------------------

_RERANK_LEAD_DIMS = 8  # truncated-dim dot: the matryoshka cheap feature


def rerank_linear(
    emb: DataFrame,
    query_filter: str = "vec_id % 50 = 0",
    pool: int = 20,
    k: int = 5,
    n_iter: int = 6,
    label_top: int = 5,
) -> DataFrame:
    """Retrieve -> learned rerank -> select.

    Stage 1 (retrieve): exact cosine top-``pool`` shortlist per query
    (broadcast queries, the [[sim_topk_cosine]] shape — at 100 TB swap in
    the bucketed/IVF retriever; the rerank stages are retriever-agnostic).

    Stage 2 (features + label): per candidate pair, three cheap features a
    first-stage retriever has anyway — x1 = full cosine, x2 = norm contrast
    |n_c - n_q| / (n_c + n_q), x3 = truncated cosine over the leading 8
    dims — and the distillation label y = 1 iff the candidate is in the
    query's exact-L2 top-``label_top`` within the pool (L2 and cosine
    order DIFFER where norms vary, so the scorer has something real to
    learn: fold norm contrast into the cosine ranking).

    Stage 3 (train): full-batch GD via textops.train_linear_weights — per
    iteration one scan of the |Q|*pool pair frame + a 4-cell
    scaled-integer aggregate; the weight trajectory is bit-identical to
    the oracle replay (oracle_gd_chain_sql). At 100 TB the pair frame is
    |queries|*pool rows — training data, not corpus, scale.

    Stage 4 (select): score every shortlist pair with the learned logit,
    round to 6dp (rank-portable, the [[sim_mmr]] discipline), keep the
    top-``k`` per query.

    Output: (q_id, vec_id, cos, score, rnk) — k rows per query.
    """
    pairs = _all_pairs(_corpus(emb), _queries(emb.filter(query_filter)))
    cand = _topk(
        pairs.withColumn("cos", F.expr(COS)), pool, F.desc("cos"), F.asc("vec_id"), rnk="crnk"
    )
    lead_dot = DOT.format(
        a=f"slice(vec, 1, {_RERANK_LEAD_DIMS})",
        b=f"slice(q_vec, 1, {_RERANK_LEAD_DIMS})",
    )
    lead_na = NORM.format(a=f"slice(vec, 1, {_RERANK_LEAD_DIMS})")
    lead_nb = NORM.format(a=f"slice(q_vec, 1, {_RERANK_LEAD_DIMS})")
    d2 = L2.format(a="vec", b="q_vec")
    feats = (
        cand.withColumn("_d2", F.round(F.expr(f"cast({d2} as double)"), 6))
        .withColumn(
            "y",
            F.when(_rank(F.asc("_d2"), F.asc("vec_id")) <= label_top, F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn("x1", F.col("cos"))
        .withColumn(
            "x2",
            F.expr("cast(abs(c_nrm - q_nrm) / (c_nrm + q_nrm) as double)"),
        )
        .withColumn(
            "x3",
            F.expr(f"cast({lead_dot} / ({lead_na} * {lead_nb}) as double)"),
        )
        .select("q_id", "vec_id", "cos", "y", "x1", "x2", "x3")
    )
    from .textops import lr_z_expr, train_linear_weights

    w, _ = train_linear_weights(feats, n_iter)
    scored = feats.withColumn("score", F.round(F.expr(lr_z_expr(w)), 6))
    return _nearest(scored, k, F.desc("score"), "cos", "score")


def oracle_rerank_linear(
    table: str,
    query_filter: str = "vec_id % 50 = 0",
    pool: int = 20,
    k: int = 5,
    n_iter: int = 6,
    label_top: int = 5,
) -> str:
    from .textops import oracle_gd_chain_sql

    dot = ORACLE_DOT.format(a="c.embedding", b="q.embedding")
    nc = ORACLE_NORM.format(a="c.embedding")
    nq = ORACLE_NORM.format(a="q.embedding")
    lead = _RERANK_LEAD_DIMS
    lead_dot = ORACLE_DOT.format(
        a=f"c.embedding[1:{lead}]", b=f"q.embedding[1:{lead}]"
    )
    lead_nc = ORACLE_NORM.format(a=f"c.embedding[1:{lead}]")
    lead_nq = ORACLE_NORM.format(a=f"q.embedding[1:{lead}]")
    d2 = ORACLE_L2.format(a="c.embedding", b="q.embedding")
    z = "(w.b + w.a1 * f.x1 + w.a2 * f.x2 + w.a3 * f.x3)"
    return f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, embedding FROM {table} WHERE {query_filter}
    ),
    cand AS MATERIALIZED (
      SELECT * FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               CAST({dot} / ({nc} * {nq}) AS DOUBLE) AS cos,
               round(CAST({d2} AS DOUBLE), 6) AS _d2,
               CAST(abs({nc} - {nq}) / ({nc} + {nq}) AS DOUBLE) AS x2,
               CAST({lead_dot} / ({lead_nc} * {lead_nq}) AS DOUBLE) AS x3
        FROM {table} c CROSS JOIN qv q
        WHERE c.vec_id <> q.vec_id
        QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                   ORDER BY cos DESC, c.vec_id) <= {pool}
      )
    ),
    feats AS MATERIALIZED (
      SELECT q_id, vec_id, cos,
             CASE WHEN row_number() OVER (PARTITION BY q_id
                                          ORDER BY _d2, vec_id) <= {label_top}
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
             cos AS x1, x2, x3
      FROM cand
    ){oracle_gd_chain_sql(n_iter)}
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
           cos, score,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
    FROM (
      SELECT f.q_id, f.vec_id, f.cos, round({z}, 6) AS score
      FROM feats f CROSS JOIN it{n_iter} w
    ) QUALIFY rnk <= {k}
    """
