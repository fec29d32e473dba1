"""Iterative graph analytics over DataFrames (beyond-reference addition,
complementing dedup.connected_components).

Edge contract: every operator here takes its graph as a DataFrame with
columns ``src`` and ``dst`` (one row per directed edge; ``sssp`` also
reads an integer weight column ``w``). Callers rename their columns into
that shape before the call; other columns are ignored.

PageRank with a fixed iteration count: per iteration, every node ships
rank/out_degree along its out-edges and the destination sums arrivals —
two keyed shuffles per round, the textbook distributed shape. The rounds
are chained with persist() in a private session and materialized once
(see _rounds_session), so the caller's session conf is never touched.

A fixed iteration count (rather than convergence detection) keeps the
result deterministic and lets an external engine replay the exact same
computation as unrolled CTEs — which is how the oracle checks it.
"""

from __future__ import annotations

from pyspark import RDD
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import of_rows


def _rounds_session(e: DataFrame) -> SparkSession:
    """Private session for compiling a FIXED-round iterative chain into one
    job.

    The caller chains rounds with ``persist()`` (cache substitution keeps
    the logical plan linear in rounds even when a round references its
    predecessor several times) and materializes the final frame once —
    instead of an eager ``localCheckpoint`` per round, which under AQE
    runs every stage driver-synchronously and re-computes non-materialized
    subtrees at runtime broadcast conversions.

    AQE is off here because a persisted frame pins its pre-AQE shuffle
    layout (the r11 experiment measured persist-chained rounds 2.2x WORSE
    under a 200-partition plain session for exactly that reason). The
    fixed partition count is DERIVED, not constant: ``e`` is an eagerly
    localCheckpoint-ed input whose layout AQE already coalesced by byte
    size, so its partition count scales with the data (1-2 locally at
    sf0.1, thousands at 100 TB) and reading it runs no job — the same
    size-adaptive discipline as the registry's derive_k/derive_bucket_dims
    knobs.

    Both settings go on a clone of ``e``'s session, never on the caller's,
    so queries sharing that session keep their conf while the rounds run.
    ``cloneSession`` (unlike ``newSession``) keeps conf set at runtime,
    such as the ``RESULT_CONF`` pins ``__spark_entry__`` applies to a
    foreign session; the clone shares the SparkContext and the cache.
    """
    parent = e.sparkSession
    to_df = RDD.toDF  # the SparkSession constructor re-points rdd.toDF() at itself
    clone = SparkSession(parent.sparkContext, parent._jsparkSession.cloneSession())
    RDD.toDF = to_df
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone.conf.set("spark.sql.shuffle.partitions", str(max(1, e.rdd.getNumPartitions())))
    return clone


def _rebind(session: SparkSession, df: DataFrame) -> DataFrame:
    # No public API moves a frame between sessions: re-wrap its analyzed
    # plan in a frame of ``session`` so it plans under that conf.
    return of_rows(session, df._jdf.queryExecution().analyzed())


def pagerank(
    edges: DataFrame, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Ranks after ``iterations`` synchronous PageRank rounds.

    ``edges`` is a directed edge list; every node must have at least one
    out-edge (undirect the graph first if it may have sinks — dangling-mass
    redistribution is deliberately out of scope to keep the computation
    engine-replayable). Classic PageRank is :func:`personalized_pagerank`
    with every node a seed: start mass 1/n and teleport (1-d)/n are the
    same doubles. Output: (node, rank_pr).
    """
    return personalized_pagerank(edges, "true", iterations, damping).withColumnRenamed(
        "rank_ppr", "rank_pr"
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """Each edge of a directed edge list once as (a, b) with a < b
    (self-loops dropped, either or both directions accepted): the
    undirected view :func:`triangle_count`, :func:`clustering_coefficients`
    and :func:`assortativity` share."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(v, deg) over the undirected edges of :func:`_undirected`."""
    return (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of ``und`` exactly once, as (x, y, pivot).

    Classic two-join shape with *degree orientation* (Cohen's MapReduce
    algorithm / Suri-Vassilvitskii): canonicalize each edge to point from
    the lower-(degree, id) endpoint to the higher, so every wedge is
    enumerated exactly once at its lowest-degree vertex. This caps per-key
    wedge fan-out at O(sqrt(|E|)) even on power-law graphs — the skew
    guard that makes the self-join survive at scale; orienting by id alone
    would square the hub degree. The oriented frame feeds both wedge sides
    and the closing-edge probe, so a checkpoint stops each reference from
    re-deriving it. ``eager=False`` does not make it lazy under AQE: the
    call runs the frame's shuffle stages and pins a persistent RDD at once.
    """
    # Orient a->b iff (deg(a), a) < (deg(b), b); total order, so exactly one
    # direction per edge survives.
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
        .localCheckpoint(eager=False)
    )
    w1 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("y"))
    wedges = w1.join(w2, "pivot").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("lo", "hi").alias("x"), F.greatest("lo", "hi").alias("y")
    )
    return wedges.join(closing, ["x", "y"])


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected graph, given as a directed
    edge list (both directions or either; self-loops dropped), by the
    degree-oriented wedge enumeration of :func:`_triangles`. Output: one
    row (n_nodes, n_edges, n_triangles).
    """
    und = _undirected(edges)
    deg = _degrees(und)
    n_tri = _triangles(und, deg).agg(F.count("*").cast("bigint").alias("n_triangles"))
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n_edges = und.agg(F.count("*").cast("bigint").alias("n_edges"))
    # Three single-row aggregates; the cross joins are broadcast nested
    # loops over one row each, never a real cartesian.
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


def oracle_triangle_count(edges_sql: str) -> str:
    """Oracle: same canonicalized edge set, plain closed-wedge count
    (orientation is a physical optimization — the triangle set is
    identical, so the oracle counts each triangle once via a<b<c)."""
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)),
    tri AS MATERIALIZED (
      SELECT count(*) AS n_triangles
      FROM und e1 JOIN und e2 ON e2.a = e1.b
                  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """


def oracle_pagerank(
    edges_sql: str, iterations: int = 3, damping: float = 0.85
) -> str:
    """Unrolled-CTE replay of the identical fixed-iteration computation."""
    # Constants mirror the engine's PYTHON-evaluated doubles bit-for-bit:
    # 1.0 - 0.85 in IEEE double is 0.15000000000000002, not decimal 0.15 —
    # inject the repr so DuckDB casts to the identical double. Contribution
    # sums accumulate as scaled bigints (x1e15), matching pagerank()'s plan.
    base_num = repr(1.0 - damping)
    sql = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
    n_cte AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank_pr FROM nodes CROSS JOIN n_cte)"""
    for i in range(iterations):
        sql += f""",
    c{i} AS MATERIALIZED (
      SELECT e.dst,
             sum(CAST(round(r.rank_pr / o.outdeg * 1e15) AS BIGINT)) AS in_sum
      FROM e JOIN r{i} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT nodes.node,
             CAST({base_num} AS DOUBLE) / n
             + CAST({damping!r} AS DOUBLE)
               * coalesce(CAST(c{i}.in_sum AS DOUBLE) / 1e15, 0.0) AS rank_pr
      FROM nodes CROSS JOIN n_cte LEFT JOIN c{i} ON nodes.node = c{i}.dst
    )"""
    sql += f"""
    SELECT node, CAST(rank_pr AS DOUBLE) AS rank_pr FROM r{iterations}
    """
    return sql


def kcore(edges: DataFrame, k: int = 2, rounds: int = 5) -> DataFrame:
    """Degrees of the subgraph left after ``rounds`` synchronous k-core
    peeling steps: each step drops every vertex whose current degree is
    below ``k`` (and its incident edges), simultaneously.

    Like :func:`pagerank`, the iteration count is FIXED rather than
    convergence-detected so the computation is engine-replayable — the
    oracle unrolls the same rounds as a CTE chain. (True k-core is the
    fixpoint; callers wanting it raise ``rounds`` until the output stops
    changing — each extra round is idempotent once converged.)

    Per round: one degree aggregation plus two semi-join filters, all
    equi-keyed on vertex ids — the textbook distributed peeling shape.
    localCheckpoint truncates lineage per round; superseded rounds'
    blocks are reclaimed by the ContextCleaner when the reference drops.
    Output: (node, deg) over the surviving subgraph.
    """
    alive = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        alive = (
            alive.join(keep, "src", "semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "semi")
            .localCheckpoint()
        )
    return alive.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )


def oracle_kcore(edges_sql: str, k: int = 2, rounds: int = 5) -> str:
    """Unrolled-CTE replay of the identical fixed-round peeling."""
    sql = f"""
    WITH a0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst
    )"""
    for i in range(rounds):
        sql += f""",
    k{i} AS MATERIALIZED (SELECT src FROM a{i} GROUP BY src HAVING count(*) >= {k}),
    a{i + 1} AS MATERIALIZED (
      SELECT a.src, a.dst FROM a{i} a
      JOIN k{i} s ON a.src = s.src
      JOIN k{i} d ON a.dst = d.src
    )"""
    sql += f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
    FROM a{rounds} GROUP BY src
    """
    return sql


def _relax(dist: DataFrame, e: DataFrame, on: Column, key: str, arrival: Column) -> DataFrame:
    """One synchronous min-fold round over ``dist`` (node, ``key``).

    ``dist`` is left-joined to the edges ``e`` (src, dst, ...) on ``on``
    and each joined row yields its kept (node, ``key``) plus, where an edge
    matched, its candidate (dst, ``arrival``); the min per node wins. The
    round reads ``dist`` once, so the plan of a fixed-round chain grows
    linearly in rounds and needs no checkpoint.
    """
    kept = F.struct(F.col("node"), F.col(key))
    cand = F.when(
        F.col("src").isNotNull(), F.struct(F.col("dst").alias("node"), arrival.alias(key))
    )
    return (
        dist.join(e, on, "left")
        .select(F.explode(F.array(kept, cand)).alias("r"))
        .filter(F.col("r").isNotNull())
        .groupBy("r.node")
        .agg(F.min(f"r.{key}").alias(key))
    )


def bfs_hops(edges: DataFrame, source: str, max_hops: int = 4) -> DataFrame:
    """Breadth-first hop distances from ``source``, fixed ``max_hops``
    synchronous rounds (engine-replayable like pagerank — no data-dependent
    convergence test).

    Round k joins the nodes at hop k to their out-edges and min-folds the
    arrivals at hop k + 1 (:func:`_relax`): equi-keyed shuffles on the node
    id, never a cartesian. At 100 TB the round count bounds the work
    (frontier-delta form would skip settled nodes; at diameter <= max_hops
    they are equivalent).
    """
    e = edges.select("src", "dst").distinct()
    dist = e.sparkSession.createDataFrame([(source, 0)], "node string, hop int")
    for k in range(max_hops):
        on = (F.col("node") == F.col("src")) & (F.col("hop") == k)
        dist = _relax(dist, e, on, "hop", F.lit(k + 1))
    return dist.select("node", F.col("hop").cast("bigint").alias("hop"))


def oracle_bfs_hops(edges_sql: str, source: str, max_hops: int = 4) -> str:
    """Unrolled min-hop CTE chain (same shape as the pagerank oracle —
    a recursive CTE would enumerate paths on cyclic graphs)."""
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        f"d0 AS MATERIALIZED (SELECT '{source}' AS node, 0 AS hop)",
    ]
    for k in range(max_hops):
        parts.append(
            f", f{k} AS MATERIALIZED (SELECT e.dst AS node, {k + 1} AS hop"
            f" FROM e JOIN d{k} ON e.src = d{k}.node WHERE d{k}.hop = {k})"
        )
        parts.append(
            f", d{k + 1} AS MATERIALIZED (SELECT node, min(hop) AS hop FROM"
            f" (SELECT * FROM d{k} UNION ALL SELECT * FROM f{k}) GROUP BY node)"
        )
    parts.append(
        f"SELECT node, CAST(hop AS BIGINT) AS hop FROM d{max_hops}"
    )
    return "\n".join(parts)


def sssp(edges: DataFrame, source: str, rounds: int = 4) -> DataFrame:
    """Single-source shortest paths, ``rounds`` synchronous Bellman-Ford
    relaxations over a weighted edge list (weights kept as BIGINT so every
    min-fold is exact — no float tie ambiguity anywhere).

    Parallel edges collapse to their min weight first. Each round joins the
    full distance table against the edges (equi-keyed on the node id) and
    min-folds arrivals; ``rounds`` bounds reachable hop depth exactly like
    bfs_hops. At 100 TB the delta-frontier refinement (relax only nodes
    whose distance improved last round) drops per-round work on settled
    nodes; the fixed-round full relaxation here is the engine-replayable
    form the oracle can unroll.

    Output: (node, dist) for nodes reachable within ``rounds`` hops.
    """
    e = (
        edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    dist = e.sparkSession.createDataFrame([(source, 0)], "node string, dist bigint")
    on = F.col("node") == F.col("src")
    for _ in range(rounds):
        dist = _relax(dist, e, on, "dist", F.col("dist") + F.col("w"))
    return dist.select("node", F.col("dist").cast("bigint").alias("dist"))


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.),
    made deterministic: every node starts labeled with its own id; each
    round it adopts the MOST FREQUENT label among its neighbors, ties
    broken by the smallest label; ``rounds`` fixed synchronous updates (the
    engine-replayable form — classic async LPA is order-dependent).

    Each round is one equi-join (edge list against current labels) and one
    (node, label) count + per-node top-1 — all keyed shuffles, never
    all-pairs; per-node fan-in is its degree. Returns (node, label).
    """
    e = edges.select("src", "dst").distinct()
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(rounds):
        votes = (
            e.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
        winners = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(winners, "node", "left")
            .select(
                "node", F.coalesce("new_label", "label").alias("label")
            )
        )
    return labels.select("node", "label")


def oracle_label_propagation(edges_sql: str, rounds: int = 3) -> str:
    """Unrolled synchronous-LPA CTE chain; final result is (node, label).

    CTE names carry an lp_ prefix: this chain is embedded whole inside
    oracle_modularity's labels subquery, and MATERIALIZED CTE aliases
    must be unique across the enclosing query (DuckDB binder)."""
    parts = [
        f"WITH lp_e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        "lp_l0 AS MATERIALIZED (SELECT node, node AS label FROM"
        " (SELECT DISTINCT src AS node FROM lp_e))",
    ]
    for r in range(rounds):
        parts.append(f""",
    lp_v{r} AS MATERIALIZED (
      SELECT e.src AS node, l.label, count(*) AS cnt
      FROM lp_e e JOIN lp_l{r} l ON l.node = e.dst GROUP BY e.src, l.label
    ),
    lp_w{r} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM lp_v{r}
      ) WHERE rn = 1
    ),
    lp_l{r + 1} AS MATERIALIZED (
      SELECT p.node, coalesce(w.label, p.label) AS label
      FROM lp_l{r} p LEFT JOIN lp_w{r} w USING (node)
    )""")
    parts.append(f"SELECT node, label FROM lp_l{rounds}")
    return "\n".join(parts)


def oracle_sssp(edges_sql: str, source: str, rounds: int = 4) -> str:
    """Unrolled Bellman-Ford CTE chain; ``edges_sql`` must yield
    (src, dst, w)."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT src, dst, min(CAST(w AS BIGINT)) AS w"
        f" FROM ({edges_sql}) GROUP BY src, dst),",
        f"d0 AS MATERIALIZED (SELECT '{source}' AS node, CAST(0 AS BIGINT) AS dist)",
    ]
    for k in range(rounds):
        parts.append(
            f", r{k} AS MATERIALIZED (SELECT e.dst AS node, d{k}.dist + e.w AS dist"
            f" FROM e JOIN d{k} ON e.src = d{k}.node)"
        )
        parts.append(
            f", d{k + 1} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM"
            f" (SELECT * FROM d{k} UNION ALL SELECT * FROM r{k}) GROUP BY node)"
        )
    parts.append(f"SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}")
    return "\n".join(parts)


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity contributions over a directed
    doubled edge list (every undirected edge present in both directions —
    the convention all grf_* queries use): with m = |directed edges|,
    ``Q_c = in_c/m − (deg_c/m)²`` where in_c counts edges with both ends
    labeled c and deg_c sums out-degrees of c's nodes. Σ_c Q_c is the
    standard partition-quality score — the evaluation step after
    :func:`label_propagation`.

    Three equi-joins (edges against the label table on each endpoint, the
    label table against itself never) + community-keyed counts; m rides a
    broadcast 1-row aggregate. Exact integers until the final spelled
    double ops, rounded to 6 dp. Output:
    (community, n_members, in_edges, deg_sum, q_contrib).
    """
    e = edges.select("src", "dst").distinct()
    m_row = e.agg(F.count("*").cast("bigint").alias("m"))
    lab = labels.select(F.col("node"), F.col("label"))
    within = (
        e.join(lab.select(F.col("node").alias("src"), F.col("label").alias("ls")), "src")
        .join(lab.select(F.col("node").alias("dst"), F.col("label").alias("ld")), "dst")
        .filter(F.col("ls") == F.col("ld"))
        .groupBy(F.col("ls").alias("community"))
        .agg(F.count("*").cast("bigint").alias("in_edges"))
    )
    deg = (
        e.groupBy("src")
        .agg(F.count("*").alias("d"))
        .join(lab.select(F.col("node").alias("src"), "label"), "src")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.sum("d").cast("bigint").alias("deg_sum"),
            F.count("*").cast("bigint").alias("n_members"),
        )
    )
    return (
        deg.join(within, "community", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "community",
            "n_members",
            F.coalesce("in_edges", F.lit(0)).cast("bigint").alias("in_edges"),
            "deg_sum",
            F.expr(
                "round(cast(coalesce(in_edges, 0) as double) / m"
                " - (cast(deg_sum as double) / m) * (cast(deg_sum as double) / m), 6)"
            ).alias("q_contrib"),
        )
    )


def oracle_modularity(edges_sql: str, labels_sql: str) -> str:
    """DuckDB mirror of :func:`modularity`; ``labels_sql`` yields
    (node, label) — e.g. the unrolled LPA chain."""
    return f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    lab AS MATERIALIZED (SELECT node, label FROM ({labels_sql})),
    m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    within AS MATERIALIZED (
      SELECT ls.label AS community, CAST(count(*) AS BIGINT) AS in_edges
      FROM e
      JOIN lab ls ON e.src = ls.node
      JOIN lab ld ON e.dst = ld.node
      WHERE ls.label = ld.label
      GROUP BY ls.label
    ),
    deg AS MATERIALIZED (
      SELECT l.label AS community,
             CAST(sum(d.d) AS BIGINT) AS deg_sum,
             CAST(count(*) AS BIGINT) AS n_members
      FROM (SELECT src, count(*) AS d FROM e GROUP BY src) d
      JOIN lab l ON d.src = l.node
      GROUP BY l.label
    )
    SELECT deg.community, deg.n_members,
           CAST(coalesce(w.in_edges, 0) AS BIGINT) AS in_edges,
           deg.deg_sum,
           round(CAST(coalesce(w.in_edges, 0) AS DOUBLE) / m.m
                 - (CAST(deg.deg_sum AS DOUBLE) / m.m)
                   * (CAST(deg.deg_sum AS DOUBLE) / m.m), 6) AS q_contrib
    FROM deg LEFT JOIN within w ON deg.community = w.community, m
    """


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities) after ``iterations``
    synchronous rounds over a directed edge list — the link-analysis
    sibling of :func:`pagerank`, natural on bipartite graphs where the
    two sides mean different things (supplier->part, user->item).

    Per round: authority(v) = sum of hub over in-edges, L1-normalized;
    then hub(u) = sum of authority over out-edges, L1-normalized. Two
    keyed shuffles per half-step, normalization via a broadcast 1-row
    total (never a global window). Same determinism recipe as
    :func:`pagerank`: contributions accumulate as scaled BIGINT
    (x1e15 — exact under any partial-sum grouping), the L1 total is an
    exact integer, and the normalizing division is one IEEE double op —
    bit-identical on any engine. The hub vector starts L1-normalized
    (1/n_src via a broadcast 1-row count), so every later vector has
    unit L1 mass and the scaled contribution total is bounded by
    max_degree * 1e15 — not edge_count * 1e15, which would overflow
    int64 beyond ~9k edges. Fixed iteration count keeps it
    engine-replayable (oracle = unrolled CTE chain). At extreme skew
    (max degree > ~9e3 * vector mass) drop the scale factor to 1e12
    to keep headroom under int64.

    Output: (node, side, score) with side in {'hub', 'auth'} — hub rows
    for source nodes, auth rows for destination nodes.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = e.select(F.col("src").alias("node")).distinct()
    n_row = nodes.agg(F.count("*").alias("__n"))
    hub = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", (F.lit(1.0) / F.col("__n").cast("double")).alias("h")
    )
    auth = None
    for _ in range(iterations):
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .select(
                "dst",
                F.round(F.col("h") * F.lit(1e15)).cast("bigint").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        a_tot = a_raw.agg(F.sum("s").alias("tot"))
        auth = (
            a_raw.crossJoin(F.broadcast(a_tot))
            .select(
                F.col("dst").alias("node"),
                (F.col("s").cast("double") / F.col("tot").cast("double")).alias("a"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .select(
                "src",
                F.round(F.col("a") * F.lit(1e15)).cast("bigint").alias("c"),
            )
            .groupBy("src")
            .agg(F.sum("c").alias("s"))
        )
        h_tot = h_raw.agg(F.sum("s").alias("tot"))
        hub = (
            h_raw.crossJoin(F.broadcast(h_tot))
            .select(
                F.col("src").alias("node"),
                (F.col("s").cast("double") / F.col("tot").cast("double")).alias("h"),
            )
            .localCheckpoint()
        )
    return hub.select(
        "node", F.lit("hub").alias("side"), F.col("h").cast("double").alias("score")
    ).union(
        auth.select(
            "node", F.lit("auth").alias("side"), F.col("a").cast("double").alias("score")
        )
    )


def oracle_hits(edges_sql: str, iterations: int = 2) -> str:
    """Unrolled-CTE replay of :func:`hits` — scaled-bigint contribution
    sums, exact-integer L1 totals, one double division per score."""
    sql = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    n0 AS MATERIALIZED (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM e),
    h0 AS MATERIALIZED (SELECT DISTINCT src AS node,
                  CAST(1.0 AS DOUBLE) / CAST(n0.n AS DOUBLE) AS h
           FROM e, n0)"""
    for i in range(iterations):
        sql += f""",
    ar{i} AS MATERIALIZED (
      SELECT e.dst, CAST(sum(CAST(round(h.h * 1e15) AS BIGINT)) AS BIGINT) AS s
      FROM e JOIN h{i} h ON e.src = h.node GROUP BY e.dst
    ),
    a{i} AS MATERIALIZED (
      SELECT dst AS node,
             CAST(s AS DOUBLE)
             / CAST((SELECT CAST(sum(s) AS BIGINT) FROM ar{i}) AS DOUBLE) AS a
      FROM ar{i}
    ),
    hr{i} AS MATERIALIZED (
      SELECT e.src, CAST(sum(CAST(round(a.a * 1e15) AS BIGINT)) AS BIGINT) AS s
      FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    ),
    h{i + 1} AS MATERIALIZED (
      SELECT src AS node,
             CAST(s AS DOUBLE)
             / CAST((SELECT CAST(sum(s) AS BIGINT) FROM hr{i}) AS DOUBLE) AS h
      FROM hr{i}
    )"""
    sql += f"""
    SELECT node, 'hub' AS side, CAST(h AS DOUBLE) AS score FROM h{iterations}
    UNION ALL
    SELECT node, 'auth' AS side, CAST(a AS DOUBLE) AS score FROM a{iterations - 1}
    """
    return sql


def personalized_pagerank(
    edges: DataFrame,
    seed_pred: str,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: random walk with restart into a SEED SET
    instead of the uniform vector — "importance as seen from these nodes",
    the standard recommendation / trust-propagation variant of
    :func:`pagerank` (Haveliwala, WWW 2002).

    ``seed_pred`` is a boolean SQL expression over the column ``node``
    (shared verbatim with the oracle). Init mass 1/|S| on seeds, 0
    elsewhere; each round redistributes damped mass along out-edges and
    teleports (1-d)/|S| back into the seeds only (every node a seed is
    classic :func:`pagerank`). Determinism recipe: scaled-bigint (x1e15)
    contribution sums, Python-evaluated double constants, fixed iteration count
    (oracle = unrolled CTE chain). |S| is one metadata-scale driver
    scalar. Output: (node, rank_ppr).
    """
    parent = edges.sparkSession
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("is_seed", F.expr(seed_pred))
        .localCheckpoint()
    )
    s = nodes.filter("is_seed").count()  # metadata-scale scalar, |seed set|
    if s == 0:
        raise ValueError("no seed node: the edge list is empty or seed_pred selects no node")
    base = (1.0 - damping) / s
    # Fixed-round chain compiled into ONE job (r12) in a private session —
    # see _rounds_session.
    session = _rounds_session(e)
    e, nodes = _rebind(session, e), _rebind(session, nodes)
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg")).persist()
    cached = [outdeg]
    try:
        ranks = nodes.select(
            "node",
            "is_seed",
            F.when(F.col("is_seed"), F.lit(1.0 / s))
            .otherwise(F.lit(0.0))
            .alias("rank_ppr"),
        )
        for _ in range(iterations):
            # Contributions accumulate as SCALED BIGINT (x1e15): round(c*1e15)
            # is the same IEEE double product and the same half-up rounding on
            # both engines (positive values), the integer sum is exact under
            # any partial-sum grouping, and per-dst mass <= 1 keeps the scaled
            # sum under 2^53 so the cast back to double is lossless. (A
            # decimal(38,24) cast is NOT portable: DuckDB scales through
            # double*10^24, which can't be correctly rounded past 2^53.)
            contribs = (
                e.join(ranks, e["src"] == ranks["node"])
                .join(outdeg, "src")
                .select(
                    "dst",
                    F.round((F.col("rank_ppr") / F.col("outdeg")) * F.lit(1e15))
                    .cast("bigint")
                    .alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("in_sum"))
            )
            ranks = (
                nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
                .select(
                    "node",
                    "is_seed",
                    (
                        F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0.0))
                        + damping
                        * F.coalesce(
                            F.col("in_sum").cast("double") / F.lit(1e15), F.lit(0.0)
                        )
                    )
                    .cast("double")
                    .alias("rank_ppr"),
                )
                .persist()
            )
            cached.append(ranks)
        # One eager materialization runs the whole chain; the persisted
        # intermediates are released even if it raises (checkpoint blocks
        # outlive the cache entries).
        final = ranks.localCheckpoint()
    finally:
        for c in cached:
            c.unpersist()
    return _rebind(parent, final).select("node", "rank_ppr")


def oracle_personalized_pagerank(
    edges_sql: str, seed_pred: str, iterations: int = 3, damping: float = 0.85
) -> str:
    """Unrolled-CTE replay of :func:`personalized_pagerank` — same scaled
    bigint sums, same repr-injected double constants, same seed predicate
    text."""
    base_num = repr(1.0 - damping)
    sql = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    nodes AS MATERIALIZED (
      SELECT node, {seed_pred} AS is_seed
      FROM (SELECT DISTINCT node FROM
            (SELECT src AS node FROM e UNION SELECT dst FROM e))
    ),
    s_cte AS MATERIALIZED (SELECT count(*) AS s FROM nodes WHERE is_seed),
    outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS MATERIALIZED (
      SELECT node, is_seed,
             CASE WHEN is_seed THEN CAST(1.0 AS DOUBLE) / s
                  ELSE CAST(0.0 AS DOUBLE) END AS rank_ppr
      FROM nodes CROSS JOIN s_cte
    )"""
    for i in range(iterations):
        sql += f""",
    c{i} AS MATERIALIZED (
      SELECT e.dst,
             sum(CAST(round(r.rank_ppr / o.outdeg * 1e15) AS BIGINT)) AS in_sum
      FROM e JOIN r{i} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT nodes.node, nodes.is_seed,
             CASE WHEN nodes.is_seed THEN CAST({base_num} AS DOUBLE) / s
                  ELSE CAST(0.0 AS DOUBLE) END
             + CAST({damping!r} AS DOUBLE)
               * coalesce(CAST(c{i}.in_sum AS DOUBLE) / 1e15, 0.0) AS rank_ppr
      FROM nodes CROSS JOIN s_cte LEFT JOIN c{i} ON nodes.node = c{i}.dst
    )"""
    sql += f"""
    SELECT node, CAST(rank_ppr AS DOUBLE) AS rank_ppr FROM r{iterations}
    """
    return sql


def random_walks(edges: DataFrame, walk_len: int = 6) -> DataFrame:
    """Deterministic 'random' walks — the DeepWalk/node2vec corpus
    generator (Perozzi et al., KDD 2014), with the RNG replaced by the
    engine's content-stable hash so the SAME walks come out of any run,
    any partitioning, any engine: at step t from node v the walk picks
    neighbor rank md5(walk_id || ':' || t) mod outdeg(v) among v's
    rank-ordered neighbors.

    One walk starts at every node (walk_id = start node). Each step is
    one equi-join of the frontier against the rank-indexed adjacency
    list — walk extension is embarrassingly parallel, K joins for K
    steps, the textbook distributed walk shape (no per-walk state beyond
    the frontier row). Output: (walk_id, seq) where seq is the
    space-joined node sequence — feed straight to a skip-gram pipeline.
    """
    e = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        e.withColumn("rnk", F.row_number().over(w) - 1)
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .localCheckpoint()
    )
    frontier = adj.select(F.col("src").alias("walk_id")).distinct().select(
        "walk_id", F.col("walk_id").alias("node"), F.col("walk_id").cast("string").alias("seq")
    )
    for t in range(1, walk_len):
        pick = F.expr(
            f"cast(conv(substring(md5(cast(concat(walk_id, ':', {t}) as binary)), 1, 8),"
            f" 16, 10) as bigint)"
        )
        frontier = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .filter(F.col("rnk") == pick % F.col("deg"))
            .select(
                "walk_id",
                F.col("dst").alias("node"),
                F.concat(F.col("seq"), F.lit(" "), F.col("dst")).alias("seq"),
            )
        )
    return frontier.select("walk_id", "seq")


def oracle_random_walks(edges_sql: str, walk_len: int = 6) -> str:
    sql = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    adj AS MATERIALIZED (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
             count(*) OVER (PARTITION BY src) AS deg
      FROM e
    ),
    f0 AS MATERIALIZED (
      SELECT src AS walk_id, src AS node, CAST(src AS VARCHAR) AS seq
      FROM (SELECT DISTINCT src FROM e)
    )"""
    for t in range(1, walk_len):
        pick = (
            f"CAST(('0x' || substr(md5(CAST(walk_id || ':' || {t} AS VARCHAR)), 1, 8))"
            f" AS BIGINT)"
        )
        sql += f""",
    f{t} AS MATERIALIZED (
      SELECT f.walk_id, a.dst AS node, f.seq || ' ' || a.dst AS seq
      FROM f{t - 1} f JOIN adj a ON f.node = a.src
      WHERE a.rnk = {pick} % a.deg
    )"""
    sql += f"""
    SELECT walk_id, seq FROM f{walk_len - 1}
    """
    return sql


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over undirected edges — positive =
    hubs link hubs (social nets), negative = hub-and-spoke
    (supplier-part, web). THE one-number summary of whether skew
    mitigation will matter for neighborhood joins on this graph.

    Exact integer sums over both edge orientations (Sxy, Sx, Sx2, n —
    degrees are BIGINTs, products stay within int64 for degrees < ~3e9),
    combined in ONE fixed-order double expression rounded to 6dp — the
    evt_trend_ols recipe. Two degree joins + one single-row aggregate.
    Output: (n_edges, n_nodes, r_assort).
    """
    # und feeds the degree build and several joins, deg several joins and
    # the final fold; checkpoints stop each reference from re-deriving its
    # upstream. Under AQE each eager=False call still runs its frame's
    # shuffle stages and pins a persistent RDD when it is made.
    und = _undirected(edges).localCheckpoint(eager=False)
    deg = _degrees(und).localCheckpoint(eager=False)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("dy"))
    # both orientations so the correlation is symmetric (standard form)
    pairs = (
        und.join(da, "a")
        .join(db, "b")
        .select("dx", "dy")
    )
    both = pairs.union(pairs.select(F.col("dy").alias("dx"), F.col("dx").alias("dy")))
    agg = both.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sx2"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    nn = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    ne = und.agg(F.count("*").cast("bigint").alias("n_edges"))
    m, sx, sx2, sxy = (F.col(c).cast("double") for c in ("m", "sx", "sx2", "sxy"))
    r = (m * sxy - sx * sx) / (m * sx2 - sx * sx)
    return (
        ne.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_edges",
            "n_nodes",
            F.when(m * sx2 - sx * sx != 0, F.round(r, 6)).alias("r_assort"),
        )
    )


def oracle_assortativity(edges_sql: str) -> str:
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    deg AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und
      ) GROUP BY v
    ),
    pairs AS MATERIALIZED (
      SELECT da.deg AS dx, db.deg AS dy
      FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v
    ),
    bothdir AS (
      SELECT dx, dy FROM pairs UNION ALL SELECT dy AS dx, dx AS dy FROM pairs
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dx) AS BIGINT) AS sx,
             CAST(sum(dx * dx) AS BIGINT) AS sx2,
             CAST(sum(dx * dy) AS BIGINT) AS sxy
      FROM bothdir
    )
    SELECT CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CASE WHEN CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                THEN round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
           END AS r_assort
    FROM agg
    """


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient histogram: per node with degree ≥ 2,
    cc(v) = triangles(v) / (deg(v)·(deg(v)−1)/2), bucketed by the EXACT
    integer floor(cc·10) — never a float-boundary bin. The community-
    structure fingerprint that the global triangle count flattens away.

    Same degree-oriented wedge enumeration as :func:`triangle_count`
    (per-key fan-out O(sqrt(E)) on power-law graphs); each closed
    triangle then explodes to its 3 member vertices for the per-node
    count, and zero-triangle nodes survive via a left join against the
    degree frame. Output: (cc_bucket, n_nodes) — cc_bucket 0..10.
    """
    # und feeds the degree build and several joins, deg several joins and
    # the final fold; checkpoints stop each reference from re-deriving its
    # upstream. Under AQE each eager=False call still runs its frame's
    # shuffle stages and pins a persistent RDD when it is made.
    und = _undirected(edges).localCheckpoint(eager=False)
    deg = _degrees(und).localCheckpoint(eager=False)
    tri = _triangles(und, deg)
    tri_v = tri.select(
        F.explode(F.array(F.col("pivot"), F.col("x"), F.col("y"))).alias("v")
    )
    tric = tri_v.groupBy("v").agg(F.count("*").cast("bigint").alias("tri"))
    j = (
        deg.filter(F.col("deg") >= 2)
        .join(tric, "v", "left")
        .select("deg", F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("tri"))
    )
    return (
        j.withColumn("cc_bucket", F.expr("cast((2 * tri * 10) div (deg * (deg - 1)) as int)"))
        .groupBy("cc_bucket")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )


def oracle_clustering_coefficients(edges_sql: str) -> str:
    """Oracle: a<b<c closed-wedge enumeration (each triangle once),
    exploded to its 3 vertices — identical triangle set, identical exact
    integer bucketing."""
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    deg AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v
    ),
    tri AS MATERIALIZED (
      SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
      FROM und e1 JOIN und e2 ON e2.a = e1.b
                  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_v AS (
      SELECT va AS v FROM tri UNION ALL SELECT vb FROM tri UNION ALL SELECT vc FROM tri
    ),
    tric AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM tri_v GROUP BY v),
    j AS (
      SELECT d.deg, CAST(coalesce(t.tri, 0) AS BIGINT) AS tri
      FROM deg d LEFT JOIN tric t ON d.v = t.v
      WHERE d.deg >= 2
    )
    SELECT CAST((2 * tri * 10) // (deg * (deg - 1)) AS INT) AS cc_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM j GROUP BY 1
    """


def identity_stitch(events: DataFrame, min_support: int = 4) -> DataFrame:
    """Cross-device identity resolution: users sharing a device signal
    (here the ``props.k`` cookie stand-in) are stitched into one entity
    via connected components over the user<->device bipartite graph —
    the entity-resolution step every cross-device attribution / GDPR
    cascade needs before [[prof_forget_users]] can honor "forget this
    PERSON", not just this user id.

    Edges are (user, device) pairs seen >= min_support times (rare
    co-occurrence thinning — below it, shared NATs/devices glue
    everything into one giant component). Events with no device signal
    (NULL ``props.k``) are dropped EXPLICITLY before edge building — the
    no-device case must not rely on engine NULL-join behavior. Device
    nodes are encoded as -(device+1), collision-free against nonnegative
    user ids, so the min-label component id needs no node-type column
    through the propagation. Reuses :func:`..dedup.connected_components`
    (min-label propagation, localCheckpoint-truncated rounds).

    Shape at 100 TB: ONE keyed aggregate for edge support, then
    propagation rounds on the THINNED edge set (support >= k keeps
    edges ~linear in true identities, not in events). Output:
    (user_id, entity_id, n_users) per user, n_users = stitched entity
    size in users.
    """
    from .dedup import connected_components

    pairs = (
        events.select(
            F.col("user_id").cast("bigint").alias("u"),
            F.expr("cast(get_json_object(props, '$.k') as int)").cast("bigint").alias("dev"),
        )
        .filter(F.col("dev").isNotNull())
        .groupBy("u", "dev")
        .count()
        .filter(F.col("count") >= min_support)
        .select(F.col("u").alias("id_a"), (-(F.col("dev") + 1)).alias("id_b"))
    )
    cc = connected_components(pairs)
    users = cc.filter(F.col("node") >= 0)
    sizes = users.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    return users.join(sizes, "component").select(
        F.col("node").cast("bigint").alias("user_id"),
        F.col("component").cast("bigint").alias("entity_id"),
        "n_users",
    )


def oracle_identity_stitch(
    table: str,
    user_col: str = "user_id",
    device_expr: str = "CAST(json_extract_string(props, '$.k') AS INTEGER)",
    min_support: int = 4,
) -> str:
    from .dedup import oracle_connected_components

    pairs_sql = f"""
      SELECT CAST({user_col} AS BIGINT) AS id_a,
             -(CAST({device_expr} AS BIGINT) + 1) AS id_b
      FROM {table}
      WHERE ({device_expr}) IS NOT NULL
      GROUP BY 1, 2
      HAVING count(*) >= {min_support}
    """
    cc = oracle_connected_components(pairs_sql)
    return f"""
    WITH cc AS ({cc}),
    users AS (SELECT node, component FROM cc WHERE node >= 0),
    sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_users
              FROM users GROUP BY component)
    SELECT CAST(u.node AS BIGINT) AS {user_col},
           CAST(u.component AS BIGINT) AS entity_id, s.n_users
    FROM users u JOIN sizes s ON u.component = s.component
    """


def betweenness_sampled(
    edges: DataFrame, sources: list[str], depth: int = 4
) -> DataFrame:
    """Sampled, depth-bounded betweenness centrality (Brandes 2001 with
    pivot sources): run the forward BFS/path-count pass and the backward
    dependency accumulation from each pivot, bc(v) = Σ_s δ_s(v) — the
    broker-node detector that PageRank/HITS (volume-based) cannot
    express. Sampling pivots instead of all sources is THE published
    scale move (Brandes/Pich 2007); the depth bound additionally
    truncates dependencies to paths of <= depth hops, and both
    truncations are part of the operator's declared semantics (the
    oracle replays them exactly).

    Exactness: path counts sigma are BIGINTs — the forward pass counts
    WALKS per length lane (w_k), and a walk of length exactly dist(v)
    is necessarily a shortest path (each step changes the BFS distance
    by at most 1, so a length-dist(v) walk takes only +1 steps), so
    sigma(v) = w_dist(v)(v) exactly and the read lane only ever receives
    contributions from other read lanes. Longer lanes count non-simple
    walks and may overflow BIGINT on extreme-degree graphs — the lane
    sums use try_sum so an overflow NULLs the lane (no
    ArithmeticException under spark.sql.ansi.enabled=true), and a
    lane k > dist(v) is never read and never feeds a read lane. Each backward contribution
    (sigma_v/sigma_w)·(1+delta_w) is one fixed double chain quantized to
    a SCALED BIGINT (round(x·1e6) — see _brandes_contribs for why this
    beats a DECIMAL(38,6) cast cross-engine) before the per-node EXACT
    integer sum; the cross-source fold stays in scaled integers —
    order-free at any parallelism.

    Shape (the r7 stage-count rework — this operator is overhead-bound
    at test scale and exchange-bound at 100 TB, so fewer exchanges win
    at both): forward = 2 keyed exchanges per round (edge join +
    path-count aggregate; the walk formulation needs NO per-round
    anti-join against the reached set) + ONE per-node min-lane fold
    (the pivot dimension rides as columns, so every shuffle keys on the
    bare node and moves |reached| rows, not |pivots|·|reached|);
    the shortest-path DAG (v→w with dist_w = dist_v + 1) is
    materialized ONCE and every backward round is then just (left-join
    delta, re-aggregate) — 2 exchanges instead of the 5 of a
    per-round re-derivation. Per-round frames are localCheckpoint-ed
    (each is referenced by the next round AND a final union); under AQE
    ``eager=False`` still runs each one's shuffle stages as the round is
    built. Deltas stay SPARSE (only nodes with a nonzero
    dependency); use sites coalesce to 0. Output: (node, bc) for
    bc > 0, quantized to 1e-6 (scaled-bigint total / 1e6).
    """
    n = len(sources)
    sig, e = _brandes_forward(edges, sources, depth)
    dag = _brandes_dag(sig, e, n)
    delta = {depth: None}  # sparse: None == all-zero
    for l in range(depth - 1, -1, -1):
        contrib = (
            _brandes_contribs(dag, l, delta[l + 1], n)
            .groupBy(F.col("src").alias("node"))
            .agg(
                *[
                    F.try_sum(f"c_{i}").cast("long").alias(f"delta_{i}")
                    for i in range(n)
                ]
            )
        )
        delta[l] = contrib.localCheckpoint(eager=False)
    acc = None
    for l in range(1, depth + 1):
        part = delta[l]
        if part is None:
            continue
        acc = part if acc is None else acc.unionByName(part)
    if acc is None:
        # depth=1: delta[depth] is the sparse all-zero None and the
        # backward loop only fills levels < depth, so no dependency mass
        # exists — every bc is 0 and the declared output is empty
        return edges.sparkSession.createDataFrame([], "node string, bc double")
    # Value-domain bound for the scaled-bigint fold (ADVICE r8): each
    # delta lane carries round(x*1e6) longs, so the try_sum headroom is
    # ~9.2e12 in bc value per (node, pivot-lane). Dependency mass per lane
    # is bounded by the number of depth-limited paths through the node
    # from ONE pivot — at the sampled pivot count (n<=8) and depth<=4 this
    # is << 1e9 even on the sf0.5 graph (max observed bc ~1e5), 7+ orders
    # inside the bound. A graph that could overflow a lane (≥1e12 paths
    # through one node from one pivot at depth 4) would need ~1e3 avg
    # out-degree at every hop; at that density the pivot count, not the
    # fold, is what must change. try_sum->coalesce(0) is therefore a
    # never-taken guard at the operating envelope, kept because ANSI mode
    # turns plain sum overflow into a job abort.
    total = None
    for i in range(n):
        t = F.coalesce(F.try_sum(f"delta_{i}"), F.lit(0).cast("long"))
        total = t if total is None else (total + t)
    return (
        acc.groupBy("node")
        .agg((total.cast("double") / F.lit(1000000.0)).alias("bc"))
        .filter(F.col("bc") > 0)
    )


def _brandes_forward(edges: DataFrame, sources: list[str], depth: int):
    """Shared forward pass of the sampled Brandes variants: per-length
    WALK counts from all pivots AT ONCE, with the pivot dimension held
    as COLUMNS (sig_0..sig_{n-1}) rather than rows — every join and
    aggregate then moves |reached| rows instead of |pivots|·|reached|,
    and shuffles key on the bare node. The per-node result folds each
    pivot's minimum populated lane: a walk of length exactly dist(v) is
    a shortest path (each step changes BFS distance by at most 1, so a
    length-dist(v) walk takes only +1 steps), so sigma_i(v) = the min
    lane's count exactly, with NO per-round anti-join. Lanes above
    dist_i(v) count non-simple walks and may overflow BIGINT on
    extreme-degree graphs — the lane sums use try_sum, so an
    overflowing lane NULLs out instead of throwing under
    spark.sql.ansi.enabled=true, and the NULL is harmless by
    construction: a lane k > dist_i(v) is never read and never feeds a
    read lane (an in-neighbor u of v has dist_i(u) >= dist_i(v) - 1,
    so lane dist_i(v)-1 of u is either u's exact lane or empty; a
    NULLed contribution is likewise dropped only from unread lanes).

    Returns (sig, e): sig = one checkpointed frame
    (node, dist_0.., sigma_0..) with NULL dist/sigma where pivot i does
    not reach the node within depth; e = the distinct checkpointed edge
    frame."""
    spark = edges.sparkSession
    n = len(sources)
    sigs = [f"sig_{i}" for i in range(n)]
    # every forward round and the DAG build join e on src: partition AND
    # sort it by src ONCE before the checkpoint — LogicalRDD keeps
    # the partitioning/ordering, so each round's merge join skips the
    # big side's exchange and sort entirely (the r6 profile's forward
    # cost was 4x re-exchange+re-sort of this frame)
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition("src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=False)
    )
    rows = [
        (s, 0) + tuple(1 if j == i else 0 for j in range(n))
        for i, s in enumerate(sources)
    ]
    schema = "node string, dist int, " + ", ".join(f"{c} long" for c in sigs)
    lanes = [spark.createDataFrame(rows, schema)]
    for k in range(depth):
        nxt = (
            lanes[k]
            .select(F.col("node").alias("src"), *sigs)
            .join(e, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(*[F.try_sum(c).cast("long").alias(c) for c in sigs])
            .select("node", F.lit(k + 1).alias("dist"), *sigs)
        )
        # referenced by round k+1 AND the final min-lane fold
        lanes.append(nxt.localCheckpoint(eager=False))
    allw = lanes[0]
    for f in lanes[1:]:
        allw = allw.unionByName(f)
    sig = (
        allw.groupBy("node")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col(f"sig_{i}") > 0,
                        F.struct(
                            F.col("dist").alias("d"), F.col(f"sig_{i}").alias("g")
                        ),
                    )
                ).alias(f"m_{i}")
                for i in range(n)
            ]
        )
        .select(
            "node",
            *[F.col(f"m_{i}.d").alias(f"dist_{i}") for i in range(n)],
            *[F.col(f"m_{i}.g").alias(f"sigma_{i}") for i in range(n)],
        )
        .localCheckpoint(eager=False)
    )
    return sig, e


def _brandes_dag(sig: DataFrame, e: DataFrame, n: int) -> DataFrame:
    """Shortest-path DAG, materialized ONCE for all backward rounds:
    edges (v -> w) that advance at least one pivot's BFS level
    (dw_i = dv_i + 1), carrying both endpoints' per-pivot dist and
    sigma columns. Every backward round is then a filter + one delta
    join + one aggregate over this checkpointed frame instead of
    re-deriving the level joins from scratch."""
    v = sig.select(
        F.col("node").alias("src"),
        *[F.col(f"dist_{i}").alias(f"dv_{i}") for i in range(n)],
        *[F.col(f"sigma_{i}").alias(f"sv_{i}") for i in range(n)],
    )
    w = sig.select(
        F.col("node").alias("dst"),
        *[F.col(f"dist_{i}").alias(f"dw_{i}") for i in range(n)],
        *[F.col(f"sigma_{i}").alias(f"sw_{i}") for i in range(n)],
    )
    active = None
    for i in range(n):
        a = F.coalesce(F.col(f"dw_{i}") == F.col(f"dv_{i}") + 1, F.lit(False))
        active = a if active is None else (active | a)
    # partition+sort by dst once: every backward round left-joins the
    # (node-scale) delta frame on dst — the DAG side then needs no
    # exchange and no sort in any round
    return (
        v.join(e, "src")
        .join(w, "dst")
        .filter(active)
        .repartition("dst")
        .sortWithinPartitions("dst")
        .localCheckpoint(eager=False)
    )


def _brandes_contribs(
    dag: DataFrame, l: int, delta_next: DataFrame | None, n: int
) -> DataFrame:
    """One backward round's per-edge contributions: DAG edges active at
    level l for pivot i (dv_i = l, dw_i = l + 1) get
    c_i = round((sigma_v_i / sigma_w_i) · (1 + delta_w_i) · 1e6) as a
    SCALED BIGINT (x1e6); inactive pivots get NULL. delta_next carries
    the SCALED per-node sums and is SPARSE (absent rows/NULL columns
    ARE zero).

    Why scaled bigint and not CAST(.. AS DECIMAL(38,6)): the double
    product is IEEE-identical on both engines, but the decimal cast is
    not — DuckDB quantizes through double arithmetic (x*1e6 then rint),
    which lands one decimal ulp off Spark's exact-expansion HALF_UP
    whenever the product sits near a .0000005 boundary (observed at
    sf0.1: 19.5206395 -> 19.520639 duck vs 19.520640 spark). round(x *
    1e6) makes BOTH engines do the same IEEE multiply then a tie-free
    integer round of the same double — the pagerank discipline
    (module top, scaled-bigint contributions)."""
    part = dag.filter(
        _any(
            (F.col(f"dv_{i}") == l) & (F.col(f"dw_{i}") == l + 1)
            for i in range(n)
        )
    )
    if delta_next is None:
        joined = part
        dcol = {i: "0.0D" for i in range(n)}
    else:
        succ = delta_next.select(
            F.col("node").alias("dst"),
            *[F.col(f"delta_{i}").alias(f"dl_{i}") for i in range(n)],
        )
        joined = part.join(succ, "dst", "left")
        dcol = {
            i: f"coalesce(cast(dl_{i} as double) / 1000000.0D, 0.0D)"
            for i in range(n)
        }
    cs = [
        F.when(
            (F.col(f"dv_{i}") == l) & (F.col(f"dw_{i}") == l + 1),
            F.expr(
                f"cast(round((cast(sv_{i} as double) / cast(sw_{i} as double))"
                f" * (1.0D + {dcol[i]}) * 1000000.0D) as bigint)"
            ),
        ).alias(f"c_{i}")
        for i in range(n)
    ]
    return joined.select("src", "dst", *cs)


def _any(conds) -> F.Column:
    acc = None
    for c in conds:
        acc = c if acc is None else (acc | c)
    return acc


def oracle_betweenness_sampled(
    edges_sql: str, sources: list[str], depth: int = 4
) -> str:
    """Unrolled forward/backward CTE chain mirroring
    :func:`betweenness_sampled` (MATERIALIZED edge/level CTEs — every
    unrolled step references them)."""
    src_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS s, '{s}' AS node, 0 AS dist, CAST(1 AS BIGINT) AS sigma"
        for s in sources
    )
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        f"d0 AS MATERIALIZED ({src_rows})",
    ]
    for k in range(depth):
        parts.append(
            f", a{k + 1} AS (SELECT d.s, e.dst AS node, {k + 1} AS dist,"
            f" CAST(sum(d.sigma) AS BIGINT) AS sigma"
            f" FROM d{k} d JOIN e ON e.src = d.node WHERE d.dist = {k}"
            f" GROUP BY d.s, e.dst)"
        )
        parts.append(
            f", d{k + 1} AS MATERIALIZED (SELECT * FROM d{k} UNION ALL"
            f" SELECT a.* FROM a{k + 1} a ANTI JOIN d{k} p"
            f" ON a.s = p.s AND a.node = p.node)"
        )
    d = f"d{depth}"
    # delta rides as a SCALED BIGINT (x1e6) end to end — the contribution
    # quantization is round(<identical IEEE double chain> * 1e6), never a
    # double->DECIMAL cast, matching _brandes_contribs exactly (DuckDB's
    # decimal cast quantizes through double arithmetic and can land one
    # decimal ulp off Spark's exact HALF_UP near a .0000005 boundary)
    parts.append(
        f", x{depth} AS MATERIALIZED (SELECT s, node, CAST(0 AS BIGINT) AS delta"
        f" FROM {d} WHERE dist = {depth})"
    )
    for l in range(depth - 1, -1, -1):
        parts.append(
            f", c{l} AS (SELECT v.s, v.node,"
            f" CAST(sum(CAST(round((CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))"
            f" * (1.0 + CAST(x.delta AS DOUBLE) / 1000000.0) * 1000000.0)"
            f" AS BIGINT)) AS BIGINT) AS dsum"
            f" FROM {d} v JOIN e ON e.src = v.node"
            f" JOIN {d} w ON w.s = v.s AND w.node = e.dst AND w.dist = {l + 1}"
            f" JOIN x{l + 1} x ON x.s = w.s AND x.node = w.node"
            f" WHERE v.dist = {l} GROUP BY v.s, v.node)"
        )
        parts.append(
            f", x{l} AS MATERIALIZED (SELECT v.s, v.node,"
            f" coalesce(c.dsum, CAST(0 AS BIGINT)) AS delta"
            f" FROM {d} v LEFT JOIN c{l} c ON c.s = v.s AND c.node = v.node"
            f" WHERE v.dist = {l})"
        )
    union_deltas = " UNION ALL ".join(
        f"SELECT s, node, delta FROM x{l}" for l in range(1, depth + 1)
    )
    parts.append(
        f"SELECT node, CAST(sum(delta) AS DOUBLE) / 1000000.0"
        f" AS bc FROM ({union_deltas}) GROUP BY node"
        f" HAVING sum(delta) > 0"
    )
    return "\n".join(parts)


def edge_betweenness_sampled(
    edges: DataFrame, sources: list[str], depth: int = 4
) -> DataFrame:
    """Edge betweenness (the Girvan-Newman 2002 quantity — communities
    fall out by iteratively cutting the highest-betweenness edges), same
    sampled/depth-bounded Brandes machinery as
    :func:`betweenness_sampled` but accumulating the per-EDGE dependency
    (sigma_v/sigma_w)·(1+delta_w) instead of folding it into the node:
    each shortest-path-DAG edge (v -> w, dist_w = dist_v + 1) carries
    exactly that flow. Same exactness discipline: integer sigma,
    scaled-bigint (round(x·1e6)) contributions — see _brandes_contribs
    for why that beats a DECIMAL(38,6) cast cross-engine — order-free
    integer sums.

    Output: (src, dst, ebc) per directed DAG edge with ebc > 0 (an
    undirected edge appears once per direction that lies on a shortest
    path), quantized to 1e-6. Shares :func:`_brandes_forward` /
    :func:`_brandes_dag` / :func:`_brandes_contribs` with the node
    variant — same one-shot DAG materialization, per-round checkpoints
    (each ``pairs`` frame feeds BOTH the next round's delta and the final
    edge fold), same sparse deltas.
    """
    n = len(sources)
    sig, e = _brandes_forward(edges, sources, depth)
    dag = _brandes_dag(sig, e, n)
    delta = {depth: None}
    edge_parts = []
    for l in range(depth - 1, -1, -1):
        pairs = _brandes_contribs(dag, l, delta[l + 1], n).localCheckpoint(
            eager=False
        )
        edge_parts.append(pairs)
        delta[l] = pairs.groupBy(F.col("src").alias("node")).agg(
            *[F.try_sum(f"c_{i}").cast("long").alias(f"delta_{i}") for i in range(n)]
        )
    acc = edge_parts[0]
    for part in edge_parts[1:]:
        acc = acc.unionByName(part)
    total = None
    for i in range(n):
        t = F.coalesce(F.try_sum(f"c_{i}"), F.lit(0).cast("long"))
        total = t if total is None else (total + t)
    return (
        acc.groupBy("src", "dst")
        .agg((total.cast("double") / F.lit(1000000.0)).alias("ebc"))
        .filter(F.col("ebc") > 0)
    )


def oracle_edge_betweenness_sampled(
    edges_sql: str, sources: list[str], depth: int = 4
) -> str:
    """Unrolled CTE twin of :func:`edge_betweenness_sampled` — identical
    forward/backward chains to oracle_betweenness_sampled, but the final
    fold groups the per-level edge contributions by (src, dst)."""
    src_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS s, '{s}' AS node, 0 AS dist, CAST(1 AS BIGINT) AS sigma"
        for s in sources
    )
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),",
        f"d0 AS MATERIALIZED ({src_rows})",
    ]
    for k in range(depth):
        parts.append(
            f", a{k + 1} AS (SELECT d.s, e.dst AS node, {k + 1} AS dist,"
            f" CAST(sum(d.sigma) AS BIGINT) AS sigma"
            f" FROM d{k} d JOIN e ON e.src = d.node WHERE d.dist = {k}"
            f" GROUP BY d.s, e.dst)"
        )
        parts.append(
            f", d{k + 1} AS MATERIALIZED (SELECT * FROM d{k} UNION ALL"
            f" SELECT a.* FROM a{k + 1} a ANTI JOIN d{k} p"
            f" ON a.s = p.s AND a.node = p.node)"
        )
    d = f"d{depth}"
    # scaled-bigint delta/contribution discipline — see
    # oracle_betweenness_sampled for the cross-engine rationale
    parts.append(
        f", x{depth} AS MATERIALIZED (SELECT s, node, CAST(0 AS BIGINT) AS delta"
        f" FROM {d} WHERE dist = {depth})"
    )
    for l in range(depth - 1, -1, -1):
        parts.append(
            f", p{l} AS MATERIALIZED (SELECT v.s, v.node AS src, w.node AS dst,"
            f" CAST(round((CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))"
            f" * (1.0 + CAST(x.delta AS DOUBLE) / 1000000.0) * 1000000.0)"
            f" AS BIGINT) AS c"
            f" FROM {d} v JOIN e ON e.src = v.node"
            f" JOIN {d} w ON w.s = v.s AND w.node = e.dst AND w.dist = {l + 1}"
            f" JOIN x{l + 1} x ON x.s = w.s AND x.node = w.node"
            f" WHERE v.dist = {l})"
        )
        parts.append(
            f", x{l} AS MATERIALIZED (SELECT v.s, v.node,"
            f" coalesce(c.dsum, CAST(0 AS BIGINT)) AS delta"
            f" FROM {d} v LEFT JOIN (SELECT s, src, CAST(sum(c) AS BIGINT) AS dsum"
            f" FROM p{l} GROUP BY s, src) c"
            f" ON c.s = v.s AND c.src = v.node"
            f" WHERE v.dist = {l})"
        )
    union_parts = " UNION ALL ".join(
        f"SELECT src, dst, c FROM p{l}" for l in range(depth - 1, -1, -1)
    )
    parts.append(
        f"SELECT src, dst, CAST(sum(c) AS DOUBLE) / 1000000.0 AS ebc"
        f" FROM ({union_parts}) GROUP BY src, dst"
        f" HAVING sum(c) > 0"
    )
    return "\n".join(parts)
