"""Guards for the two cross-engine oracle defect classes the sf0.1
full-registry parity sweep surfaced (round 8 continuation):

1. A computed DOUBLE cast to DECIMAL(38,x) on the hash surface is NOT
   quantized identically by DuckDB (double-arithmetic multiply+rint) and
   Spark (exact-expansion HALF_UP) — 19.5206395 casts to 19.520639 vs
   19.520640. The Brandes contributions now quantize via
   cast(round(x * 1e6) as bigint); these tests pin that the decimal cast
   never comes back.

2. DuckDB re-executes a non-MATERIALIZED CTE per reference, so unrolled
   Lloyd chains (cent{i} referenced twice per round) re-run their
   upstream multiplicatively — the sim_ivf_pq oracle took >58 min at
   sf0.1 before the chains were MATERIALIZED, seconds after.
"""

from __future__ import annotations

import re

from hadoop_2_7_1_spark.operators import graph, similarity

EDGES = "SELECT 'a' AS src, 'b' AS dst"


def test_betweenness_oracles_carry_no_double_to_decimal_cast():
    for sql in (
        graph.oracle_betweenness_sampled(EDGES, ["a"], depth=3),
        graph.oracle_edge_betweenness_sampled(EDGES, ["a"], depth=3),
    ):
        assert "DECIMAL" not in sql.upper()
        # the scaled-bigint quantization must be present instead
        assert "round(" in sql and "AS BIGINT" in sql
        assert "/ 1000000.0" in sql


def test_kmeans_and_pq_oracle_chains_are_materialized():
    km = similarity._oracle_kmeans_ctes("embeddings", k=8, n_iter=2, dim=64)
    pq = similarity._oracle_pq_ctes("embeddings", m=4, k=8, n_iter=2, dim=64)
    for sql, label in ((km, "kmeans"), (pq, "pq")):
        # every CTE in the unrolled chain must be MATERIALIZED: DuckDB
        # re-executes plain CTEs per reference and each round references
        # the previous centroids twice
        ctes = re.findall(r",?\s*([A-Za-z_0-9{}]+) AS (MATERIALIZED )?\(", sql)
        assert ctes, f"{label}: no CTEs parsed"
        plain = [name for name, mat in ctes if not mat]
        assert not plain, f"{label}: non-materialized CTEs {plain}"


def test_ivf_pq_oracle_builds_on_materialized_chains():
    sql = similarity.oracle_ivf_pq("embeddings", "vec_id < 3")
    # both the coarse chain and all four subspace chains must appear
    assert sql.count("MATERIALIZED") >= 16


def _multi_ref_plain_ctes(sql: str) -> list[str]:
    """CTE names defined without MATERIALIZED but referenced 2+ times —
    the pattern DuckDB re-executes per reference (grf_kcore's oracle
    filled the disk with temp spill at sf0.5 this way)."""
    out = []
    for cte, mat in re.findall(r"([A-Za-z_0-9]+) AS (MATERIALIZED )?\(", sql):
        if mat:
            continue
        refs = len(re.findall(rf"(?:FROM|JOIN)\s+{cte}\b", sql))
        if refs > 1:
            out.append(f"{cte}x{refs}")
    return out


def test_graph_oracles_have_no_multi_ref_plain_ctes():
    E = "SELECT 'a' AS src, 'b' AS dst"
    EW = "SELECT 'a' AS src, 'b' AS dst, 1.0 AS w"
    L = "SELECT 'a' AS node, 1 AS label"
    oracles = {
        "triangle_count": graph.oracle_triangle_count(E),
        "pagerank": graph.oracle_pagerank(E),
        "kcore": graph.oracle_kcore(E),
        "bfs_hops": graph.oracle_bfs_hops(E, "a"),
        "label_prop": graph.oracle_label_propagation(E),
        "sssp": graph.oracle_sssp(EW, "a"),
        "modularity": graph.oracle_modularity(E, L),
        "hits": graph.oracle_hits(E),
        "ppr": graph.oracle_personalized_pagerank(E, "node = 'a'"),
        "walks": graph.oracle_random_walks(E),
        "assortativity": graph.oracle_assortativity(E),
        "clustering": graph.oracle_clustering_coefficients(E),
        "betweenness": graph.oracle_betweenness_sampled(E, ["a"]),
        "edge_betweenness": graph.oracle_edge_betweenness_sampled(E, ["a"]),
    }
    bad = {n: r for n, r in
           ((n, _multi_ref_plain_ctes(sql)) for n, sql in oracles.items()) if r}
    assert not bad, f"re-execution-prone plain CTEs: {bad}"


# ---------------------------------------------------------------------------
# Size-derived knob parity (round 9): the pair-bill operators derive their
# cluster/bucket knob from the corpus count on BOTH engines. These tests pin
# (a) the operating points a sf0.1 -> sf0.5 scaling run validated as linear,
# (b) exact Python <-> DuckDB agreement of the derivation over a size sweep,
# (c) that the auto-knob oracles keep the knob CTE MATERIALIZED (it is
#     referenced once per bucket expression — a plain CTE would re-execute).
# ---------------------------------------------------------------------------


def test_derived_knobs_reproduce_validated_operating_points():
    # k 8->40 and dims 6->8 for N 2000->10000 are the measured-linear points
    # (x5 data: dd_semdedup x5.0, sim_hubness x5.6, sim_threshold_join x5.8
    # wall-clock, against x11.9-x24.8 at pinned knobs); N=500 is the sf0.01
    # embeddings corpus
    assert similarity.derive_k(500) == 2
    assert similarity.derive_k(2000) == 8
    assert similarity.derive_k(10000) == 40
    assert similarity.derive_bucket_dims(500) == 4
    assert similarity.derive_bucket_dims(2000) == 6
    assert similarity.derive_bucket_dims(10000) == 8
    # clamps: degenerate corpora never derive k=0/dims=0; dims cap at 16
    assert similarity.derive_k(0) == 1
    assert similarity.derive_k(1) == 1
    assert similarity.derive_bucket_dims(1) == 1
    assert similarity.derive_bucket_dims(10**9) == similarity.MAX_BUCKET_DIMS


def test_knob_sql_matches_python_derivation():
    import duckdb

    con = duckdb.connect()
    for n in (1, 39, 40, 41, 249, 250, 251, 500, 1999, 2000, 2048, 10000, 123457):
        k_sql, d_sql = con.sql(
            f"SELECT {similarity._knob_k_sql()}, {similarity._knob_dims_sql()}"
            f" FROM range({n})"
        ).fetchone()
        assert k_sql == similarity.derive_k(n), f"k mismatch at N={n}"
        assert d_sql == similarity.derive_bucket_dims(n), f"dims mismatch at N={n}"


def test_query_stride_sql_matches_python_derivation():
    # the retrieval-eval panel stride (r10): ceil(N/80), both engines —
    # boundary Ns around multiples of the budget plus degenerate sizes
    import duckdb

    con = duckdb.connect()
    for n in (1, 79, 80, 81, 160, 500, 2000, 2001, 10000, 20000, 123457):
        (s_sql,) = con.sql(
            f"SELECT {similarity._knob_stride_sql()} FROM range({n})"
        ).fetchone()
        assert s_sql == similarity.derive_query_stride(n), f"stride at N={n}"
    assert similarity.derive_query_stride(0) == 1
    # the auto-stride oracle materializes its panel knob CTE
    sql = similarity.oracle_retrieval_quality("embeddings", k=10)
    assert re.search(r"qknob AS MATERIALIZED \(", sql)


def test_rerank_budget_sql_matches_python_derivation():
    # the simhash serving path's exact-rerank budget (r11): max(100,
    # ceil(N/50)) — must grow with the corpus or recall decays (measured:
    # C=100 is 0.80 recall at N=500 but 0.35 at N=20000)
    import duckdb

    con = duckdb.connect()
    for n in (1, 99, 100, 4999, 5000, 5001, 10000, 20000, 123457):
        (c_sql,) = con.sql(
            f"SELECT {similarity._knob_budget_sql()} FROM range({n})"
        ).fetchone()
        assert c_sql == similarity.derive_rerank_budget(n), f"budget at N={n}"
    assert similarity.derive_rerank_budget(0) == 100
    assert similarity.derive_rerank_budget(500) == 100
    assert similarity.derive_rerank_budget(10000) == 200
    assert similarity.derive_rerank_budget(20000) == 400


def test_simhash_oracle_knob_shapes():
    # auto mode materializes BOTH knob CTEs (panel stride + rerank budget);
    # pinned mode keeps the constant-unrolled form for replay-stable callers
    auto = similarity.oracle_simhash_topk("embeddings", None, k=5)
    assert re.search(r"qknob AS MATERIALIZED \(", auto)
    assert re.search(r"bknob AS MATERIALIZED \(", auto)
    pinned = similarity.oracle_simhash_topk(
        "embeddings", "vec_id % 50 = 0", k=5, rerank_budget=100
    )
    assert "knob" not in pinned
    assert "rn <= 100" in pinned
    # the eval twin routes the retriever switch
    ev = similarity.oracle_retrieval_quality("embeddings", k=10, retriever="simhash")
    assert "bit_count" in ev and re.search(r"bknob AS MATERIALIZED \(", ev)


def test_registered_auto_knob_call_sites_use_full_table():
    """ADVICE r10 #4: the bucket_dims=None / rerank_budget=None population
    contract (Spark derives the knob from the candidate side's count();
    the oracle derives it from count(*) of the registered table — they
    only agree when the candidate side IS the full table) is enforceable
    only at the call sites. Walk every registered query module's AST: each
    call to knn_join / simhash_topk / retrieval_quality must either pass
    the knob explicitly or pass, as its knob-populating argument, a bare
    name assigned straight from load_table(...) in the same function."""
    import ast
    import glob
    import os

    # function -> (knob kwarg, index of the knob-populating positional arg)
    CONTRACTS = {
        "knn_join": ("bucket_dims", 1),  # emb_b
        "simhash_topk": ("rerank_budget", 0),  # emb
        "retrieval_quality": (None, 0),  # emb must ALWAYS be the full table
    }
    qdir = os.path.join(os.path.dirname(__file__), "..", "hadoop_2_7_1_spark", "queries")
    violations = []
    for path in glob.glob(os.path.join(qdir, "*.py")):
        tree = ast.parse(open(path).read())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            loaded = {
                t.id
                for stmt in ast.walk(fn)
                if isinstance(stmt, ast.Assign)
                and isinstance(stmt.value, ast.Call)
                and getattr(stmt.value.func, "id", getattr(stmt.value.func, "attr", ""))
                == "load_table"
                for t in stmt.targets
                if isinstance(t, ast.Name)
            }
            for call in [n for n in ast.walk(fn) if isinstance(n, ast.Call)]:
                name = getattr(call.func, "attr", getattr(call.func, "id", ""))
                if name not in CONTRACTS:
                    continue
                knob, pos = CONTRACTS[name]
                kwargs = {kw.arg for kw in call.keywords}
                if knob is not None and knob in kwargs:
                    continue  # explicit knob: contract satisfied
                arg = None
                if len(call.args) > pos:
                    arg = call.args[pos]
                else:
                    for kw in call.keywords:
                        if kw.arg in ("emb", "emb_b"):
                            arg = kw.value
                if not (isinstance(arg, ast.Name) and arg.id in loaded):
                    violations.append(
                        f"{os.path.basename(path)}:{call.lineno} {fn.name}: "
                        f"{name} auto-knob on a non-load_table population"
                    )
    assert not violations, violations


def test_auto_knob_oracles_materialize_the_knob_cte():
    for sql in (
        similarity.oracle_semdedup("embeddings", k=None),
        similarity.oracle_threshold_join("embeddings", bucket_dims=None),
        similarity.oracle_knn_hubness("embeddings", bucket_dims=None),
    ):
        assert re.search(r"knob AS MATERIALIZED \(", sql), "knob CTE not materialized"
        assert not _multi_ref_plain_ctes(sql), _multi_ref_plain_ctes(sql)


def test_pinned_knob_oracles_are_unchanged_in_shape():
    # explicit ints must keep the constant-unrolled form (no knob CTE), so
    # replay-stable callers (sim_knn_join, ivf family) see identical SQL
    for sql in (
        similarity.oracle_semdedup("embeddings", k=8),
        similarity.oracle_threshold_join("embeddings", bucket_dims=6),
        similarity.oracle_knn_join("embeddings", "true", bucket_dims=6),
    ):
        assert "knob" not in sql
        assert "generate_series(0, 6)" in sql or "LIMIT 8" in sql
