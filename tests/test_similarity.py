"""The similarity operators' shared ranking and recall-curve contracts: tied
scores rank by ascending candidate id, and the recall curves are plain
lazy plans that leave nothing persisted."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_2_7_1_spark.io import load_table
from hadoop_2_7_1_spark.operators import similarity as sim

from .conftest import SF_DIR
from .test_io import _jobs


def _copies(spark):
    """24 vectors, six copies each of four mutually orthogonal or opposite
    directions: vector ``i`` is a copy of direction ``i % 4``."""
    groups = [[1.0] * 8, [-1.0] * 8, [1.0, -1.0] * 4, [-1.0, 1.0] * 4]
    rows = [(i, groups[i % 4]) for i in reversed(range(24))]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").repartition(3)


def test_topk_ties_rank_by_ascending_id(spark):
    """Duplicate vectors score exactly alike. Each query's five copies tie
    for first place and cross the k=3 cut, so every top-k operator must keep
    the three lowest-id copies, ranked 1, 2, 3 in id order."""
    emb = _copies(spark)
    queries = emb.filter("vec_id < 2")
    cents = sim.kmeans_fit(emb, k=4, n_iter=2)
    books = sim.pq_fit(emb, m=2, k=4, n_iter=2, dim=8)
    cos = ("q_id", "vec_id", "cos")
    adc = ("id_q", "id_vec", "score_adc")
    runs = {
        "cosine_topk": (sim.cosine_topk(emb, queries, k=3), cos),
        "ivf_topk": (sim.ivf_topk(emb, queries, k=3, bucket_dims=4), cos),
        "ivf_multiprobe_topk": (
            sim.ivf_multiprobe_topk(emb, queries, k=3, bucket_dims=4),
            cos,
        ),
        "knn_join": (sim.knn_join(queries, emb, k=3, bucket_dims=4), cos),
        "kmeans_ivf_topk": (sim.kmeans_ivf_topk(emb, queries, cents, k=3, nprobe=1), cos),
        "simhash_topk": (sim.simhash_topk(emb, queries, k=3, rerank_budget=10), cos),
        "pq_search_adc": (sim.pq_search_adc(emb, queries, books, k=3), adc),
        "ivf_pq_topk": (sim.ivf_pq_topk(emb, queries, cents, books, k=3, nprobe=1), adc),
        "pq_rerank": (
            sim.pq_rerank(emb, queries, books, k_short=5, k=3),
            ("id_q", "id_vec", "d_exact"),
        ),
    }
    want = {0: [4, 8, 12], 1: [5, 9, 13]}
    for name, (df, (q, v, score)) in runs.items():
        got: dict[int, list] = {}
        for r in df.collect():
            got.setdefault(r[q], []).append((r["rnk"], r[v], r[score]))
        assert sorted(got) == [0, 1], name
        for qid, ids in want.items():
            ranked = sorted(got[qid])
            assert [rnk for rnk, _, _ in ranked] == [1, 2, 3], name
            assert [vid for _, vid, _ in ranked] == ids, name
            assert len({s for _, _, s in ranked}) == 1, f"{name}: not an exact tie"
    l2 = sorted(tuple(r) for r in sim.l2_topk(emb, queries, k=3).collect())
    assert l2 == [(0, 4), (0, 8), (0, 12), (1, 5), (1, 9), (1, 13)]


def test_embedding_neardup_pairs_finds_every_copy_pair(spark):
    """The sign-bucket range join without probes: each unordered pair of
    copies once (cosine 1), and no pair across directions."""
    from hadoop_2_7_1_spark.operators.dedup import embedding_neardup_pairs

    got = sorted((r.id_a, r.id_b) for r in embedding_neardup_pairs(_copies(spark), 0.99).collect())
    want = sorted((a, b) for a in range(24) for b in range(a + 1, 24) if a % 4 == b % 4)
    assert got == want  # 4 directions x C(6, 2) = 60 pairs


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_recall_curves_are_lazy_and_leave_nothing_persisted(spark):
    """sim_matryoshka_recall and sim_kmeans_recall_curve, built as the
    registry builds them: once the centroids are fitted, building the curve
    runs no Spark job, and collecting it registers no persistent RDD."""
    emb = load_table(spark, SF_DIR, "embeddings")
    fixture = sim.clustered_fixture(emb)
    cents = sim.kmeans_fit(fixture, k=8, n_iter=2)
    panel = (F.col("vec_id") < 2000) & (F.col("vec_id") % 25 == 0)
    builds = {
        "sim_matryoshka_recall": lambda: sim.matryoshka_recall(
            emb, emb.filter(F.col("vec_id") % 50 == 0), prefix_dims=(8, 16, 32), k=5
        ),
        "sim_kmeans_recall_curve": lambda: sim.kmeans_recall_curve(
            fixture, fixture.filter(panel), cents, k=5, nprobes=(1, 2, 4)
        ),
    }
    for name, build in builds.items():
        jobs, persisted = _jobs(spark), _persisted(spark)
        df = build()
        assert _jobs(spark) == jobs, f"{name} ran a job while it was built"
        assert len(df.collect()) == 3, name
        assert not _persisted(spark) - persisted, f"{name} left a persistent RDD"
