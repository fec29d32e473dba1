"""Plan-property regression guards: scale behaviors (pushed-down filters,
map-side combine, broadcast dimensions, one shuffle per secondary sort, no
cartesian products, JVM-only hot paths) asserted on the real executed plans
so a future edit that silently adds a shuffle, drops a pushdown, or
un-broadcasts a dimension fails CI."""

from __future__ import annotations

import pytest

from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    df.collect()  # execute THIS plan so AQE finalizes and codegen spans appear
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-execution plan; keep only the final one
    return plan.split("== Initial Plan ==")[0]


def test_scan_agg_pushdown_and_partial_agg(spark):
    plan = plan_of(spark, "tq6_forecast_revenue")
    # date/discount/quantity predicates reach the parquet scan
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    # column pruning: only the needed lineitem columns are read
    assert "l_comment" not in plan.split("ReadSchema")[1].split("\n")[0]
    # map-side combine: partial then final HashAggregate
    assert plan.count("HashAggregate") >= 2


def test_dim_join_broadcasts(spark):
    plan = plan_of(spark, "tq3_shipping_priority")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_secondary_sort_single_shuffle(spark):
    plan = plan_of(spark, "q06_secondary_sort")
    # one grouping exchange; no global-window Sort over the whole dataset
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_total_sort_is_range_partitioned(spark):
    import re

    from pyspark.sql import functions as F

    # The range exchange in global_sort_with_rank is pinned behind a
    # localCheckpoint (so both consumers see ONE partition assignment), which
    # hides it from q11's executed plan — assert it on the pre-checkpoint
    # stage directly, then assert q11's rank path has no global data window.
    from hadoop_2_7_1_spark.queries.reference import load_table

    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_linenumber")
    staged = df.repartitionByRange(8, F.col("l_orderkey"), F.col("l_linenumber"))
    assert "rangepartitioning" in staged._jdf.queryExecution().executedPlan().toString()

    plan = plan_of(spark, "q11_total_sort")
    # ranking runs per-partition (window by __pid), offsets join broadcasts
    assert re.search(r"windowspecdefinition\(__pid#\d+, ", plan), plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_semi_anti_join_operators(spark):
    plan = plan_of(spark, "q18_semi_anti")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_wordcount_stays_in_codegen(spark):
    plan = plan_of(spark, "q01_wordcount")
    # codegen spans render as "*(n) Node" in executedPlan.toString
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_terasort_validate_no_global_window_over_data(spark):
    plan = plan_of(spark, "bench_terasort_validate")
    # r11: the full-data order check is a NARROW Arrow pass over the sorted
    # partitions (TeraValidate.java's one-map-task-per-partition shape) —
    # exactly ONE full-data exchange may exist (the range sort itself); the
    # old window-by-spark_partition_id() re-shuffle is gone.
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    # the OLD full-data window was PARTITIONED by pid and ordered by pos;
    # the surviving boundary window (ordered by pid over one row per
    # partition) is fine and also mentions pid, so match the partition spec
    import re

    assert not re.search(r"windowspecdefinition\(pid#\d+, pos#", plan), plan
    n_range = plan.count("Exchange rangepartitioning")
    assert n_range == 1, f"expected exactly 1 range exchange, plan:\n{plan}"
    # no OTHER keyed full-data exchange: everything downstream of the Arrow
    # pass is per-partition summaries (hash/single-partition over ~P rows)
    assert "Exchange hashpartitioning(pid" not in plan, plan
    # any single-partition exchange may only carry per-partition summaries:
    # its child (the next printed line) must be the Arrow summary pass (one
    # row per partition), a query-stage wrapper of it, or an aggregate
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            child = lines[i + 1]
            assert any(
                t in child
                for t in ("Aggregate", "MapInArrow", "QueryStage", "Window")
            ), plan


def test_bucketed_join_has_no_shuffle_on_join_key(spark):
    plan = plan_of(spark, "src_bucketed_join")
    # co-bucketed + sorted tables satisfy SMJ's distribution requirement
    # directly (the CompositeInputFormat.java:93-95 precondition): the join
    # must introduce NO exchange on the join key — the only allowed shuffle
    # is the final groupBy on o_orderpriority.
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "SelectedBucketsCount" in plan  # both scans are bucket-aware


def test_knn_join_is_equi_join_no_cartesian(spark):
    plan = plan_of(spark, "sim_knn_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_registry_wide_plan_audit(spark):
    """Every lazily-built registry query must be free of CartesianProduct,
    and Python eval nodes may appear only in the documented whitelist
    (subprocess pipes, multimodal decode, compute generators) — the
    Python-boundary policy, enforced: hot paths stay JVM expressions inside
    whole-stage codegen, and a Python node appears only where an external
    process, a codec or a per-partition compute generator is the point.
    """
    from hadoop_2_7_1_spark.queries import REGISTRY

    # These run driver-side actions (model fits, checkpointed passes,
    # iterative solvers) at build time — their plan shapes are asserted by
    # their own dedicated tests instead.
    build_time_actions = {
        "sim_kmeans_sizes", "sim_kmeans_ivf", "grf_pagerank",
        "cur_global_shuffle", "cur_pack_sequences", "cur_length_buckets",
        "smp_temperature",
        "q26_pentomino", "q27_sudoku", "q21_db_pageview",
        "q15_partitioned_write", "src_bucketed_join", "bench_terasort_big",
        "src_mapfile_lookup", "grf_kcore", "dd_semdedup",
        "grf_hits", "grf_ppr", "smp_resample", "evt_markov_attribution",
        "evt_concurrency", "grf_walks",
        # fixture write / snapshot commits at build
        "src_parquet_stats", "src_snapshot_compact",
        "src_copybook",  # distributed fixture write action at build time
    }
    python_ok = {
        "q20_pipe_wordcount", "mm_decode_meta", "mm_resize_pixels",
        "mm_frame_sample", "mm_audio_features", "mm_augment_chain",
        "mm_video_meta", "mm_dhash_neardup", "mm_scene_cuts",
        "src_binary_files",
        "src_webdataset",  # Arrow-batched stdlib tar parse IS the point
        "mm_patch_grid",  # PNG decode + patch tiling IS the Python node
        "src_avro_roundtrip",  # pure-Python OCF decode IS the point
        "txt_udtf_ngrams",  # the UDTF surface demo IS the Python node
        "q22_pi_qmc",
        "q23_bbp_pi_digits", "bench_teragen", "bench_teragen_gensort",
        "bench_terasort_validate", "q25_random_text",
    }
    from pyspark.sql.types import DecimalType

    audited = 0
    for name, spec in REGISTRY.items():
        if name in build_time_actions:
            continue
        df = spec.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        if name not in python_ok:
            for node in ("BatchEvalPython", "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas"):
                assert node not in plan, f"{name} has unexpected Python node {node}"
        # decimals may appear INSIDE a computation but never in the OUTPUT
        # schema: pandas round-trips high-precision decimals as object-dtype
        # Decimals whose stringification varies across library versions —
        # the r7 tmp_changepoint red. The build_time_actions set is not
        # audited here.
        for f in df.schema.fields:
            assert not isinstance(f.dataType, DecimalType), (
                f"{name}.{f.name} emits {f.dataType.simpleString()} — not "
                f"hash-surface portable; emit BIGINT/DOUBLE/digit-string"
            )
        audited += 1
    assert audited >= 100, f"only {audited} queries audited"


def test_kmeans_seed_no_global_sort(spark):
    """Round-3 seeding: the seed query must be a hash-gated filter +
    TakeOrdered, never a full range-repartition sort of the corpus."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.functions import hex_hash32
    from hadoop_2_7_1_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cand = emb.filter(hex_hash32(F.col("vec_id")) % 16 == 0)
    seeds = cand.orderBy("vec_id").limit(8).select("embedding")
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_lsh_cap_single_extra_shuffle(spark):
    """The degenerate-band cap must not add a new shuffle key: every
    exchange in the candidate-pair plan hashes on the same (band, key)
    pair, so AQE/exchange-reuse keeps the extra pre-count cheap."""
    import re

    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # all hash exchanges partition on band+key (the distinct at the end adds
    # its own id_a/id_b exchange, which is expected)
    band_key_exchanges = re.findall(r"hashpartitioning\(band[^)]*key", plan)
    assert band_key_exchanges, "expected (band, key) hash exchanges"


def test_sorted_neighborhood_no_global_window(spark):
    """SNM's sliding window must partition BY the block key — a global-order
    window (empty partition spec -> Exchange SinglePartition) would pull the
    corpus through one task."""
    plan = plan_of(spark, "dd_sorted_neighborhood")
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan  # the lead() window exists, partitioned


def test_kcore_peel_step_is_semi_joins(spark):
    """One peeling round = degree agg + two semi-join filters, all
    equi-keyed (the final registered plan starts at a localCheckpoint, so
    assert the per-round shape on an uncheckpointed step)."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table

    li = load_table(spark, SF_DIR, "lineitem").limit(500)
    alive = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    keep = alive.groupBy("src").agg(F.count("*").alias("deg")).filter(
        F.col("deg") >= 2
    ).select("src")
    step = alive.join(keep, "src", "semi").join(
        keep.select(F.col("src").alias("dst")), "dst", "semi"
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan

    # and the registered query's own final plan stays cartesian-free
    assert "CartesianProduct" not in plan_of(spark, "grf_kcore")


def test_semdedup_pairwise_is_cluster_equi_join(spark):
    """SemDeDup's pairwise cosine must be an equi-join on the cluster key
    (sum(cluster^2) candidates) — never a cartesian over the corpus — and
    must carry the per-ROW norm columns so the per-pair expression is only
    the dot fold (the knn_join/hubness precompute)."""
    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.similarity import semdedup

    emb = load_table(spark, SF_DIR, "embeddings")
    out = semdedup(emb, k=4, n_iter=1, threshold=0.35)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the precomputed norms must be join INPUTS (c_nrm/q_nrm attribute refs
    # below the join), not recomputed inside the per-pair cosine expression
    assert "c_nrm#" in plan and "q_nrm#" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_partitioned's column-derived layout must buy partition PRUNING
    on read: a filter on the partition column appears as PartitionFilters
    and the scan touches only the matching directory."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table, write_partitioned

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    out = str(tmp_path / "by_priority")
    write_partitioned(orders, out, "o_orderpriority")

    back = spark.read.parquet(out).filter(F.col("o_orderpriority") == "1-URGENT")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters")[1].split("]")[0]
    n_urgent = back.count()
    assert n_urgent == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()


def test_forget_users_cascade_is_semi_joins_no_rewrite(spark):
    """The GDPR forget-users cascade must stay two semi-join key sets:
    forgotten custkeys BROADCAST into orders, affected orderkeys semi-joined
    into lineitem — never a row-wise rewrite of the fact tables. Guarded
    like the dedup shapes: the executed plan has the two LeftSemi joins and
    a broadcast, and each fact table is scanned at most twice (count +
    semi-join; a rewrite pass would add a third full scan and a write)."""
    plan = plan_of(spark, "prof_forget_users")
    assert plan.count("LeftSemi") == 2, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("lineitem.parquet") <= 2, plan
    assert plan.count("orders.parquet") <= 2, plan


def test_corr_matrix_one_scan_no_joins(spark):
    """The pairwise correlation matrix must compute every Σx, Σx², Σxy in
    ONE shared scan-and-aggregate — never one pass per pair and never a
    join: the executed plan reads lineitem exactly once, contains no join
    node, and the only exchange is the single-partition fold of the
    one-row moment aggregate."""
    plan = plan_of(spark, "prof_corr_matrix")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_k_anonymity_single_shuffle(spark):
    """The k-anonymity audit is ONE quasi-identifier groupBy; every k
    threshold folds over the resulting (tiny) group-size table. Exactly one
    keyed exchange regardless of how many k levels are reported."""
    plan = plan_of(spark, "prof_k_anonymity")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_domain_quota_partial_topk_before_shuffle(spark):
    """The per-domain quota must apply its rank cap map-side
    (WindowGroupLimit Partial) so a mega-domain ships at most `cap` rows per
    input partition into the domain shuffle."""
    plan = plan_of(spark, "cur_domain_quota")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_sequential_poisson_is_take_ordered(spark):
    """Weighted pps sample must be a global top-k, never a full sort."""
    plan = plan_of(spark, "smp_sequential_poisson")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_threshold_join_is_bucketed_equi_join(spark):
    """Range similarity join: bucket equi-join only, no all-pairs."""
    plan = plan_of(spark, "sim_threshold_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_features_single_keyed_shuffle(spark):
    """Daily agg + windows reuse ONE hashpartitioning on the key: the
    groupBy(k,d) exchange then the window's (k) exchange — no more."""
    plan = plan_of(spark, "tmp_rolling_features")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan


def test_holt_linear_no_python_and_one_shuffle(spark):
    """The fold is an in-row JVM `aggregate`, not a UDF; daily sums +
    per-key collect_list share the key, so <=2 keyed exchanges."""
    plan = plan_of(spark, "tmp_holt_linear")
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
