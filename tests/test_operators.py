"""Operator-level unit tests on tiny deterministic inputs — the analogue of
the reference's per-operator LocalJobRunner tests (SURVEY.md §5 level 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_2_7_1_spark.io import load_table, read_kv_text, write_partitioned
from hadoop_2_7_1_spark.operators import fieldsel, joins, keyfield, multimodal, partitioning
from hadoop_2_7_1_spark.operators.pipes import pipe_transform

from .conftest import SF_DIR


def test_field_spec_parsing():
    assert fieldsel.parse_field_list("6,5,1-3,0-") == [
        (6, 6),
        (5, 5),
        (1, 3),
        (0, fieldsel.OPEN_END),
    ]
    assert fieldsel.parse_spec("6,5:0-") == ([(6, 6), (5, 5)], [(0, fieldsel.OPEN_END)])


def test_field_select_open_range(spark):
    df = spark.createDataFrame([("a:b:c:d",)], ["line"])
    out = fieldsel.field_select(df, "line", "1,0:2-", sep=":").collect()[0]
    assert out["key"] == "b:a"
    assert out["value"] == "c:d"


def test_keyfield_spec():
    assert keyfield.parse_sort_spec("2nr,1n") == [(2, True, True), (1, True, False)]
    with pytest.raises(ValueError):
        keyfield.parse_sort_spec("x2")


def test_override_join_rightmost_wins(spark):
    a = spark.createDataFrame([(1, "a1"), (2, "a2")], ["k", "v"])
    b = spark.createDataFrame([(2, "b2"), (3, "b3")], ["k", "v"])
    out = {r["k"]: r["value"] for r in joins.override_join([a, b], "k", "v").collect()}
    assert out == {1: "a1", 2: "b2", 3: "b3"}


def test_global_rank_is_dense_and_ordered(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_linenumber")
    ranked = partitioning.global_sort_with_rank(li, ["l_orderkey", "l_linenumber"], num_partitions=8)
    rows = ranked.orderBy("rank").collect()
    n = li.count()
    assert [r["rank"] for r in rows] == list(range(1, n + 1))
    keys = [(r["l_orderkey"], r["l_linenumber"]) for r in rows]
    assert keys == sorted(keys)


def test_hash_sample_deterministic(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    a = partitioning.hash_sample(li, "l_orderkey", 10).count()
    b = partitioning.hash_sample(li, "l_orderkey", 10).count()
    assert a == b
    assert 0 < a < li.count()


def test_pipe_transform_round_trip(spark):
    df = spark.createDataFrame([("x", 1), ("y", 2)], ["k", "v"])
    out = pipe_transform(df, ["cat"], input_cols=["k", "v"])
    got = {(r["key"], r["value"]) for r in out.collect()}
    assert got == {("x", "1"), ("y", "2")}


def test_pipe_transform_failure_raises(spark):
    df = spark.createDataFrame([("x",)], ["k"])
    with pytest.raises(Exception):
        pipe_transform(df, ["false"]).collect()


def test_read_kv_text(tmp_path, spark):
    p = tmp_path / "kv.txt"
    p.write_text("a\t1\nnokey\nb\t2\textra\n")
    rows = {(r["key"], r["value"]) for r in read_kv_text(spark, str(p)).collect()}
    assert rows == {("a", "1"), ("nokey", ""), ("b", "2\textra")}


def test_write_partitioned_layout(tmp_path, spark):
    li = load_table(spark, SF_DIR, "lineitem").limit(100)
    out = str(tmp_path / "out")
    write_partitioned(li, out, "l_returnflag")
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("l_returnflag=")}
    flags = {r["l_returnflag"] for r in li.select("l_returnflag").distinct().collect()}
    assert dirs == {f"l_returnflag={f}" for f in flags}


def test_image_header_parser_real_formats():
    """The parser reads genuine format bytes: round-trip every builder, and
    reject garbage."""
    cases = [
        (multimodal.make_png, "png"),
        (multimodal.make_gif, "gif"),
        (multimodal.make_jpeg, "jpeg"),
    ]
    for make, fmt in cases:
        blob = make(640, 480)
        assert multimodal.parse_image_header(blob) == (fmt, 640, 480), fmt
    # JPEG with padding segments before SOF0 (APP0 + comment) still parses
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    jpeg = b"\xff\xd8" + app0 + multimodal.make_jpeg(123, 45)[2:]
    assert multimodal.parse_image_header(jpeg) == ("jpeg", 123, 45)
    assert multimodal.parse_image_header(b"not an image") == (None, None, None)
    assert multimodal.parse_image_header(b"") == (None, None, None)
    # BMP: BITMAPINFOHEADER with negative (top-down) height normalizes
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 320, -200) + b"\x00" * 4
    assert multimodal.parse_image_header(bmp) == ("bmp", 320, 200)


def test_multimodal_decode_deterministic(spark):
    import hashlib

    docs = load_table(spark, SF_DIR, "documents").limit(5)
    media = multimodal.documents_as_media(docs)
    out = {r["media_id"]: (r["n_bytes"], r["width"], r["height"], r["fmt"]) for r in
           multimodal.decode_image_meta(media).collect()}
    sizes = {0: 45, 1: 14, 2: 17}
    fmts = {0: "png", 1: "gif", 2: "jpeg"}
    for r in docs.collect():
        h = hashlib.md5(r["text"].encode()).hexdigest()
        expect = (
            sizes[r["doc_id"] % 3],
            64 + int(h[:8], 16) % 512,
            64 + int(h[8:16], 16) % 512,
            fmts[r["doc_id"] % 3],
        )
        assert out[r["doc_id"]] == expect


def test_video_frame_sampling_real_gif(spark):
    """sample_video_frames is a REAL decode path now: animated GIFs are
    LZW-decoded frame by frame, every Nth frame re-encoded as PNG; pixel
    bytes must round-trip exactly."""
    w, h, n_frames = 9, 6, 6

    def frame(k):
        return bytes((x * 3 + y * 5 + k * 17) % 256 for y in range(h) for x in range(w))

    rows = [
        (mid, bytearray(multimodal.make_gif_animated(
            [frame(k + mid) for k in range(n_frames)], w, h)))
        for mid in (0, 1)
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = multimodal.sample_video_frames(media, every_n=2).collect()

    assert {(r.media_id, r.frame_idx) for r in out} == {
        (0, 0), (0, 2), (0, 4), (1, 0), (1, 2), (1, 4)
    }
    for r in out:
        assert (r.width, r.height) == (w, h)
        dw, dh, ch, px = multimodal.png_decode(bytes(r.frame_png))
        assert (dw, dh, ch) == (w, h, 1)
        assert bytes(px) == frame(r.frame_idx + r.media_id)

    # non-GIF blobs contribute zero rows, cleanly
    junk = spark.createDataFrame(
        [(9, bytearray(b"not a gif"))], "media_id long, content binary"
    )
    assert multimodal.sample_video_frames(junk, 2).count() == 0


def test_png_codec_roundtrip_and_filters():
    """Pure-stdlib PNG codec: encode->decode round-trip, plus decode of
    streams using every spec filter type (Sub/Up/Average/Paeth), built
    by hand-filtering known pixels."""
    import struct
    import zlib

    w, h, ch = 5, 4, 3
    px = bytes((x * 31 + y * 7 + c * 3) % 256 for y in range(h) for x in range(w) for c in range(ch))
    blob = multimodal.png_encode(w, h, ch, px)
    assert multimodal.parse_image_header(blob) == ("png", w, h)
    dw, dh, dch, dpx = multimodal.png_decode(blob)
    assert (dw, dh, dch, bytes(dpx)) == (w, h, ch, px)

    # hand-filter each row with a different filter type, rebuild the stream
    stride = w * ch
    rows = [bytearray(px[y * stride:(y + 1) * stride]) for y in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytearray(stride)
    for y, ftype in zip(range(h), (1, 2, 3, 4)):
        line = rows[y]
        enc = bytearray(stride)
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                enc[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            else:
                enc[i] = (line[i] - paeth(a, b, c)) & 0xFF
        raw.append(ftype)
        raw += enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    out = [b"\x89PNG\r\n\x1a\n"]
    for typ, data in ((b"IHDR", ihdr), (b"IDAT", zlib.compress(bytes(raw))), (b"IEND", b"")):
        out += [struct.pack(">I", len(data)), typ, data,
                struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)]
    filtered_blob = b"".join(out)
    fw, fh, fch, fpx = multimodal.png_decode(filtered_blob)
    assert (fw, fh, fch, bytes(fpx)) == (w, h, ch, px)


def test_png_resize_nearest_neighbor():
    """Resize halves a gradient exactly per nearest-neighbor arithmetic."""
    src = multimodal.make_png_with_pixels(8, 8, seed=3)
    resized = multimodal.png_resize(src, 4, 4)
    assert multimodal.parse_image_header(resized) == ("png", 4, 4)
    _, _, ch, px = multimodal.png_decode(resized)
    for y in range(4):
        sy = y * 8 // 4
        for x in range(4):
            sx = x * 8 // 4
            got = px[(y * 4 + x) * 3:(y * 4 + x) * 3 + 3]
            expect = bytes(((sx * 7 + 3) % 256, (sy * 11 + 9) % 256, (sx + sy + 15) % 256))
            assert bytes(got) == expect
    # non-PNG input passes through as None
    assert multimodal.png_resize(b"not an image", 4, 4) is None


def test_sort_validator_invariants(spark):
    """SortValidator.RecordStatsChecker semantics (JTT/mapred/SortValidator.java:97):
    a sort must preserve (record count, xor-of-record-checksums) and produce
    globally ordered output. Level-3 self-validating pipeline on q11's sort."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    sorted_df = li.orderBy("l_orderkey", "l_linenumber")

    def stats(df):
        return df.agg(
            F.count("*").alias("n"),
            F.expr(
                "bit_xor(crc32(cast(concat_ws('|', l_orderkey, l_linenumber, l_quantity) as binary)))"
            ).alias("xor_crc"),
        ).collect()[0]

    s_in, s_out = stats(li), stats(sorted_df)
    assert s_in.n == s_out.n
    assert s_in.xor_crc == s_out.xor_crc
    # global order: partition-local order + non-overlapping partition ranges
    pdf = sorted_df.select("l_orderkey").toPandas()
    assert (pdf["l_orderkey"].diff().dropna() >= 0).all()


def test_multifile_wordcount(spark, tmp_path):
    """MultiFileWordCount (EX/MultiFileWordCount.java:59): wordcount over many
    small files; Spark's file source bin-packs them into few splits
    (CombineFileInputFormat equivalence via openCostInBytes)."""
    from pyspark.sql import functions as F

    words = ["alpha", "beta", "gamma"]
    for i in range(20):
        (tmp_path / f"part{i:02d}.txt").write_text(f"{words[i % 3]} {words[(i + 1) % 3]}\n")
    # The packing knobs (≈ CombineFileInputFormat's maxSplitSize): on a
    # cluster the defaults already pack small files; local[32] pins
    # minPartitionNum to core count, so set the intent explicitly.
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "16")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        df = spark.read.text(str(tmp_path))
        # 20 tiny files must coalesce into far fewer read partitions
        assert df.rdd.getNumPartitions() < 20
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
        spark.conf.unset("spark.sql.files.minPartitionNum")
    counts = {
        r.word: r.cnt
        for r in df.select(F.explode(F.split("value", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert sum(counts.values()) == 40 and set(counts) == set(words)


def test_binary_partition(spark):
    """BinaryPartitioner: rows with equal key slices land in one partition."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.partitioning import binary_partition

    df = spark.range(1000).select(
        F.concat(F.lit("pre_"), (F.col("id") % 7).cast("string"), F.lit("_suf")).alias("k")
    )
    # slice bytes [4, -5] -> the middle digit: 7 groups across 4 partitions
    out = binary_partition(df, "k", 4, left_offset=4, right_offset=-5)
    assert out.rdd.getNumPartitions() == 4
    parts = (
        out.select("k", F.spark_partition_id().alias("p"))
        .groupBy(F.substring("k", 5, 1).alias("mid"))
        .agg(F.countDistinct("p").alias("np"))
        .collect()
    )
    assert all(r.np == 1 for r in parts)


def test_grouped_agg_udaf(spark):
    """Custom UDAF (combiner surface): geometric mean per key via pandas
    GROUPED_AGG, compared against the closed-form JVM expression."""
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.aggregates import grouped_agg_udaf

    @grouped_agg_udaf("double")
    def geo_mean(v):
        return float(np.exp(np.log(v).mean()))

    df = spark.range(1, 1001).select(
        (F.col("id") % 5).alias("k"), (F.col("id") + 0.5).alias("v")
    )
    got = {r.k: r.g for r in df.groupBy("k").agg(geo_mean("v").alias("g")).collect()}
    want = {
        r.k: r.g
        for r in df.groupBy("k").agg(F.exp(F.avg(F.log("v"))).alias("g")).collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_with_counters(spark):
    """Hadoop-counter analogue: observe() metrics collected by the action."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.functions import with_counters
    from hadoop_2_7_1_spark.io import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    observed, obs = with_counters(
        li,
        F.count(F.lit(1)).alias("input_records"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("high_discount"),
    )
    n_out = observed.filter(F.col("l_quantity") > 25).count()
    assert obs.get["input_records"] == li.count()
    assert 0 < obs.get["high_discount"] < li.count()
    assert 0 < n_out < li.count()


def test_connected_components_shapes(spark):
    """Chain, triangle, and isolated pair all collapse to min-id components."""
    from hadoop_2_7_1_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                     # pair
        ["id_a", "id_b"],
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing makes a repeated fact-fact join shuffle-free, proven on the
    plan: two tables bucketed on the join key sort-merge-join with NO
    shuffle exchange (the reference's
    CompositeInputFormat precondition — identical partitioning + sort —
    made durable via bucketBy)."""
    from pyspark.sql import functions as F

    a = spark.range(10000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(10000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact-fact (sort-merge) path: tiny test tables would
        # otherwise broadcast, which sidesteps what we're proving
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        a.write.bucketBy(8, "k").sortBy("k").option("path", str(tmp_path / "ta")).saveAsTable("bkt_a")
        b.write.bucketBy(8, "k").sortBy("k").option("path", str(tmp_path / "tb")).saveAsTable("bkt_b")
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_redact_pii(spark):
    """Redaction on synthetic PII (the test corpus has none — the registry
    query txt_redact proves parity, this proves the behavior)."""
    from hadoop_2_7_1_spark.operators.textops import redact

    df = spark.createDataFrame(
        [
            ("contact me at jane.doe+spam@example.co.uk thanks",),
            ("call +1 555-867-5309 or 555 123 4567",),
            ("ssn 123-45-6789 inline",),
            ("nothing sensitive here",),
        ],
        ["text"],
    )
    out = [r.clean for r in df.select(redact("text").alias("clean")).collect()]
    assert out[0] == "contact me at [EMAIL] thanks"
    assert "[PHONE]" in out[1] and "5309" not in out[1] and "4567" not in out[1]
    assert out[2] == "ssn [SSN] inline"
    assert out[3] == "nothing sensitive here"


def test_knn_join_multiprobe_recall(spark):
    """Hamming-1 multi-probe must recover neighbors that single-bucket
    probing loses at quantization boundaries, and get close to exact."""
    from hadoop_2_7_1_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.q_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=2).collect()
    }
    single = {
        (r.q_id, r.vec_id)
        for r in similarity.ivf_topk(emb, queries, k=2, bucket_dims=6).collect()
    }
    multi = {
        (r.q_id, r.vec_id)
        for r in similarity.knn_join(queries, emb, k=2, bucket_dims=6).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    # the driver's synthetic embeddings are near-uniform random, the hardest
    # case for any LSH: absolute recall is inherently modest, but widening
    # the probe set must never lose candidates and must find *something*
    # (any multi-probe candidate beating exact rank-k must itself be in the
    # exact top-k, so widening probes can only improve recall)
    assert recall_multi >= recall_single
    assert recall_multi > 0


def test_simhash_topk_recall_beats_multiprobe(spark):
    """The r11 serving path (full-width SimHash prefilter + exact re-rank,
    auto budget) must clear the recall floor the bucket multi-probe path
    misses — the VERDICT r10 #3 fix, unit-sized."""
    from hadoop_2_7_1_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % similarity.derive_query_stride(n) == 0)
    exact = {
        (r.q_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    sim = {
        (r.q_id, r.vec_id)
        for r in similarity.simhash_topk(emb, queries, k=10).collect()
    }
    multi = {
        (r.q_id, r.vec_id)
        for r in similarity.knn_join(queries, emb, k=10).collect()
    }
    recall_sim = len(sim & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_sim >= 0.5, f"serving-path recall floor missed: {recall_sim}"
    assert recall_sim > recall_multi


def test_simhash_signature_matches_python_bit_packing(spark):
    """SIG_HI/SIG_LO fold exact sign bits: verify against a pure-Python
    packing of the same vectors (hi = dims 1..32 MSB-first, lo = 33..64),
    including a short (<64-dim) vector whose missing tail packs as 0."""
    from hadoop_2_7_1_spark.operators.similarity import SIG_HI, SIG_LO

    vecs = [
        [1.0] * 64,
        [-1.0] * 64,
        [(1.0 if i % 3 else -1.0) for i in range(64)],
        [0.0, -0.5, 2.5],  # short vector: dims 4..64 absent -> 0 bits
    ]
    df = spark.createDataFrame([(v,) for v in vecs], ["embedding"])
    got = df.select(
        F.expr(SIG_HI.format(v="embedding")).alias("hi"),
        F.expr(SIG_LO.format(v="embedding")).alias("lo"),
    ).collect()

    def pack(vec, lo_half):
        base = 32 if lo_half else 0
        acc = 0
        for i in range(32):
            acc = acc * 2 + (
                1 if base + i < len(vec) and vec[base + i] >= 0 else 0
            )
        return acc

    for row, v in zip(got, vecs):
        assert row.hi == pack(v, False)
        assert row.lo == pack(v, True)


def test_retrieval_quality_metrics(spark):
    """recall/nDCG invariants: bounded in [0,1]; a retriever that returns
    the EXACT top-k (bucket_dims=0 degenerates every probe to one global
    bucket = brute force) must score recall=1 and ndcg=1 on every query;
    the real bucketed retriever never exceeds it."""
    from hadoop_2_7_1_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # dims=1: two buckets + 1 flip probe = candidate set IS the corpus,
    # so the retriever ranking equals the exact ranking
    perfect = similarity.retrieval_quality(
        emb, queries, k=3, bucket_dims=1
    ).collect()
    assert perfect and all(r.recall == 1.0 and r.ndcg == 1.0 for r in perfect)
    real = similarity.retrieval_quality(emb, queries, k=3, bucket_dims=6).collect()
    assert {r.q_id for r in real} == {r.q_id for r in perfect}
    for r in real:
        assert 0.0 <= r.recall <= 1.0 and 0.0 <= r.ndcg <= 1.0
        assert r.n_hit <= r.n_exact == 3
        # ndcg and recall must agree on emptiness and perfection
        assert (r.ndcg == 0.0) == (r.n_hit == 0)
        if r.ndcg == 1.0:
            assert r.recall == 1.0


# ---------------------------------------------------------------------------
# CompositeInputFormat expression DSL (operators/compose.py)
# ---------------------------------------------------------------------------


def test_compose_parser_tree():
    from hadoop_2_7_1_spark.operators.compose import Composite, Tbl, parse_join_expr

    t = parse_join_expr('outer(inner(tbl(parquet,"/a"),tbl(csv,/b)),tbl(json,"/c,d"))')
    assert isinstance(t, Composite) and t.verb == "outer"
    inner, leaf = t.children
    assert inner == Composite("inner", (Tbl("parquet", "/a"), Tbl("csv", "/b")))
    assert leaf == Tbl("json", "/c,d")  # quoted path may contain commas


def test_compose_parser_rejects_garbage():
    from hadoop_2_7_1_spark.operators.compose import parse_join_expr

    for bad in (
        "frobnicate(tbl(parquet,/a),tbl(parquet,/b))",  # unknown verb
        "inner(tbl(parquet,/a))",                        # arity < 2
        "inner(tbl(parquet,/a),tbl(parquet,/b)",         # unbalanced
        "inner(tbl(parquet,/a),tbl(parquet,/b)) extra",  # trailing input
    ):
        with pytest.raises(ValueError):
            parse_join_expr(bad)


def test_compose_matches_join_functions(spark, tmp_path):
    from hadoop_2_7_1_spark.operators.compose import compose

    a = spark.createDataFrame([(1, "a1"), (2, "a2"), (3, "a3")], ["k", "va"])
    b = spark.createDataFrame([(2, "b2"), (3, "b3"), (4, "b4")], ["k", "vb"])
    c = spark.createDataFrame([(3, "c3"), (5, "c5")], ["k", "vc"])
    pa, pb, pc = (str(tmp_path / n) for n in "abc")
    a.write.parquet(pa), b.write.parquet(pb), c.write.parquet(pc)

    got = compose(spark, f"inner(tbl(parquet,{pa}),tbl(parquet,{pb}))", key="k")
    assert {(r.k, r.va, r.vb) for r in got.collect()} == {(2, "a2", "b2"), (3, "a3", "b3")}

    # nested composite: (a inner b) outer c — any source of the outer has key
    got = compose(
        spark, f"outer(inner(tbl(parquet,{pa}),tbl(parquet,{pb})),tbl(parquet,{pc}))", key="k"
    )
    rows = {r.k: (r.va, r.vb, r.vc) for r in got.collect()}
    assert rows == {
        2: ("a2", "b2", None),
        3: ("a3", "b3", "c3"),
        5: (None, None, "c5"),
    }


def test_compose_override_rightmost_wins(spark, tmp_path):
    from hadoop_2_7_1_spark.operators.compose import compose

    a = spark.createDataFrame([(1, "old1"), (2, "old2")], ["k", "v"])
    b = spark.createDataFrame([(2, "new2"), (3, "new3")], ["k", "v"])
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(pa), b.write.parquet(pb)
    got = compose(
        spark, f"override(tbl(parquet,{pa}),tbl(parquet,{pb}))", key="k", value_col="v"
    )
    assert {(r.k, r.v) for r in got.collect()} == {(1, "old1"), (2, "new2"), (3, "new3")}


# ---------------------------------------------------------------------------
# Corpus hygiene: repetition, decontamination, mixture sampling
# ---------------------------------------------------------------------------


def test_repetition_stats_flags_repeats(spark):
    from hadoop_2_7_1_spark.operators.textops import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham"),  # one bigram dominates
            (2, "all words here are fully distinct tokens"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.id: r for r in repetition_stats(df).collect()}
    assert rows[1].top_ngram_frac > 0.8  # "spam ham" covers almost everything
    assert rows[2].dup_ngram_frac == 0.0
    assert rows[2].distinct_word_frac == 1.0
    assert rows[1].distinct_word_frac == 2 / 8


def test_contamination_inverted_index(spark):
    from hadoop_2_7_1_spark.operators.textops import contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated content with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(99, "we ask about the quick brown fox jumps over questions")],
        ["doc_id", "text"],
    )
    hits = {r.id: r.n_hits for r in contamination(train, bench).collect()}
    assert 1 in hits and 2 not in hits  # doc 1 shares "the quick brown fox jumps"


def test_sample_mixture_proportions(spark):
    from hadoop_2_7_1_spark.operators.sampling import sample_mixture

    df = spark.range(3000).selectExpr(
        "id AS doc_id", "concat('s', CAST(id % 3 AS STRING)) AS source"
    )  # 1000 rows per source
    kept = sample_mixture(df, {"s0": 0.6, "s1": 0.3, "s2": 0.1})
    counts = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # T = min(1000/0.6, ...) = 1666.7 -> targets 1000 / 500 / 166.7: the
    # most-constrained source (s0) survives whole, others hash-sample to share
    assert counts["s0"] == 1000
    assert abs(counts["s1"] - 500) < 80
    assert abs(counts["s2"] - 167) < 50
    # deterministic: rerun selects identical rows
    again = sample_mixture(df, {"s0": 0.6, "s1": 0.3, "s2": 0.1})
    assert {r.doc_id for r in kept.collect()} == {r.doc_id for r in again.collect()}


def test_salted_join_matches_plain_join(spark):
    from hadoop_2_7_1_spark.operators.skew import salted_join

    # hot key: 90% of the big side is one key
    big = spark.range(10_000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 7 END AS k", "id AS v"
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(7)], ["k", "name"]
    )
    got = salted_join(big, small, "k").groupBy("k", "name").count()
    want = big.join(small, "k").groupBy("k", "name").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # left join keeps unmatched big-side rows exactly once
    got_l = salted_join(big, small, "k", how="left").count()
    assert got_l == big.join(small, "k", "left").count()


def test_kmeans_fit_and_ivf(spark):
    """Trained-centroid IVF: centroids must actually be means of their
    members, assignment must be the true argmin, and nprobe=2 recall must
    beat the single-cell probe."""
    from hadoop_2_7_1_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.kmeans_fit(emb, k=4, n_iter=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)

    assigned = similarity.assign_clusters(emb, cents).cache()
    n_total = emb.count()
    assert assigned.count() == n_total
    # every row's cluster is the argmin over the centroid set (driver check
    # on a sample)
    import numpy as np

    ca = np.array(cents)
    for r in assigned.limit(50).collect():
        v = np.array(r.embedding, dtype=np.float64)
        d = ((ca - v) ** 2).sum(axis=1)
        assert r.cluster == int(d.argmin())

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.q_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=2).collect()
    }
    got1 = {
        (r.q_id, r.vec_id)
        for r in similarity.kmeans_ivf_topk(emb, queries, cents, k=2, nprobe=1).collect()
    }
    got2 = {
        (r.q_id, r.vec_id)
        for r in similarity.kmeans_ivf_topk(emb, queries, cents, k=2, nprobe=2).collect()
    }
    r1 = len(got1 & exact) / len(exact)
    r2 = len(got2 & exact) / len(exact)
    assert r2 >= r1
    assert r2 > 0
    assigned.unpersist()


def test_kmeans_assignment_is_map_only(spark):
    """The assignment pass must not shuffle: centroids ride in the plan."""
    from hadoop_2_7_1_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.kmeans_fit(emb, k=4, n_iter=1)
    plan = similarity.assign_clusters(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_pack_sequences_matches_global_window(spark):
    """Two-phase packing must equal the naive global-window computation,
    and the big-side window must be partitioned (no full-data funnel)."""
    from hadoop_2_7_1_spark.operators.packing import pack_sequences
    from pyspark.sql import Window

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 * 13 + 1).alias("n_tokens")
    )
    got = pack_sequences(docs, seq_len=256, num_partitions=8)

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = docs.select(
        "doc_id",
        F.col("n_tokens").cast("bigint"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint").alias("start_offset"),
    ).selectExpr(
        "doc_id", "n_tokens", "start_offset",
        "CAST(start_offset DIV 256 AS BIGINT) AS seq_first",
        "CAST((start_offset + greatest(n_tokens - 1, 0L)) DIV 256 AS BIGINT) AS seq_last",
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))

    # zero-token docs keep seq_last == seq_first
    z = spark.createDataFrame([(0, 5), (1, 0), (2, 3)], ["doc_id", "n_tokens"])
    rows = {r.doc_id: r for r in pack_sequences(z, seq_len=4, num_partitions=2).collect()}
    assert rows[1].seq_first == rows[1].seq_last

    # scale guard: the data-bearing window partitions by __pid; the only
    # SinglePartition exchange allowed feeds the per-partition size rows
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in plan, plan


def test_chunk_dedup_first_occurrence_wins(spark):
    from hadoop_2_7_1_spark.operators.dedup import chunk_dedup

    shared = " ".join(f"w{i}" for i in range(20))  # one full shared chunk
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(5))  # partial tail chunk
    df = spark.createDataFrame(
        [
            (1, shared + " " + uniq_a),  # chunks: [shared, uniq_a]
            (2, shared + " " + uniq_b),  # chunks: [shared(dup), uniq_b]
            (3, shared),                 # chunks: [shared(dup)]
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in chunk_dedup(df, chunk_tokens=20).collect()}
    assert rows[1].n_chunks == 2 and rows[1].n_dup_chunks == 0 and rows[1].tokens_kept == 40
    assert rows[2].n_chunks == 2 and rows[2].n_dup_chunks == 1 and rows[2].tokens_kept == 5
    assert rows[3].n_chunks == 1 and rows[3].n_dup_chunks == 1 and rows[3].tokens_kept == 0


def test_tfidf_and_bm25_basics(spark):
    from hadoop_2_7_1_spark.operators.textops import bm25_scores, tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    top = {(r.doc_id, r.rnk): r for r in tfidf_top_terms(df, k=1).collect()}
    # the rarest in-doc term wins: 'apple' (df=1, tf=2) for doc 1
    assert top[(1, 1)].term == "apple" and top[(1, 1)].df == 1 and top[(1, 1)].tf == 2
    # ubiquitous terms get idf ln(1)=0 when df == N
    import math

    all_rows = tfidf_top_terms(df, k=10).collect()
    for r in all_rows:
        if r.df == 3:
            assert math.isclose(r.tfidf, 0.0)

    scores = {r.doc_id: r.score_bm25 for r in bm25_scores(df, ["cherry"]).collect()}
    assert set(scores) == {2, 3}  # only docs containing the query term
    assert scores[3] > scores[2]  # higher tf wins at comparable length


def test_merge_changelog_semantics(spark):
    from hadoop_2_7_1_spark.operators.cdc import merge_changelog

    base = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    changes = spark.createDataFrame(
        [
            (1, 11.0, False, 1),  # superseded update
            (1, 12.0, False, 2),  # winning update
            (2, 0.0, True, 1),    # delete base key
            (4, 40.0, False, 1),  # insert new key
            (5, 0.0, True, 1),    # delete nonexistent key -> no row
        ],
        ["k", "v", "is_del", "seq"],
    )
    rows = {r.k: r for r in merge_changelog(base, changes, "k", ["seq"], "v", "is_del").collect()}
    assert set(rows) == {1, 3, 4}
    assert rows[1].v == 12.0 and rows[1].src == "updated"
    assert rows[3].v == 30.0 and rows[3].src == "kept"
    assert rows[4].v == 40.0 and rows[4].src == "inserted"


def test_kmv_sketch_accuracy_and_merge(spark):
    from hadoop_2_7_1_spark.operators.sketches import kmv_distinct, merge_kmv, _frac

    # 2000 distinct values in one group, k=64: expect ~12% relative error
    df = spark.range(2000).selectExpr("'g' AS g", "CAST(id AS STRING) AS v")
    row = kmv_distinct(df, "g", "v", k=64).collect()[0]
    assert row.n_exact == 2000 and row.n_seen == 64
    assert abs(row.kmv_estimate - 2000) / 2000 < 0.35  # 1/sqrt(62) ~ 13% sd

    # small group is exact
    small = spark.range(10).selectExpr("'s' AS g", "CAST(id AS STRING) AS v")
    r2 = kmv_distinct(small, "g", "v", k=64).collect()[0]
    assert r2.kmv_estimate == 10.0 and r2.n_seen == 10

    # mergeability: sketch(all) == merge(sketch(half1), sketch(half2))
    fr = df.select(_frac("v").alias("f")).collect()
    fracs = sorted(r.f for r in fr)
    whole = fracs[:64]
    h1, h2 = sorted(fracs[i] for i in range(0, 2000, 2)), sorted(
        fracs[i] for i in range(1, 2000, 2)
    )
    assert merge_kmv([h1[:64], h2[:64]], 64) == whole


def test_concurrency_curve_sweepline(spark):
    """Concurrency must rise on starts, fall on finishes, and end at zero."""
    from hadoop_2_7_1_spark.operators.loadmodel import concurrency_curve

    trace = spark.createDataFrame(
        [
            (1, "2020-01-01 10:00:00", "2020-01-02 10:00:00"),
            (2, "2020-01-01 11:00:00", "2020-01-03 11:00:00"),
            (3, "2020-01-02 09:00:00", "2020-01-02 23:00:00"),
        ],
        ["job_id", "submit_ts", "finish_ts"],
    ).selectExpr(
        "job_id",
        "CAST(submit_ts AS TIMESTAMP) AS submit_ts",
        "CAST(finish_ts AS TIMESTAMP) AS finish_ts",
    )
    rows = {str(r.bucket_ts)[:10]: r for r in concurrency_curve(trace).collect()}
    assert rows["2020-01-01"].n_start == 2 and rows["2020-01-01"].concurrency_eob == 2
    assert rows["2020-01-02"].n_start == 1 and rows["2020-01-02"].n_end == 2
    assert rows["2020-01-02"].concurrency_eob == 1
    assert rows["2020-01-03"].concurrency_eob == 0  # all jobs drained


def test_incremental_ingest_semantics(spark):
    from hadoop_2_7_1_spark.operators.dedup import incremental_ingest

    span = " ".join(f"s{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [(100, span + " " + " ".join(f"c{i}" for i in range(20)))],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame(
        [
            (1, span + " " + " ".join(f"c{i}" for i in range(20))),  # exact dup
            (2, span + " " + " ".join(f"n{i}" for i in range(20))),  # 50% known
            (3, " ".join(f"x{i}" for i in range(40))),               # fresh
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in incremental_ingest(delta, corpus).collect()}
    assert rows[1].exact_dup and not rows[1].kept
    assert not rows[2].exact_dup and rows[2].n_known == 1 and not rows[2].kept
    assert rows[3].n_known == 0 and rows[3].kept


def test_incremental_lsh_semantics(spark):
    """Near-dup admission: an identical-text delta doc must collide with
    the corpus index on EVERY band; two identical delta docs resolve by
    first-writer-wins (smaller id kept); fresh text passes clean."""
    from hadoop_2_7_1_spark.operators.dedup import incremental_lsh

    base = " ".join(f"w{i}" for i in range(30))
    fresh_a = " ".join(f"y{i}" for i in range(30))
    fresh_b = " ".join(f"z{i}" for i in range(30))
    corpus = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    delta = spark.createDataFrame(
        [
            (1, base),      # identical to corpus doc -> every band collides
            (2, fresh_a),   # fresh, but duplicated by 3
            (3, fresh_a),   # intra-delta dup of 2 -> dropped, 2 kept
            (4, fresh_b),   # fresh and unique -> kept
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in incremental_lsh(delta, corpus).collect()}
    assert rows[1].n_corpus_hits == rows[1].n_bands and not rows[1].kept
    assert rows[2].n_corpus_hits == 0 and not rows[2].delta_dup and rows[2].kept
    assert rows[3].delta_dup and not rows[3].kept
    assert rows[4].n_corpus_hits == 0 and not rows[4].delta_dup and rows[4].kept


def test_pagerank_invariants(spark):
    from hadoop_2_7_1_spark.operators.graph import pagerank

    # 4-cycle: perfectly symmetric -> uniform ranks summing to 1
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"]
    )
    rows = pagerank(edges, iterations=5).collect()
    assert len(rows) == 4
    total = sum(r.rank_pr for r in rows)
    assert abs(total - 1.0) < 1e-9
    for r in rows:
        assert abs(r.rank_pr - 0.25) < 1e-12

    # star: hub collects more rank than leaves (undirected star)
    star = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    sdf = spark.createDataFrame(star, ["src", "dst"])
    ranks = {r.node: r.rank_pr for r in pagerank(sdf, iterations=3).collect()}
    assert ranks[0] > max(ranks[i] for i in range(1, 6))

    # no node at all: a clear error, not a division by zero
    with pytest.raises(ValueError, match="edge list is empty"):
        pagerank(edges.limit(0))


def test_encode_ids_order_and_oov(spark):
    from hadoop_2_7_1_spark.operators.textops import encode_ids

    import hashlib

    docs = spark.createDataFrame([(1, "a b a z")], ["doc_id", "text"])
    vocab = spark.createDataFrame(
        [("a", 0), ("b", 1)], ["token", "token_id"]
    )
    row = encode_ids(docs, vocab).collect()[0]
    # stream 'a b a z' -> ids 0,1,0,-1 in order
    assert row.n_ids == 4
    assert row.ids_md5 == hashlib.md5(b"0,1,0,-1").hexdigest()


def test_funnel_ordering_strictness(spark):
    from hadoop_2_7_1_spark.operators.funnel import funnel

    rows = [
        # u1 completes in order
        (1, "view", "2020-01-01 10:00:00"),
        (1, "click", "2020-01-01 10:05:00"),
        (1, "purchase", "2020-01-01 10:10:00"),
        # u2 clicks BEFORE viewing: click must not count
        (2, "click", "2020-01-01 09:00:00"),
        (2, "view", "2020-01-01 10:00:00"),
        # u3 views only
        (3, "view", "2020-01-01 08:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {r.stage: r.n_users for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out == {1: 3, 2: 1, 3: 1}


def test_temperature_resample_rates(spark):
    from hadoop_2_7_1_spark.operators.sampling import temperature_resample

    # 900 'big' vs 100 'small': alpha=0.5 upweights the rare domain 3:1
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CASE WHEN id < 900 THEN 'big' ELSE 'small' END AS source"
    )
    out = temperature_resample(df)
    counts = {r.source: r.cnt
              for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    # expected rates: w_big = 30/(30+10)=0.75 -> 750 rows; w_small = 0.25 -> 250
    assert abs(counts["big"] - 750) < 40
    assert abs(counts["small"] - 250) < 40
    # rare domain replicated with replacement: copies beyond 0 exist
    assert out.filter((F.col("source") == "small") & (F.col("copy") > 0)).count() > 0
    # deterministic: identical on rerun
    again = temperature_resample(df)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_dsir_importance_ranks_target_vocabulary_first(spark):
    from hadoop_2_7_1_spark.operators.sampling import dsir_importance

    # target docs (is_t) speak 'alpha'; the raw remainder speaks 'omega'.
    # Held-out docs in the target vocabulary must outrank out-of-target docs.
    rows = (
        [(i, "alpha " * 20, True) for i in range(10)]
        + [(100 + i, "omega " * 20, False) for i in range(10)]
        + [(200, "alpha alpha alpha", False), (201, "omega omega omega", False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = dsir_importance(df, F.col("is_t"))
    w = {r.id: r.dsir_logweight for r in out.collect()}
    assert w[200] > 0 > w[201]
    # weight scales with token count, tie-broken deterministically
    assert w[0] > w[200]
    # rerun is bit-identical (integer micro-unit accumulation)
    again = {r.id: r.dsir_logweight for r in
             dsir_importance(df, F.col("is_t")).collect()}
    assert w == again


# ---------------------------------------------------------------------------
# Round-2 sketches and graph structure
# ---------------------------------------------------------------------------


def test_cms_estimate_is_one_sided_and_mergeable(spark):
    from hadoop_2_7_1_spark.operators.sketches import cms_cells, cms_heavy_hitters

    df = spark.createDataFrame(
        [(i % 7,) for i in range(200)] + [(99,)] * 50, "k int"
    )
    hh = cms_heavy_hitters(df, "k", threshold=1, depth=4, width=32).collect()
    assert len(hh) == 8  # every key probed, threshold 1 keeps all
    for r in hh:
        assert r.cms_est >= r.n_exact  # CMS error is strictly one-sided
    big = {r.key: r for r in hh}[99]
    assert big.n_exact == 50

    # Mergeability: cells(shard1) + cells(shard2), summed, == cells(union).
    rows = [(i % 7,) for i in range(200)] + [(99,)] * 50
    s1 = spark.createDataFrame(rows[:100], "k int")
    s2 = spark.createDataFrame(rows[100:], "k int")
    from pyspark.sql import functions as F

    merged = (
        cms_cells(s1, "k", 4, 32).union(cms_cells(s2, "k", 4, 32))
        .groupBy("j", "col").agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_cells(df, "k", 4, 32)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_bloom_no_false_negatives_and_plan_is_joinless(spark):
    from hadoop_2_7_1_spark.operators.sketches import bloom_build, bloom_might_contain

    dim = spark.createDataFrame([(i * 3,) for i in range(40)], "k bigint")
    fact = spark.createDataFrame([(i,) for i in range(400)], "k bigint")
    bitmap = bloom_build(dim, "k", m_bits=256, k_hashes=3)
    passed = fact.filter(bloom_might_contain("k", bitmap, m_bits=256, k_hashes=3))
    got = {r.k for r in passed.collect()}
    truth = {i * 3 for i in range(40)}
    assert truth <= got  # a Bloom filter never drops a member
    assert len(got - truth) < 40  # and collisions stay bounded at this m/n

    # The probe must be a map-only filter: no join/exchange in its plan.
    plan = passed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_triangle_count_known_graphs(spark):
    from hadoop_2_7_1_spark.operators.graph import triangle_count

    # K4: every pair connected -> C(4,3) = 4 triangles.
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    r = triangle_count(spark.createDataFrame(k4, "src int, dst int")).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)

    # Square with one diagonal -> 2 triangles; self-loops ignored.
    sq = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (1, 1)]
    r = triangle_count(spark.createDataFrame(sq, "src int, dst int")).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 5, 2)


def test_pq_adc_compresses_and_ranks_sanely(spark):
    """PQ codes stay in [0, k); ADC scores are nonnegative; and the ADC
    ranking must beat random: the true nearest neighbor's ADC rank should
    land well inside the corpus ordering for most queries."""
    from hadoop_2_7_1_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = similarity.pq_fit(emb, m=4, k=8, n_iter=2, dim=64)
    assert len(books) == 4 and all(len(b) == 8 and len(b[0]) == 16 for b in books)

    codes = similarity.pq_encode(emb, books).collect()
    assert all(0 <= c < 8 for r in codes for c in r.codes)
    assert all(len(r.codes) == 4 for r in codes)

    qs = emb.filter(F.col("vec_id") < 5)
    top = similarity.pq_search_adc(emb, qs, books, k=3).collect()
    assert all(r.score_adc >= 0 for r in top)
    by_q = {}
    for r in top:
        by_q.setdefault(r.id_q, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for rows in by_q.values():
        scores = [r.score_adc for r in sorted(rows, key=lambda r: r.rnk)]
        assert scores == sorted(scores)  # rank agrees with score


def test_lsh_degenerate_band_cap(spark):
    """A degenerate corpus (thousands of docs colliding in one LSH bucket)
    must NOT go quadratic: with the bucket cap, candidate count stays
    bounded; normal near-dup pairs still surface."""
    from hadoop_2_7_1_spark.operators import dedup

    n_identical = 2000
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(n_identical)]
    # a genuine duplicate pair in a sane (size-2) bucket
    rows += [
        (100000, "a perfectly unique document about spark partitioning strategies"),
        (100001, "a perfectly unique document about spark partitioning strategies"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dedup.lsh_candidate_pairs(docs, max_bucket=500)
    got = pairs.collect()
    # without the cap the identical block alone emits ~2M pairs
    assert len(got) < 10, f"cap failed: {len(got)} candidate pairs"
    assert (100000, 100001) in {(r.id_a, r.id_b) for r in got}

    # cap respects the threshold: small duplicate groups still pair up
    small = spark.createDataFrame(
        [(i, "identical small group") for i in range(5)], "doc_id long, text string"
    )
    got_small = dedup.lsh_candidate_pairs(small, max_bucket=500).collect()
    assert len(got_small) == 10  # C(5,2)


def test_bpe_merges_match_reference_impl(spark):
    """The distributed BPE trainer must produce the exact merge table an
    independent in-memory BPE implementation learns from the same corpus
    (count desc, pair asc tie-break; left-to-right merge application)."""
    from collections import Counter

    from hadoop_2_7_1_spark.operators import textops

    docs = load_table(spark, SF_DIR, "documents")
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in textops.bpe_merges(docs, n_merges=6)
        .orderBy("rank")
        .collect()
    ]

    # independent trainer: plain dict/Counter, no Spark
    words = Counter()
    for row in docs.select("text").collect():
        for w in row.text.split():
            words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}

    def top_pair(vocab):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            return None
        return min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))

    def apply_merge(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    expect = []
    for rank in range(6):
        best = top_pair(vocab)
        if best is None:
            break
        (l, r), cnt = best
        expect.append((rank, l, r, cnt))
        vocab = {apply_merge(s, l, r): c for s, c in vocab.items()}

    assert got == expect


def test_zorder_layout_tiles_both_dimensions(spark, tmp_path):
    """Z-order layout: every parquet file must cover a COMPACT range of
    both key columns (2-D tiles), so point predicates on either column
    prune most files — unlike a single-key sort where the secondary column
    spans every file."""
    import glob

    from hadoop_2_7_1_spark.operators.partitioning import zorder_layout

    df = spark.range(1 << 14).selectExpr(
        "CAST(id % 128 AS BIGINT) AS a", "CAST(id DIV 128 AS BIGINT) AS b"
    )
    out = str(tmp_path / "ztab")
    zorder_layout(df, "a", "b", out, n_files=16, bits=7)

    def span_fraction(col):
        spans = []
        for f in glob.glob(out + "/part-*.parquet"):
            pdf = spark.read.parquet(f).toPandas()
            spans.append((pdf[col].max() - pdf[col].min() + 1) / 128.0)
        return sum(spans) / len(spans)

    # both dimensions tile: mean per-file span well under the full range
    assert span_fraction("a") <= 0.5
    assert span_fraction("b") <= 0.5

    # single-key sort control: the secondary column spans ~everything
    ctrl = str(tmp_path / "sorted_a")
    df.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(ctrl)
    spans_b = []
    for f in glob.glob(ctrl + "/part-*.parquet"):
        pdf = spark.read.parquet(f).toPandas()
        spans_b.append((pdf["b"].max() - pdf["b"].min() + 1) / 128.0)
    assert sum(spans_b) / len(spans_b) > 0.9


def test_wav_codec_and_audio_features(spark):
    """RIFF/WAVE round-trip (including extra chunks) + windowed RMS /
    zero-crossing features over actually-decoded samples."""
    import math
    import struct

    samples = [((k * 13) % 20001) - 10000 for k in range(128)]
    wav = multimodal.make_wav(samples, rate=8000)
    rate, ch, bits, back = multimodal.parse_wav(wav)
    assert (rate, ch, bits) == (8000, 1, 16)
    assert back == samples

    # extra LIST chunk between fmt and data must be skipped
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    wav2 = wav[:fmt_end] + extra + wav[fmt_end:]
    assert multimodal.parse_wav(wav2)[3] == samples
    assert multimodal.parse_wav(b"RIFFxxxxNOPE") is None

    media = spark.createDataFrame(
        [(7, bytearray(wav))], "media_id long, content binary"
    )
    out = multimodal.audio_features(media, window=64).orderBy("win_idx").collect()
    assert [r.win_idx for r in out] == [0, 1]
    for r in out:
        seg = samples[r.win_idx * 64 : (r.win_idx + 1) * 64]
        assert math.isclose(r.rms, (sum(s * s for s in seg) / 64) ** 0.5, rel_tol=1e-12)
        expect_zc = sum(
            1 for j in range(1, 64) if (seg[j] >= 0) != (seg[j - 1] >= 0)
        )
        assert r.zero_crossings == expect_zc


def test_augment_images_exact_mappings(spark):
    """Byte-exact augmentation semantics: crop picks the right window,
    flip mirrors columns, rotate90 is the clockwise coordinate map; the
    full chain composes them in order."""
    w, h, s = 12, 10, 5
    src = multimodal.make_png_with_pixels(w, h, s)

    def pixel(x, y):
        return (
            (x * 7 + s) % 256,
            (y * 11 + s * 3) % 256,
            (x + y + s * 5) % 256,
        )

    media = spark.createDataFrame(
        [(1, bytearray(src))], "media_id long, content binary"
    )
    out = multimodal.augment_images(
        media, crop=(2, 1, 8, 6), flip_h=True, rotate90=True
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.width, r.height) == (6, 8)
    _, _, ch, px = multimodal.png_decode(bytes(r.content))
    # chain: crop c(x,y)=src(2+x,1+y); flip f(x,y)=c(7-x,y);
    # rot90 o(x,y)=f(y, 5-x)  => o(x,y) = src(2+(7-y), 1+(5-x))
    for y in range(8):
        for x in range(6):
            got = tuple(px[(y * 6 + x) * 3 : (y * 6 + x) * 3 + 3])
            assert got == pixel(2 + (7 - y), 1 + (5 - x)), (x, y)

    # out-of-bounds crop drops the row rather than padding
    bad = multimodal.augment_images(media, crop=(8, 8, 8, 8)).count()
    assert bad == 0


def test_canonical_url_rules(spark):
    """Each canonicalization rule on its own tricky case."""
    from hadoop_2_7_1_spark.operators import dedup

    cases = [
        ("HTTP://Example.COM:80/A/B?x=1#frag", "http://example.com/A/B?x=1"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://e.com/p?b=2&a=1", "http://e.com/p?a=1&b=2"),
        ("http://e.com/p?utm_source=x&utm_medium=y&a=1", "http://e.com/p?a=1"),
        ("http://e.com/p?fbclid=zz", "http://e.com/p"),
        ("http://e.com/dir///", "http://e.com/dir"),
        ("http://e.com", "http://e.com/"),
        ("http://e.com/p?ref=home&gclid=1&z=2", "http://e.com/p?z=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in df.select(dedup.canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_collapses_variants(spark):
    from hadoop_2_7_1_spark.operators import dedup

    rows = [
        (0, "http://a.com/x?b=2&a=1"),
        (1, "HTTP://A.com:80/x?a=1&b=2#f"),
        (2, "http://a.com/x?utm_source=s&a=1&b=2"),
        (3, "https://b.org/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.canonical_url: (r.n_variants, r.keep_id)
           for r in dedup.url_dedup(df).collect()}
    assert out == {
        "http://a.com/x?a=1&b=2": (3, 0),
        "https://b.org/y": (1, 3),
    }


def test_split_long_docs_chunk_boundaries(spark):
    """Chunk windows: stride = max - overlap; last chunk may be short;
    short docs yield exactly one chunk; reassembling stride-prefixes
    reconstructs the document."""
    from hadoop_2_7_1_spark.operators.packing import split_long_docs

    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, words), (2, "just five words in here")],
        "doc_id long, text string",
    )
    out = split_long_docs(df, "doc_id", "text", max_tokens=64, overlap=16)
    rows = sorted(
        ((r.id, r.chunk_idx, r.start_tok, r.n_chunk_tokens, r.chunk_text) for r in out.collect())
    )
    # doc 1: 100 tokens -> chunks at 0..64 and 48..100
    doc1 = [r for r in rows if r[0] == 1]
    assert [(r[1], r[2], r[3]) for r in doc1] == [(0, 0, 64), (1, 48, 52)]
    assert doc1[0][4].split() == [f"w{i}" for i in range(64)]
    assert doc1[1][4].split() == [f"w{i}" for i in range(48, 100)]
    # doc 2: short -> one whole chunk
    doc2 = [r for r in rows if r[0] == 2]
    assert [(r[1], r[2], r[3]) for r in doc2] == [(0, 0, 5)]
    assert doc2[0][4] == "just five words in here"


def test_html_to_text_extraction(spark):
    """Each extraction rule: script/style/comment removal, block breaks,
    entity decode (incl. double-encoded &amp;lt;), whitespace collapse."""
    from hadoop_2_7_1_spark.operators import textops

    html = (
        "<html><head><title>T</title><style>p {x}</style>"
        "<script>if (1<2) { alert('hi') }</script></head>"
        "<body><!-- hidden -->"
        "<h1>Big   News</h1>"
        "<p>Tom &amp; Jerry say &quot;hello&quot;</p>"
        "<p>math: 1 &lt; 2 and literal &amp;lt; stays</p>"
        "<div>end&nbsp;bit</div></body></html>"
    )
    df = spark.createDataFrame([(html,)], ["html"])
    got = df.select(textops.html_to_text("html").alias("t")).collect()[0].t
    assert got == (
        "T Big News\n"
        'Tom & Jerry say "hello"\n'
        "math: 1 < 2 and literal &lt; stays\n"
        "end bit"
    )


def test_media_parsers_tolerate_truncated_blobs(spark):
    """Crawl blobs are routinely cut off: truncated GIF/WAV streams must
    yield no rows (or partial frames), never crash the task."""
    truncated_gif = multimodal.make_gif_animated(
        [bytes(range(64)) * 1], 8, 8
    )[:20]  # cut inside the first frame
    cases = [
        bytearray(b"GIF89a"),             # header only
        bytearray(truncated_gif),
        bytearray(b"RIFF\x10\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00"),  # cut fmt
        bytearray(b"RIFFxxxxWAVE"),
    ]
    media = spark.createDataFrame(
        [(i, b) for i, b in enumerate(cases)], "media_id long, content binary"
    )
    assert multimodal.sample_video_frames(media, 2).count() == 0
    assert multimodal.audio_features(media, window=16).count() == 0
    # pure functions agree
    assert multimodal.gif_decode_frames(b"GIF89a") == []
    assert multimodal.parse_wav(bytes(cases[2])) is None


def test_canonical_url_schemeless_passthrough(spark):
    """mailto:/relative/javascript values must NOT collapse to one
    degenerate key — they pass through unchanged."""
    from hadoop_2_7_1_spark.operators import dedup

    urls = ["mailto:a@b.com", "/about", "javascript:void(0)", "not a url"]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r.c for r in df.select(dedup.canonical_url("url").alias("c")).collect()]
    assert got == urls


def test_wav_stereo_uses_channel_zero(spark):
    """Interleaved stereo: features must come from one channel, not a
    mixed L/R stream."""
    import struct as _s

    left = [1000 * ((i % 4) - 2) for i in range(64)]
    right = [0] * 64
    inter = [v for pair in zip(left, right) for v in pair]
    data = b"".join(_s.pack("<h", s) for s in inter)
    fmt = _s.pack("<HHIIHH", 1, 2, 16000, 16000 * 4, 4, 16)
    wav = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt)) + fmt
        + b"data" + _s.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame([(1, bytearray(wav))], "media_id long, content binary")
    rows = multimodal.audio_features(media, window=64).collect()
    assert len(rows) == 1
    expect_rms = (sum(s * s for s in left) / 64) ** 0.5
    import math

    assert math.isclose(rows[0].rms, expect_rms, rel_tol=1e-12)


def test_write_by_filename_arbitrary_derivation(tmp_path, spark):
    """Old-API MultipleOutputFormat.generateFileNameForKeyValue
    (MRC/mapred/lib/MultipleOutputFormat.java:144): the leaf file NAME is an
    arbitrary function of the record, each name written by exactly one
    task."""
    import os

    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import write_by_filename

    df = spark.createDataFrame(
        [("alpha", 1), ("beta", 2), ("alpha", 3), ("gamma", 4)], ["k", "v"]
    )
    out = str(tmp_path / "multi")
    # name = f(key, value): key + parity of the value
    n = write_by_filename(
        df, out, F.concat(F.col("k"), F.lit("-"), (F.col("v") % 2).cast("string"), F.lit(".txt"))
    )
    assert n == 3  # three distinct derived names
    assert sorted(os.listdir(out)) == ["alpha-1.txt", "beta-0.txt", "gamma-0.txt"]
    lines = sorted(open(os.path.join(out, "alpha-1.txt")).read().splitlines())
    assert lines == ["alpha\t1", "alpha\t3"]
    assert open(os.path.join(out, "beta-0.txt")).read() == "beta\t2\n"

    # overwrite semantics: stale names from a previous run disappear
    df2 = spark.createDataFrame([("only", 9)], ["k", "v"])
    n2 = write_by_filename(df2, out, F.concat(F.col("k"), F.lit(".txt")))
    assert n2 == 1
    assert os.listdir(out) == ["only.txt"]

    import pytest

    with pytest.raises(Exception):  # bad names fail loudly, not silently
        write_by_filename(df2, out, F.lit("../escape.txt"))


def test_hll_sketch_accuracy_and_parallel_determinism(spark):
    from hadoop_2_7_1_spark.operators.sketches import hll_distinct

    # 20k distinct in one group, m=1024 registers: HLL sd ~ 1.04/sqrt(m) ~ 3%
    df = spark.range(20_000).selectExpr("'g' AS g", "CAST(id AS STRING) AS v")
    row = hll_distinct(df, "g", "v").collect()[0]
    assert row.n_exact == 20_000
    assert abs(row.hll_estimate - 20_000) / 20_000 < 0.10

    # small group lands in the linear-counting regime and stays close
    small = spark.range(30).selectExpr("'s' AS g", "CAST(id AS STRING) AS v")
    r2 = hll_distinct(small, "g", "v").collect()[0]
    assert abs(r2.hll_estimate - 30) < 5 and r2.n_zero_registers > 900

    # estimate is bit-identical under different partial-merge groupings
    a = hll_distinct(df.repartition(1), "g", "v").collect()[0].hll_estimate
    b = hll_distinct(df.repartition(17, "v"), "g", "v").collect()[0].hll_estimate
    assert a == b == row.hll_estimate


def test_ohlc_bars_custom_id_column(spark):
    """ohlc_bars on a hand-built events frame: same-second rows take
    open/close order from the event_id tie-break, not from row order."""
    from hadoop_2_7_1_spark.operators.funnel import ohlc_bars

    df = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:05", 3.0, 2),
            ("A", "2024-01-01 10:00:05", 9.0, 1),  # same ts: event_id breaks tie
            ("A", "2024-01-01 10:59:59", 4.0, 3),
            ("B", "2024-01-01 10:30:00", 7.0, 4),
        ],
        "event_type string, ts string, value double, event_id int",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.event_type: r for r in ohlc_bars(df).collect()}
    a = out["A"]
    assert (a.open, a.high, a.low, a.close, a.n) == (9.0, 9.0, 3.0, 4.0, 3)
    b = out["B"]
    assert (b.open, b.close, b.n) == (7.0, 7.0, 1)


def test_gridmix_replay_executor(spark):
    """Gridmix's executor half: a trace-driven synthetic job mix actually
    submitted against the engine (ReplayJobFactory/StressJobFactory/
    SerialJobFactory analogues). Assertions are on the ExecutionSummarizer
    report shape + success, not wall-clock (timing is environmental)."""
    from hadoop_2_7_1_spark.operators import loadmodel

    orders = load_table(spark, SF_DIR, "orders")
    trace = loadmodel.job_trace(orders)

    # stress: saturate with 3-wide until 6 jobs are done
    summary, jobs = loadmodel.gridmix_replay(
        spark, SF_DIR, trace, mode="stress", max_jobs=6, stress_width=3
    )
    assert summary["n_jobs"] == 6 and summary["n_failed"] == 0
    assert all(j["rows"] >= 0 and j["wall_s"] >= 0 for j in jobs)
    assert {j["query"] for j in jobs} <= set(loadmodel._DEFAULT_MIX)

    # replay honors trace offsets (hugely compressed so the test is fast):
    # with max_jobs=4 all offsets collapse to < 1s, so just check success
    summary_r, jobs_r = loadmodel.gridmix_replay(
        spark, SF_DIR, trace, mode="replay", time_scale=1e9, max_jobs=4
    )
    assert summary_r["n_failed"] == 0 and len(jobs_r) == 4
    assert summary_r["makespan_s"] > 0

    # serial: strictly one at a time -> no overlapping [start, end) windows
    summary_s, jobs_s = loadmodel.gridmix_replay(
        spark, SF_DIR, trace, mode="serial", max_jobs=3
    )
    assert summary_s["n_failed"] == 0
    for a, b in zip(jobs_s, jobs_s[1:]):
        assert b["start_s"] >= a["end_s"] - 1e-6
    assert summary_s["effective_concurrency"] <= 1.001


def test_train_linear_filter_deterministic(spark):
    """In-engine GD training: partitioning-invariant (scaled-integer
    gradient folds), confusion matrix consistent, and the trained model
    beats the majority-class baseline on its weak labels."""
    from hadoop_2_7_1_spark.operators import textops

    docs = load_table(spark, SF_DIR, "documents")
    r1 = textops.train_linear_filter(docs, n_iter=4).collect()[0]
    r2 = textops.train_linear_filter(docs.repartition(7), n_iter=4).collect()[0]
    assert r1 == r2  # bit-identical weights + counts at any parallelism
    assert r1.tp + r1.fp + r1.fn + r1.tn == r1.n
    majority = max(r1.n_pos, r1.n - r1.n_pos) / r1.n
    full = textops.train_linear_filter(docs, n_iter=8).collect()[0]
    assert full.accuracy > majority


def test_sssp_hand_checked(spark):
    """Bellman-Ford on a hand-built weighted graph: A->B=5, A->C=2,
    C->B=1, B->D=1 — shortest A->B is 3 (via C), A->D is 4. A second,
    cyclic graph (chain A->B->...->G of weight 2 plus A->D=9, D->A=1,
    C->F=1 and the self-loop G->G=5) checks sssp and bfs_hops against
    hand-computed distances."""
    from hadoop_2_7_1_spark.operators.graph import bfs_hops, sssp

    edges = spark.createDataFrame(
        [("A", "B", 5), ("A", "C", 2), ("C", "B", 1), ("B", "D", 1),
         ("A", "B", 7)],  # parallel edge collapses to min(5,7)
        "src string, dst string, w long",
    )
    out = {r.node: r.dist for r in sssp(edges, "A", rounds=4).collect()}
    assert out == {"A": 0, "B": 3, "C": 2, "D": 4}

    chain = [(chr(65 + i), chr(66 + i), 2) for i in range(6)]
    cyclic = spark.createDataFrame(
        chain + [("A", "D", 9), ("D", "A", 1), ("C", "F", 1), ("G", "G", 5)],
        "src string, dst string, w long",
    )
    dist = {r.node: r.dist for r in sssp(cyclic, "A", rounds=8).collect()}
    # D: A->B->C->D (6) beats A->D (9); F: A->B->C->F (5) beats the chain
    assert dist == {"A": 0, "B": 2, "C": 4, "D": 6, "E": 8, "F": 5, "G": 7}
    hops = {r.node: r.hop for r in bfs_hops(cyclic, "A", max_hops=8).collect()}
    assert hops == {"A": 0, "B": 1, "D": 1, "C": 2, "E": 2, "F": 3, "G": 4}


def test_sssp_and_bfs_plans_grow_linearly_in_rounds(spark):
    """Each sssp / bfs_hops round reads the previous distance frame once, so
    8 rounds plan at most 4x the size of 4 (a round that read it twice
    doubled the plan every round: 27x)."""
    from hadoop_2_7_1_spark.operators.graph import bfs_hops, sssp

    edges = spark.createDataFrame(
        [("A", "B", 2), ("B", "C", 2), ("C", "A", 1), ("C", "D", 3)],
        "src string, dst string, w long",
    )

    def plan_chars(df):
        return len(df._jdf.queryExecution().analyzed().toString())

    for name, run in (
        ("sssp", lambda n: sssp(edges, "A", rounds=n)),
        ("bfs_hops", lambda n: bfs_hops(edges, "A", max_hops=n)),
    ):
        four, eight = plan_chars(run(4)), plan_chars(run(8))
        assert eight <= 4 * four, f"{name}: {four} -> {eight} chars"


def test_gap_fill_interpolate_hand_checked(spark):
    """Values 100 at hour 0 and 400 at hour 3 -> gaps at hours 1,2
    interpolate to 200, 300; observed buckets keep exact values."""
    from hadoop_2_7_1_spark.operators.temporal import gap_fill_interpolate

    ev = spark.createDataFrame(
        [("k", "2024-01-01 00:10:00", 1.00), ("k", "2024-01-01 03:20:00", 4.00)],
        "event_type string, ts_s string, value double",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    rows = {
        r.bucket.hour: (r.filled, r.is_gap)
        for r in gap_fill_interpolate(ev).collect()
    }
    assert rows[0] == (100.0, False) and rows[3] == (400.0, False)
    assert rows[1] == (200.0, True) and rows[2] == (300.0, True)


def test_ab_test_degenerate_and_balanced(spark):
    """Everyone converts -> z=0 via the se=0 guard; revenue Welch z is
    finite; confusion of n_a + n_b equals the user count."""
    from hadoop_2_7_1_spark.operators.funnel import ab_test

    ev = load_table(spark, SF_DIR, "events")
    out = {r.metric: r for r in ab_test(ev, min_count=1).collect()}
    conv = out["conversion"]
    assert conv.stat_a == 1.0 and conv.stat_b == 1.0 and conv.z == 0.0
    rev = out["revenue_per_user"]
    assert rev.n_a + rev.n_b == ev.select("user_id").distinct().count()
    assert abs(rev.z) < 100


def test_k_anonymity_invariants(spark):
    """Monotone in k; rows at risk bounded by violating-group sizes."""
    from hadoop_2_7_1_spark.operators.profile import k_anonymity

    cust = load_table(spark, SF_DIR, "customer")
    rows = sorted(
        k_anonymity(cust, ["c_nationkey", "c_mktsegment"]).collect(),
        key=lambda r: r.k,
    )
    for a, b in zip(rows, rows[1:]):
        assert b.n_violating_groups >= a.n_violating_groups
        assert b.n_rows_at_risk >= a.n_rows_at_risk
    for r in rows:
        assert r.n_violating_groups <= r.n_rows_at_risk <= r.n_rows
        assert r.anonymous == (r.n_violating_groups == 0)


def test_winsorized_stats_invariants(spark):
    """Bounds ordered, clip counts consistent with quantile levels, and
    the winsorized mean lies within [lo, hi]."""
    from hadoop_2_7_1_spark.operators.aggregates import winsorized_stats

    li = load_table(spark, SF_DIR, "lineitem")
    for r in winsorized_stats(li, "l_returnflag", "l_extendedprice").collect():
        assert r.lo <= r.hi
        assert r.n_clipped_low <= r.n * 0.05 + 1
        assert r.n_clipped_high <= r.n * 0.05 + 1
        assert r.lo <= r.mean_winsorized <= r.hi


def test_lsh_band_sweep_monotone(spark):
    """More bands (fewer rows per band) can only add candidates, and
    recall is non-decreasing in bands for a fixed K."""
    from hadoop_2_7_1_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    rows = sorted(
        dedup.lsh_band_sweep(docs).collect(),
        key=lambda r: r.bands,
    )
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.recall >= a.recall
    for r in rows:
        assert 0.0 <= r.recall <= 1.0 and r.n_found <= r.n_truth


def test_weighted_median_reduces_to_unweighted(spark):
    """With constant weight 1 the weighted median equals the grouped
    exact (lower) median; result sits inside the group's value range."""
    from hadoop_2_7_1_spark.operators.aggregates import (
        grouped_exact_median,
        weighted_median,
    )

    li = load_table(spark, SF_DIR, "lineitem").withColumn("one", F.lit(1))
    wm = {
        r.l_returnflag: r.weighted_median
        for r in weighted_median(li, "l_returnflag", "l_quantity", "one").collect()
    }
    em = {
        r.g if hasattr(r, "g") else r[0]: r[-1]
        for r in grouped_exact_median(li, "l_returnflag", "l_quantity").collect()
    }
    assert wm == {k: float(v) for k, v in em.items()}


def test_interleave_sources_cycle(spark):
    """Positions are unique; within each full cycle of n_sources
    positions every source appears at most once."""
    from hadoop_2_7_1_spark.operators.sampling import interleave_sources

    docs = load_table(spark, SF_DIR, "documents")
    out = interleave_sources(docs).collect()
    n_src = len({r.source for r in out})
    assert len({r.interleave_pos for r in out}) == len(out)
    by_cycle = {}
    for r in out:
        by_cycle.setdefault(r.interleave_pos // n_src, []).append(r.source)
    for cyc, sources in by_cycle.items():
        assert len(sources) == len(set(sources)), f"cycle {cyc} repeats a source"


def test_label_propagation_hand_checked(spark):
    """Triangle {a,b,c}: synchronous LPA with min-label tiebreak converges
    to the min label. Disjoint pair {x,y}: the classic synchronous-LPA
    2-cycle — labels swap every round (x<-'y', y<-'x', then back) — which
    the fixed-round deterministic form reproduces exactly (that
    replayability is the point; async LPA would break the tie by visit
    order instead)."""
    from hadoop_2_7_1_spark.operators.graph import label_propagation

    und = [("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    even = {r.node: r.label for r in label_propagation(edges, rounds=4).collect()}
    assert even == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "y"}
    odd = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
    assert odd == {"a": "a", "b": "a", "c": "a", "x": "y", "y": "x"}


def test_drift_psi_detects_shift(spark):
    """Identical category distributions -> PSI ~ 0; a hard shift (all 'p'
    to all 'q') -> PSI far above the 0.2 alert threshold."""
    from hadoop_2_7_1_spark.operators.profile import drift_psi

    rows = [(i, "p" if i < 400 else "q", "same") for i in range(800)]
    df = spark.createDataFrame(rows, "id bigint, cat string, stable string")
    out = {
        r.col_name: r
        for r in drift_psi(
            df, "id % 2 = 0", [("cat", "cat"), ("stable", "stable")]
        ).collect()
    }
    # even/odd split leaves both distributions identical -> tiny PSI
    assert abs(out["stable"].psi) < 0.01 and not out["stable"].drifted
    assert abs(out["cat"].psi) < 0.01 and not out["cat"].drifted
    shifted = {
        r.col_name: r
        for r in drift_psi(df, "id < 400", [("cat", "cat")]).collect()
    }
    assert shifted["cat"].psi > 0.2 and shifted["cat"].drifted


def test_hll_sliding_window1_equals_per_day(spark):
    """With window_days=1 the rolling merge degenerates to the per-day
    sketch: estimates must equal hll_distinct grouped by epoch day."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.sketches import (
        hll_distinct,
        hll_sliding_distinct,
    )

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    rolled = {
        r.day_epoch: (r.n_exact, r.hll_estimate)
        for r in hll_sliding_distinct(ev, "ts", "user_id", window_days=1).collect()
    }
    per_day = {
        r.d: (r.n_exact, r.hll_estimate)
        for r in hll_distinct(
            ev.withColumn(
                "d", F.expr("datediff(cast(ts as date), date '1970-01-01')")
            ),
            "d",
            "user_id",
        ).collect()
    }
    assert rolled == per_day and len(rolled) > 0


def test_cusum_prefix_form_matches_sequential(spark):
    """The parallel prefix form S_t = P_t - min(0, running-min P) must
    reproduce the sequential recurrence S_t = max(0, S_(t-1) + x_t - k)
    exactly — checked against a driver-side replay on a series with a level
    shift, including alarm count and max."""
    import datetime

    from hadoop_2_7_1_spark.operators.temporal import cusum_alarms

    vals = [1.00] * 10 + [11.00] * 5
    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i), "m", v)
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )
    h = 700
    out = cusum_alarms(ev, h_cents=h).collect()[0]
    cents = [round(v * 100) for v in vals]
    kref = int(sum(cents) / len(cents))  # floor of the double ratio
    s = 0
    max_s, n_alarms, first_alarm = 0, 0, None
    for i, c in enumerate(cents):
        s = max(0, s + c - kref)
        max_s = max(max_s, s)
        if s > h:
            n_alarms += 1
            if first_alarm is None:
                first_alarm = rows[i][1]
    assert out.n_points == len(vals)
    assert out.max_s == max_s
    assert out.n_alarms == n_alarms and n_alarms > 0
    assert out.first_alarm_ts == first_alarm


def test_lttb_picks_largest_triangle_and_pins_endpoints(spark):
    """Three daily buckets: the middle bucket must keep the point with the
    largest triangle against the neighbor-bucket averages (the spike, not
    the flat points); first/last buckets keep their first/last point."""
    import datetime

    from hadoop_2_7_1_spark.operators.temporal import lttb_downsample

    def at(day, hour):
        return datetime.datetime(2024, 3, day, hour)

    rows = [
        (1, at(1, 1), "m", 1.00), (2, at(1, 9), "m", 1.00),
        # middle day: flat 1.00s plus a 9.00 spike at 12:00
        (3, at(2, 6), "m", 1.00), (4, at(2, 12), "m", 9.00),
        (5, at(2, 18), "m", 1.00),
        (6, at(3, 4), "m", 1.00), (7, at(3, 20), "m", 1.00),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )
    picked = {
        r.bucket.day: r.ts
        for r in lttb_downsample(ev, "day").collect()
    }
    assert picked[1] == at(1, 1)    # first bucket: first point
    assert picked[2] == at(2, 12)   # spike wins the triangle
    assert picked[3] == at(3, 20)   # last bucket: last point


def test_dp_release_deterministic_and_bounded(spark):
    """The md5-uniform Laplace stand-in is replayable (two runs identical)
    and its noise respects the inverse-CDF bound b*ln(2^20) ~ 13.87."""
    import math

    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.profile import dp_release

    from .conftest import SF_DIR

    cust = load_table(spark, SF_DIR, "customer")
    a = sorted(map(tuple, dp_release(cust, "c_nationkey").collect()))
    b = sorted(map(tuple, dp_release(cust, "c_nationkey").collect()))
    assert a == b and len(a) > 0
    bound = math.log(1 << 20) + 1e-6
    assert all(abs(row[2] - row[1]) <= bound for row in a)
    # noise actually present (not all zero)
    assert any(abs(row[2] - row[1]) > 0.01 for row in a)


def test_attribution_credits_sum_exactly_to_revenue(spark):
    """Conservation law: summed channel credits (including 'direct') must
    equal total conversion cents EXACTLY — the floor-division +
    remainder-to-first scheme loses nothing."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.funnel import attribution_linear

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    out = attribution_linear(ev, "purchase", ("click", "view"), 24)
    credited = out.agg(F.sum("credited_cents")).collect()[0][0]
    total = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.expr("cast(round(value * 100) as bigint)")))
        .collect()[0][0]
    )
    assert credited == total and total > 0
    channels = {r.channel for r in out.collect()}
    assert channels <= {"click", "view", "direct"}


def test_ppmi_hand_checked(spark):
    """'a b' repeated: with window 1 every pair is (a,b) or (b,a) plus the
    cross-boundary (b,a)... — verify against a direct Python count + the
    PMI formula on one corpus."""
    import math

    from hadoop_2_7_1_spark.operators.textops import ppmi_cooccurrence

    text = "x y x y x y x y x y"
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = {
        (r.w, r.c): (r.n_wc, r.ppmi)
        for r in ppmi_cooccurrence(docs, window=1, min_count=1).collect()
    }
    toks = text.split()
    expect = {}
    for i, w in enumerate(toks):
        for j in (i - 1, i + 1):
            if 0 <= j < len(toks):
                expect[(w, toks[j])] = expect.get((w, toks[j]), 0) + 1
    n_total = sum(expect.values())
    for k, n_wc in expect.items():
        n_w = sum(v for (w, _), v in expect.items() if w == k[0])
        n_c = sum(v for (_, c), v in expect.items() if c == k[1])
        ppmi = round(max(math.log(n_wc * n_total / (n_w * n_c)), 0.0), 6)
        assert rows[k][0] == n_wc
        assert abs(rows[k][1] - ppmi) < 1e-9


def test_histogram_quantiles_error_bounded_by_width(spark):
    """The histogram quantile estimate must sit within one bucket width
    above the exact value (upper-edge estimator: 0 < err <= width)."""
    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.sketches import histogram_quantiles

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    rows = histogram_quantiles(ev, "event_type", "value", 500).collect()
    assert rows
    for r in rows:
        assert 0 < r.err_cents <= 500, r


def test_modularity_range_and_identity_partition(spark):
    """Sum of contributions lies in [-1, 1]; the everyone-in-one-community
    partition scores exactly 1/m * in - 1 = 0 (single community: in = m,
    deg_sum = m -> Q = 1 - 1 = 0)."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.graph import label_propagation, modularity

    und = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    labels = label_propagation(edges, rounds=4)
    out = modularity(edges, labels)
    q = out.agg(F.sum("q_contrib")).collect()[0][0]
    assert -1.0 <= q <= 1.0
    # two clean triangles -> strongly positive modularity
    assert q > 0.3
    one = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.lit("all")
    )
    q1 = modularity(edges, one).agg(F.sum("q_contrib")).collect()[0][0]
    assert abs(q1) < 1e-12


# ---------------------------------------------------------------------------
# round-6 late batch: HITS, Benford, M4, k-fold


def test_hits_bipartite_hand(spark):
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.graph import hits

    # s1 links 3 parts, s2 links 1; p1 referenced by both
    edges = spark.createDataFrame(
        [("s1", "p1"), ("s1", "p2"), ("s1", "p3"), ("s2", "p1")],
        "src string, dst string",
    )
    out = {(r.node, r.side): r.score for r in hits(edges, iterations=2).collect()}
    assert out[("s1", "hub")] > out[("s2", "hub")]
    assert out[("p1", "auth")] > out[("p2", "auth")]
    hub_sum = sum(v for (n, s), v in out.items() if s == "hub")
    auth_sum = sum(v for (n, s), v in out.items() if s == "auth")
    assert abs(hub_sum - 1.0) < 1e-9 and abs(auth_sum - 1.0) < 1e-9


def test_benford_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import benford

    # values 1..9 once each -> one observation per digit, n=9
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)], "v double")
    rows = {r.digit: r for r in benford(df, ["v"]).collect()}
    assert sorted(rows) == list(range(1, 10))
    assert all(rows[d].n_obs == 1 for d in rows)
    import math

    assert abs(rows[1].expected_n - round(9 * math.log10(2), 6)) < 1e-9


def test_m4_tie_break_deterministic(spark):
    from hadoop_2_7_1_spark.operators.temporal import m4_downsample

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:00:05", 3.0),
            ("a", "2024-01-01 10:00:05", 1.0),  # same ts, smaller value
            ("a", "2024-01-01 10:59:59", 2.0),
        ],
        "event_type string, ts_s string, value double",
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    r = m4_downsample(ev, width="hour").collect()[0]
    assert (r.n_bucket, r.y_min, r.y_max) == (3, 100, 300)
    assert r.y_first == 100  # ts tie broken toward the smaller value
    assert r.y_last == 200


def test_kfold_stable_and_total(spark):
    from hadoop_2_7_1_spark.operators.sampling import kfold_assign

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = kfold_assign(df).groupBy("fold").count().collect()
    assert {r.fold for r in a} == {0, 1, 2, 3, 4}
    assert sum(r["count"] for r in a) == 500
    # repartitioned rerun assigns identically
    b = kfold_assign(df.repartition(7))
    joined = kfold_assign(df).alias("x").join(
        b.alias("y"), "doc_id"
    ).filter("x.fold <> y.fold")
    assert joined.count() == 0


# ---------------------------------------------------------------------------
# round-6 late batch 2: KMV overlap, join skew, Kaplan-Meier, moments/PCA


def test_kmv_overlap_exact_when_under_k(spark):
    from hadoop_2_7_1_spark.operators.sketches import kmv_overlap

    rows = [("a", v) for v in range(1, 11)] + [("b", v) for v in range(6, 16)]
    df = spark.createDataFrame(rows, "g string, v int")
    r = kmv_overlap(df, "g", "v", k=64).collect()[0]
    assert (r.n_a, r.n_b, r.n_common, r.n_union) == (10, 10, 5, 15)
    assert abs(r.jaccard_exact - 5 / 15) < 1e-12
    # sketches hold the full sets (n < k), so the estimates are exact too
    assert abs(r.jaccard_est - 5 / 15) < 1e-12
    assert r.union_est == 15.0


def test_join_skew_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import join_skew

    left = spark.createDataFrame([(1,), (1,), (1,), (2,), (3,)], "k bigint")
    right = spark.createDataFrame([(1,), (2,), (2,)], "k bigint")
    rows = join_skew(left, right, "k", "k", top_n=10).collect()
    assert [(r.key, r.est_rows) for r in rows] == [(1, 3), (2, 2)]
    assert abs(rows[0].pct_of_output - 60.0) < 1e-9


def test_survival_km_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import survival_km

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01"), (1, "2024-01-03"),     # lifetime 2, churned
            (2, "2024-01-01"), (2, "2024-01-10"),     # lifetime 9, censored
            (3, "2024-01-05"), (3, "2024-01-10"),     # lifetime 5, censored
        ],
        "user_id bigint, ts_s string",
    ).selectExpr("user_id", "cast(ts_s as timestamp) as ts")
    rows = {r.t_days: r for r in survival_km(ev, censor_days=7).collect()}
    assert sorted(rows) == [2, 5, 9]
    assert (rows[2].n_at_risk, rows[2].n_events, rows[2].n_censored) == (3, 1, 0)
    assert (rows[5].n_at_risk, rows[5].n_events, rows[5].n_censored) == (2, 0, 1)
    assert abs(rows[2].survival - round(2 / 3, 6)) < 2e-6
    # censoring steps don't change S(t)
    assert rows[5].survival == rows[2].survival
    assert rows[9].survival == rows[2].survival


def test_embedding_moments_and_pca(spark):
    import numpy as np

    from hadoop_2_7_1_spark.operators.similarity import (
        embedding_moments,
        pca_top_component,
        project_onto,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id int, embedding array<float>"
    )
    cells = {
        (r.i, r.j): r.s for r in embedding_moments(df, dims=2, scale=100).collect()
    }
    assert cells[(0, -1)] == 400 and cells[(1, -1)] == 600
    assert cells[(0, 0)] == 100_000 and cells[(0, 1)] == 140_000
    assert cells[(1, 1)] == 200_000

    # 200 points spread along the (0.6, 0.8) axis -> top PC recovers it
    pts = [
        (i, [0.6 * float(t), 0.8 * float(t)])
        for i, t in enumerate(np.linspace(-1, 1, 200))
    ]
    big = spark.createDataFrame(pts, "vec_id int, embedding array<float>")
    rows = embedding_moments(big, dims=2, scale=10_000).collect()
    v, eigval = pca_top_component(rows, dims=2, scale=10_000)
    assert abs(abs(float(np.dot(v, [0.6, 0.8]))) - 1.0) < 1e-3
    assert eigval > 0
    proj = project_onto(big.limit(1), v).collect()[0]["proj"]
    assert abs(abs(proj) - 1.0) < 1e-3  # first point is at t = -1, |t| = 1


# ---------------------------------------------------------------------------
# round-6 late batch 3: PPR, inverted index, burst flags, snapshot diff


def test_personalized_pagerank_mass_confined_to_seed_component(spark):
    from hadoop_2_7_1_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    out = {
        r.node: r.rank_ppr
        for r in personalized_pagerank(edges, "node = 'a'", iterations=3).collect()
    }
    # the c<->d component is unreachable from the seed: zero mass
    assert out["c"] == 0.0 and out["d"] == 0.0
    # total mass conserved inside the seed component (2-cycle oscillates
    # the split between a and b per round, so only the sum is stable)
    assert out["a"] > 0.0 and out["b"] > 0.0
    assert abs(out["a"] + out["b"] - 1.0) < 1e-9


def test_personalized_pagerank_releases_rounds_when_materialization_raises(
    spark, monkeypatch
):
    """The persisted outdeg and round frames are released in a finally: a
    call whose final materialization raises leaves no more persistent RDDs
    behind than a successful call (the checkpoints of e, nodes and the
    result)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from hadoop_2_7_1_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")], "src string, dst string"
    )
    jsc = spark.sparkContext._jsc

    def persisted_by(call):
        before = set(jsc.getPersistentRDDs().keys())
        call()
        return set(jsc.getPersistentRDDs().keys()) - before

    kept = []
    ok = persisted_by(lambda: kept.append(personalized_pagerank(edges, "node = 'a'")))

    real = DataFrame.localCheckpoint

    def final_raises(self, *args, **kwargs):
        out = real(self, *args, **kwargs)  # runs the whole round chain
        if "rank_ppr" in self.columns:
            raise RuntimeError("injected failure")
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", final_raises)

    def failing():
        with pytest.raises(RuntimeError, match="injected failure"):
            personalized_pagerank(edges, "node = 'a'")

    failed = persisted_by(failing)
    assert len(failed) <= len(ok), (len(failed), len(ok))


def test_inverted_index_hand(spark):
    import hashlib

    from hadoop_2_7_1_spark.operators.textops import inverted_index

    docs = spark.createDataFrame(
        [(1, "x y x"), (2, "y z")], "doc_id bigint, text string"
    )
    rows = {r.term: r for r in inverted_index(docs, min_df=1).collect()}
    assert rows["x"].df == 1 and rows["x"].tf_total == 2
    assert rows["y"].df == 2 and rows["y"].tf_total == 2
    assert rows["x"].postings_md5 == hashlib.md5(b"1:1|3").hexdigest()
    assert rows["y"].postings_md5 == hashlib.md5(b"1:2 2:1").hexdigest()
    # min_df=2 keeps only y
    assert [r.term for r in inverted_index(docs, min_df=2).collect()] == ["y"]


def test_burst_flags_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import burst_flags

    ev = spark.createDataFrame(
        [
            (1, 0), (1, 10), (1, 20), (1, 70),   # 3 events inside [0, 59]
            (2, 0), (2, 3600),
        ],
        "user_id bigint, x bigint",
    ).selectExpr("user_id", "cast(timestamp_seconds(x) as timestamp) as ts")
    rows = {r.user_id: r for r in burst_flags(ev, threshold=3).collect()}
    assert rows[1].peak_rate == 3 and bool(rows[1].is_burst)
    assert rows[2].peak_rate == 1 and not bool(rows[2].is_burst)


def test_snapshot_diff_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "s"), (2, "b", "s"), (3, "c", "s")], "k bigint, v string, d string"
    )
    new = spark.createDataFrame(
        [(2, "b", "s"), (3, "c2", "s"), (4, "dd", "s")], "k bigint, v string, d string"
    )
    out = {
        r.status: r.n for r in snapshot_diff(old, new, "k", ["v"], "d").collect()
    }
    assert out == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}


# ---------------------------------------------------------------------------
# round-6 late batch 4: systematic resample, jackknife, seasonal baseline


def test_systematic_resample_invariants(spark):
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.sampling import systematic_resample

    df = spark.range(1, 201).selectExpr("id as doc_id", "(id % 7 + 1) * 10 as n_chars")
    out = systematic_resample(df, n_out=50)
    rows = out.collect()
    # the systematic guarantee: the draw count is EXACTLY n_out
    assert sum(r.n_picked for r in rows) == 50
    # each drawn record gets floor or ceil of its expectation
    W = df.agg(F.sum("n_chars")).collect()[0][0]
    for r in rows:
        exp = r.weight * 50 / W
        assert exp - 1 < r.n_picked < exp + 1
    # partitioning-independent
    again = systematic_resample(df.repartition(13), n_out=50)
    assert sorted((r.doc_id, r.n_picked) for r in again.collect()) == sorted(
        (r.doc_id, r.n_picked) for r in rows
    )


def test_jackknife_ratio_hand(spark):
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.aggregates import (
        jackknife_ratio_table,
        jackknife_se,
    )

    df = spark.range(1, 1001).selectExpr(
        "id as k", "id * 3 as num", "id as den"
    )
    tbl = jackknife_ratio_table(
        df, "k", F.col("num"), F.col("den"), buckets=5
    )
    rows = [r.asDict() for r in tbl.collect()]
    assert len(rows) == 5
    # the metric is exactly 3 everywhere -> every LOO estimate is 3, se 0
    for r in rows:
        assert abs(r["theta_loo"] - 3.0) < 1e-12
        assert abs(r["pseudo_value"] - 3.0) < 1e-9
    theta, se = jackknife_se(rows)
    assert abs(theta - 3.0) < 1e-12 and se < 1e-12


def test_seasonal_baseline_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import seasonal_baseline

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-02 09:10:00", 1.0),   # Tuesday 9am
            ("a", "2024-01-02 09:40:00", 3.0),   # same cell
            ("a", "2024-01-02 10:00:00", 5.0),   # different hour
        ],
        "event_type string, ts_s string, value double",
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    rows = {(r.dow, r.hour): r for r in seasonal_baseline(ev).collect()}
    r9 = rows[(2, 9)]  # dow 2 = Tuesday (0 = Sunday)
    assert r9.n == 2 and r9.avg_cents == 200.0
    assert r9.sd_cents == 100.0 and r9.peak_resid == 100.0 and r9.peak_z == 1.0
    r10 = rows[(2, 10)]
    assert r10.n == 1 and r10.sd_cents == 0.0 and r10.peak_z is None


# ---------------------------------------------------------------------------
# round-6 late batch 5: EWMA, peak concurrency, FD audit


def test_ewma_hourly_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import ewma_hourly

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 01:10:00", 1.0),
            ("a", "2024-01-01 02:10:00", 1.0),
        ],
        "event_type string, ts_s string, value double",
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    rows = sorted(ewma_hourly(ev, alpha=0.5, max_lag=10).collect(),
                  key=lambda r: r.bucket)
    # y = 100 cents each hour; s_0 = 0.5*100, s_1 = 0.5*100 + 0.25*100, ...
    assert abs(rows[0].ewma_cents - 50.0) < 1e-6
    assert abs(rows[1].ewma_cents - 75.0) < 1e-6
    assert abs(rows[2].ewma_cents - 87.5) < 1e-6


def test_peak_concurrency_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import peak_concurrency

    # three users: sessions [0,100], [50,150], [200,300] -> peak 2 at t=50
    ev = spark.createDataFrame(
        [(1, 0), (1, 100), (2, 50), (2, 150), (3, 200), (3, 300)],
        "user_id bigint, x bigint",
    ).selectExpr("user_id", "cast(timestamp_seconds(x) as timestamp) as ts")
    r = peak_concurrency(ev, gap_s=1800).collect()[0]
    assert (r.n_sessions, r.peak_concurrent, r.peak_at_epoch) == (3, 2, 50)


def test_fd_check_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import fd_check

    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (2, "z")], "a bigint, b string"
    )
    r = fd_check(df, ["a"], "b").collect()[0]
    assert (r.n_groups, r.n_pairs, r.n_violating_groups) == (2, 3, 1)
    assert not r.holds
    ok = fd_check(df.filter("a = 1"), ["a"], "b").collect()[0]
    assert ok.holds and ok.n_violating_groups == 0


# ---------------------------------------------------------------------------
# round-6 late batch 6: PQ re-rank, new-vs-returning, Markov attribution


def test_pq_rerank_exact_order(spark):
    from hadoop_2_7_1_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    books = similarity.pq_fit(emb, m=2, k=4, n_iter=2, dim=4)
    qs = emb.filter("vec_id = 0")
    out = similarity.pq_rerank(emb, qs, books, k_short=8, k=3)
    rows = sorted(out.collect(), key=lambda r: r.rnk)
    assert len(rows) == 3
    # re-rank orders by EXACT distance, ascending
    assert rows[0].d_exact <= rows[1].d_exact <= rows[2].d_exact
    # candidates came from the ADC shortlist (never the query itself)
    assert all(r.id_vec != 0 for r in rows)


def test_pq_fit_joint_matches_sequential(spark):
    """r11: pq_fit trains all m subspaces in ONE joint Lloyd loop; the
    codebooks must stay bit-identical to m independent kmeans_fit calls on
    the sliced columns (the pre-r11 formulation, which the oracles replay
    subspace by subspace)."""
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    m, k, n_iter, dim = 4, 3, 2, 8
    sub = dim // m
    sequential = []
    for s in range(m):
        sliced = emb.select(
            F.col("vec_id"), F.slice(F.col("embedding"), s * sub + 1, sub).alias("embedding")
        )
        sequential.append(similarity.kmeans_fit(sliced, k=k, n_iter=n_iter))
    joint = similarity.pq_fit(emb, m=m, k=k, n_iter=n_iter, dim=dim)
    assert joint == sequential  # exact float equality, not approx


def test_new_vs_returning_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import new_vs_returning

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00"),
            (1, "2024-01-02 10:00:00"), (3, "2024-01-02 11:00:00"),
        ],
        "user_id bigint, ts_s string",
    ).selectExpr("user_id", "cast(ts_s as timestamp) as ts")
    rows = sorted(new_vs_returning(ev).collect(), key=lambda r: r.day)
    assert (rows[0].n_active, rows[0].n_new, rows[0].n_returning) == (2, 2, 0)
    assert (rows[1].n_active, rows[1].n_new, rows[1].n_returning) == (2, 1, 1)
    assert rows[0].cum_users == 2 and rows[1].cum_users == 3


def test_markov_attribution_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import markov_attribution

    # u1: view->purchase; u2: view only; u3: click->purchase
    # p_base = P(s->view)P(view->conv) + P(s->click)P(click->conv)
    #        = (2/3)(1/2) + (1/3)(1) = 2/3; removing either channel
    # leaves 1/3, so both get removal effect 1/2 and share 1/2.
    ev = spark.createDataFrame(
        [
            (1, 0, 1, "view"), (1, 10, 2, "purchase"),
            (2, 0, 3, "view"),
            (3, 0, 4, "click"), (3, 10, 5, "purchase"),
        ],
        "user_id bigint, x bigint, event_id bigint, event_type string",
    ).selectExpr(
        "user_id", "cast(timestamp_seconds(x) as timestamp) as ts",
        "event_id", "event_type",
    )
    rows = {r.channel: r for r in markov_attribution(ev, ["view", "click"]).collect()}
    assert abs(rows["view"].p_base - 2 / 3) < 1e-9
    assert abs(rows["view"].removal_effect - 0.5) < 1e-9
    assert abs(rows["click"].removal_effect - 0.5) < 1e-9
    assert abs(rows["view"].attribution_share - 0.5) < 1e-9
    assert abs(rows["click"].attribution_share - 0.5) < 1e-9


# ---------------------------------------------------------------------------
# round-6 late batch 7: random walks, ref integrity, Pareto tiers


def test_random_walks_deterministic_and_valid(spark):
    from hadoop_2_7_1_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")],
        "src string, dst string",
    )
    w1 = {r.walk_id: r.seq for r in random_walks(edges, walk_len=5).collect()}
    w2 = {
        r.walk_id: r.seq
        for r in random_walks(edges.repartition(7), walk_len=5).collect()
    }
    assert w1 == w2  # partitioning-independent
    assert set(w1) == {"a", "b", "c"}
    eset = {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")}
    for start, seq in w1.items():
        nodes = seq.split(" ")
        assert len(nodes) == 5 and nodes[0] == start
        for x, y in zip(nodes, nodes[1:]):
            assert (x, y) in eset  # every hop is a real edge


def test_ref_integrity_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import ref_integrity

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (None,)], "fk bigint"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
    r = ref_integrity(child, parent, "fk", "pk", "t").collect()[0]
    assert (r.n_child, r.n_null_fk, r.n_orphan_rows, r.n_orphan_keys) == (5, 1, 1, 1)
    assert not r.ok


def test_pareto_tiers_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import pareto_tiers

    # 10 users: one with 91 events, nine with 1 each -> top 10% = 1 user = 91%
    rows = [(u, i) for u in range(1, 10) for i in range(1)] + [
        (10, i) for i in range(91)
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, i bigint")
    out = {r.tier_pct: r for r in pareto_tiers(ev, tiers=[10, 50]).collect()}
    assert out[10].n_users_tier == 1 and out[10].n_events_tier == 91
    assert abs(out[10].pct_events - 91.0) < 1e-9
    assert out[50].n_users_tier == 5 and out[50].n_events_tier == 95


# ---------------------------------------------------------------------------
# round-6 late batch 8: KS drift, transition entropy, class balance,
# langid confusion


def test_drift_ks_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import drift_ks

    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    b = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "v double")
    r = drift_ks(a, b, "v").collect()[0]
    # ECDFs diverge most at v=2: F_a=0.5, F_b=0 -> KS=0.5
    assert (r.n_a, r.n_b) == (4, 4)
    assert abs(r.ks_stat - 0.5) < 1e-12 and r.at_cents == 200
    same = drift_ks(a, a, "v").collect()[0]
    assert same.ks_stat == 0.0


def test_transition_entropy_hand(spark):
    import math

    from hadoop_2_7_1_spark.operators.funnel import transition_entropy

    # user path a->b, a->c (two users): state 'a' has uniform 2-way split
    ev = spark.createDataFrame(
        [
            (1, 0, 1, "a"), (1, 10, 2, "b"),
            (2, 0, 3, "a"), (2, 10, 4, "c"),
        ],
        "user_id bigint, x bigint, event_id bigint, event_type string",
    ).selectExpr(
        "user_id", "cast(timestamp_seconds(x) as timestamp) as ts",
        "event_id", "event_type",
    )
    rows = {r.state: r for r in transition_entropy(ev).collect()}
    assert rows["a"].n_out == 2 and rows["a"].n_next == 2
    assert abs(rows["a"].entropy - math.log(2)) < 1e-5
    assert abs(rows["a"].norm_entropy - 1.0) < 1e-5


def test_class_balance_counts(spark):
    from hadoop_2_7_1_spark.operators.sampling import class_balance

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = {r.lang: r for r in class_balance(df).collect()}
    assert out["small"].n_before == 50 and out["small"].n_after == 50
    assert out["small"].target_rate == 1.0
    assert out["big"].n_before == 400
    # hash thresholding lands near the 50-row target (uniform, not exact)
    assert 25 <= out["big"].n_after <= 80


def test_lang_confusion_shares_sum_to_one(spark):
    from pyspark.sql import functions as F

    from hadoop_2_7_1_spark.operators.textops import lang_confusion

    docs = spark.createDataFrame(
        [
            (1, "the and of with that", "en"),
            (2, "der und die das nicht", "de"),
            (3, "zzz qqq xxx", "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    out = lang_confusion(docs).collect()
    cells = {(r.lang, r.pred_lang): r.n for r in out}
    assert cells[("en", "en")] == 1 and cells[("de", "de")] == 1
    assert cells[("en", "unknown")] == 1
    import collections

    sums = collections.defaultdict(float)
    for r in out:
        sums[r.lang] += r.share_of_lang
    assert all(abs(s - 1.0) < 1e-6 for s in sums.values())


# ---------------------------------------------------------------------------
# round-6 late batch 9: readability, assortativity


def test_readability_hand(spark):
    from hadoop_2_7_1_spark.operators.textops import readability

    docs = spark.createDataFrame(
        [(1, "the cat sat. the dog ran.")], "doc_id bigint, text string"
    )
    r = readability(docs).collect()[0]
    assert r.n_words == 6 and r.n_sentences == 2
    # vowel groups: e, a, a, e, o, a -> 6
    assert r.n_syllables == 6
    expected = round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 4)
    assert abs(r.flesch - expected) < 1e-9


def test_assortativity_star_is_negative(spark):
    from hadoop_2_7_1_spark.operators.graph import assortativity

    # star graph: hub h linked to 5 leaves -> perfectly disassortative
    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(5)], "src string, dst string"
    )
    r = assortativity(edges).collect()[0]
    assert (r.n_edges, r.n_nodes) == (5, 6)
    assert abs(r.r_assort - (-1.0)) < 1e-9

    # regular ring: all degrees equal -> undefined (NULL), not a crash
    ring = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    r2 = assortativity(ring).collect()[0]
    assert r2.r_assort is None


# ---------------------------------------------------------------------------
# round-6 late batch 10: matryoshka recall, tokenizer fertility


def test_matryoshka_recall_saturates_when_prefix_holds_all_info(spark):
    import math

    from hadoop_2_7_1_spark.operators.similarity import matryoshka_recall

    # all signal lives in the first 2 coords; dims 3-4 are zero
    rows = [
        (i, [math.cos(i / 3.0), math.sin(i / 3.0), 0.0, 0.0]) for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    qs = emb.filter("vec_id < 3")
    out = {r.dim_prefix: r for r in
           matryoshka_recall(emb, qs, prefix_dims=(2, 4), k=3).collect()}
    assert out[2].possible == 9 and out[4].possible == 9
    assert out[2].recall == 1.0  # prefix 2 carries everything
    assert out[4].recall == 1.0


def test_tokenizer_fertility_bounds_and_grouping(spark):
    from hadoop_2_7_1_spark.operators.textops import tokenizer_fertility

    docs = spark.createDataFrame(
        [
            (1, "aa aa ab", "x"),
            (2, "aa ab ab", "x"),
            (3, "zzzz yyyy", "y"),
        ],
        "doc_id bigint, text string, lang string",
    )
    rows = {r.lang: r for r in tokenizer_fertility(docs, n_merges=2).collect()}
    assert rows["x"].n_docs == 2 and rows["x"].n_words == 6
    assert rows["y"].n_docs == 1 and rows["y"].n_words == 2
    for r in rows.values():
        # every word is at least 1 and at most len(word) subwords
        assert 1.0 <= r.fertility <= 4.0
    # 'aa' dominates training, so lang x compresses at least as well as y
    assert rows["x"].fertility <= rows["y"].fertility


# ---------------------------------------------------------------------------
# round-6 late batch 11: rater agreement, autocorrelation


def test_rater_agreement_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import rater_agreement

    # perfect agreement -> kappa 1; opposite raters -> kappa <= 0
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (0, 0), (0, 0)], "a int, b int"
    )
    r = rater_agreement(df, "a = 1", "b = 1").collect()[0]
    assert r.p_observed == 1.0 and r.kappa == 1.0
    opp = rater_agreement(df, "a = 1", "b = 0").collect()[0]
    assert opp.p_observed == 0.0 and opp.kappa == -1.0
    # independent coin-flips expectation: kappa near 0 on a crafted 2x2
    mix = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 1), (0, 0)], "a int, b int"
    )
    m = rater_agreement(mix, "a = 1", "b = 1").collect()[0]
    assert m.kappa == 0.0


def test_acf_constant_and_alternating(spark):
    from hadoop_2_7_1_spark.operators.temporal import acf_hourly

    # strictly alternating hourly series -> ACF(1) near -1, ACF(2) near +1
    rows = [
        ("a", f"2024-01-01 {h:02d}:30:00", 1.0 if h % 2 == 0 else 3.0)
        for h in range(24)
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    out = {r.lag: r for r in acf_hourly(ev, max_lag=2).collect()}
    assert out[1].n_pairs == 23 and out[2].n_pairs == 22
    assert out[1].acf < -0.9
    assert out[2].acf > 0.85


# ---------------------------------------------------------------------------
# round-6 late batch 12: gini/lorenz, AUC, keyness, CCF, association rules


def test_gini_hand(spark):
    from hadoop_2_7_1_spark.operators.aggregates import gini_lorenz

    # perfect equality -> gini 0; one holder -> gini (n-1)/n
    eq = spark.createDataFrame([(i, 100) for i in range(10)], "k int, x int")
    rows = gini_lorenz(eq, "k", "x").collect()
    assert all(r.gini == 0.0 for r in rows)
    # deciles of an equal distribution: cum_share climbs linearly
    assert [r.cum_share for r in sorted(rows, key=lambda r: r.decile)] == [
        round(0.1 * i, 6) for i in range(1, 11)
    ]
    one = spark.createDataFrame(
        [(0, 1000)] + [(i, 0) for i in range(1, 10)], "k int, x int"
    )
    g = gini_lorenz(one, "k", "x").collect()[0].gini
    assert g == round(9 / 10, 6)


def test_roc_auc_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import roc_auc

    # perfectly separating score -> AUC 1; anti-separating -> 0; ties -> 0.5
    df = spark.createDataFrame(
        [(10, 0), (20, 0), (30, 1), (40, 1)], "s int, y int"
    )
    assert roc_auc(df, "s", "y = 1").collect()[0].auc == 1.0
    assert roc_auc(df, "-s", "y = 1").collect()[0].auc == 0.0
    tied = spark.createDataFrame([(5, 0), (5, 1), (5, 0), (5, 1)], "s int, y int")
    assert roc_auc(tied, "s", "y = 1").collect()[0].auc == 0.5
    # degenerate: single class -> NULL auc, not a crash
    pos = spark.createDataFrame([(1, 1), (2, 1)], "s int, y int")
    assert roc_auc(pos, "s", "y = 1").collect()[0].auc is None


def test_keyness_distinctive_token(spark):
    from hadoop_2_7_1_spark.operators.textops import keyness_g2

    # 'zebra' appears only in lang x, shared filler in both -> top keyness
    # token for x is zebra; the shared filler never ranks (not
    # overrepresented by the integer filter)
    docs = spark.createDataFrame(
        [("x", "zebra zebra zebra zebra zebra common common common")] * 3
        + [("y", "apple apple apple apple apple common common common")] * 3,
        "lang string, text string",
    )
    out = keyness_g2(docs, top_k=2, min_count=5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang["x"][0].token == "zebra" and by_lang["x"][0].g2 > 0
    assert by_lang["y"][0].token == "apple"
    assert all(r.token != "common" for r in out)
    # zebra is x-only: n_elsewhere 0, counts exact
    assert by_lang["x"][0].n_in_lang == 15 and by_lang["x"][0].n_elsewhere == 0


def test_ccf_shifted_series(spark):
    from hadoop_2_7_1_spark.operators.temporal import ccf_hourly

    # b is a copied two hours later -> CCF peaks at lag +2
    rows_a = [
        ("a", f"2024-01-01 {h:02d}:15:00", float(v))
        for h, v in zip(range(12), [1, 9, 2, 8, 3, 7, 4, 6, 5, 9, 1, 8])
    ]
    rows_b = [
        ("b", f"2024-01-01 {h + 2:02d}:45:00", float(v))
        for h, v in zip(range(12), [1, 9, 2, 8, 3, 7, 4, 6, 5, 9, 1, 8])
    ]
    ev = spark.createDataFrame(
        rows_a + rows_b, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    out = {r.lag: r.ccf for r in ccf_hourly(ev, "a", "b", max_lag=3).collect()}
    assert out[2] > 0.99
    assert all(out[l] < out[2] for l in out if l != 2)


def test_assoc_rules_hand(spark):
    from hadoop_2_7_1_spark.operators.association import assoc_rules

    # items 1,2 always together (4 baskets); item 3 independent filler
    baskets = [(b, i) for b in range(4) for i in (1, 2)] + [
        (0, 3), (4, 3), (5, 3), (4, 9), (5, 8),
    ]
    df = spark.createDataFrame(baskets, "b int, i int")
    out = assoc_rules(df, "b", "i", min_pair=2, top_k=10).collect()
    rules = {(r.antecedent, r.consequent): r for r in out}
    r12 = rules[(1, 2)]
    # 6 baskets total; 1 and 2 co-occur in all 4 of their baskets
    assert r12.n_ab == 4 and r12.confidence == 1.0
    assert r12.lift == round(4 * 6 / (4 * 4), 6)
    assert (2, 1) in rules  # both directions emitted
    # independent filler pairs never reach min_pair
    assert (1, 3) not in rules and (3, 1) not in rules


# ---------------------------------------------------------------------------
# round-6 late batch 13: moments, calibration, hubness, chi-square, Zipf


def test_group_moments_hand(spark):
    from hadoop_2_7_1_spark.operators.aggregates import group_moments

    # symmetric values -> skewness 0; two-point distribution -> exkurt -2
    df = spark.createDataFrame(
        [("g", v) for v in (1, 1, 1, 5, 5, 5)], "grp string, v int"
    )
    r = group_moments(df, "grp", "v").collect()[0]
    assert r.mean_val == 3.0 and r.stddev == 2.0
    assert r.skewness == 0.0 and r.kurtosis_excess == -2.0
    # right-skewed hand case
    sk = spark.createDataFrame(
        [("g", v) for v in (1, 1, 1, 1, 10)], "grp string, v int"
    )
    assert group_moments(sk, "grp", "v").collect()[0].skewness > 1.0
    # constant column -> NULL skew/kurt, not division blowup
    c = spark.createDataFrame([("g", 7), ("g", 7)], "grp string, v int")
    rc = group_moments(c, "grp", "v").collect()[0]
    assert rc.stddev == 0.0 and rc.skewness is None and rc.kurtosis_excess is None


def test_calibration_bins_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import calibration_bins

    # a perfectly calibrated 0.75 bin: 3 of 4 positive, brier = avg of
    # (0.25² ×3, 0.75²) = 0.1875
    df = spark.createDataFrame(
        [(10, 1), (10, 1), (10, 1), (10, 0)], "s int, y int"
    )
    r = calibration_bins(df, "s", "y = 1", "s div 10", "0.75").collect()[0]
    assert r.bin == 1 and r.n == 4 and r.obs_rate == 0.75
    assert r.mean_pred == 0.75 and r.brier == 0.1875


def test_knn_hubness_counts(spark):
    from hadoop_2_7_1_spark.operators.similarity import knn_hubness

    # 8 orthogonal-ish vectors: every vector has k=2 out-edges, so total
    # in-degree mass equals 2*n; histogram masses must add back to n
    import math

    rows = []
    for i in range(8):
        v = [math.cos(i * 0.7 + d) for d in range(8)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    hist = knn_hubness(emb, k=2, bucket_dims=3).collect()
    assert sum(r.n_vectors for r in hist) == 8
    total_edges = sum(r.k_occ * r.n_vectors for r in hist)
    assert 0 < total_edges <= 2 * 8


def test_ab_chisq_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import ab_chisq

    # identical conversion in both variants -> chi2 == 0, not significant
    rows = []
    for uid in range(8):
        rows.append((uid, "click"))
        if uid in (0, 1, 2, 3):  # two even (0,2) and two odd (1,3) convert
            rows.append((uid, "purchase"))
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_chisq(ev).collect()[0]
    assert r.n_a == 4 and r.n_b == 4 and r.conv_a == 2 and r.conv_b == 2
    assert r.chi2 == 0.0 and r.significant is False
    # perfectly dependent: all even convert, no odd converts
    rows2 = [(u, "click") for u in range(8)] + [
        (u, "purchase") for u in range(8) if u % 2 == 0
    ]
    ev2 = spark.createDataFrame(rows2, "user_id long, event_type string")
    r2 = ab_chisq(ev2).collect()[0]
    assert r2.chi2 == 8.0 and r2.significant is True


def test_zipf_slope_sign(spark):
    from hadoop_2_7_1_spark.operators.textops import zipf_fit

    # geometric frequencies: freq(rank) = 2^(8-rank) -> ln-ln slope < 0
    words = []
    for i, w in enumerate(["aa", "bb", "cc", "dd", "ee", "ff"]):
        words.extend([w] * (2 ** (6 - i)))
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    r = zipf_fit(docs, size=6).collect()[0]
    assert r.n_points == 6
    assert r.slope < -0.5
    # intercept anchors near ln of the top frequency
    import math

    assert abs(r.intercept - math.log(64)) < 1.5


# ---------------------------------------------------------------------------
# round-6 late batch 14: MMR, RRF, contamination, power, gains/lift


def test_mmr_prefers_diversity(spark):
    from hadoop_2_7_1_spark.operators.similarity import mmr_topk

    # q at e0; a,b nearly identical along e0; c diverse but still relevant.
    # Plain top-2 would pick a,b; MMR must pick a then c.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.14, 0.0, 0.0]),        # a: most relevant
        (2, [0.985, 0.17, 0.0, 0.0]),       # b: near-duplicate of a
        (3, [0.7, 0.0, 0.71, 0.0]),         # c: relevant and diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        mmr_topk(emb, "vec_id = 0", k=2, pool=3, lam=0.5).collect(),
        key=lambda r: r.rnk,
    )
    assert [r.vec_id for r in out] == [1, 3]
    assert out[0].mmr_score > out[1].mmr_score


def test_rrf_fusion_hand(spark):
    from hadoop_2_7_1_spark.operators.similarity import rrf_fusion

    # unit-norm plane: cosine and L2 rankings agree -> rrf = 2/(60+r)
    import math

    rows = [(0, [1.0, 0.0])] + [
        (i, [math.cos(i * 0.2), math.sin(i * 0.2)]) for i in range(1, 6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in rrf_fusion(emb, "vec_id = 0", k=5).collect()}
    for vid, r in out.items():
        assert r.rank_cos == r.rank_l2
        assert r.rrf == round(2.0 / (60 + r.rank_cos), 9)
    assert out[1].rank_cos == 1 and out[5].rank_cos == 5


def test_contamination_hand(spark):
    from hadoop_2_7_1_spark.operators.dedup import contamination_report

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "eval"),    # 3 shingles, 1 in train
            (2, "totally novel eval sentence here", "eval"),  # 0 contaminated
            (10, "the quick brown dog sleeps", "train"),
            (11, "another train document entirely", "train"),
        ],
        "doc_id long, text string, split string",
    )
    out = {
        r.doc_id: r
        for r in contamination_report(docs, "split = 'eval'").collect()
    }
    # doc 1: shingles {the quick brown, quick brown fox, brown fox jumps};
    # only the first appears in train
    assert out[1].n_shingles == 3 and out[1].n_contaminated == 1
    assert out[1].contamination == round(1 / 3, 6)
    assert out[2].n_contaminated == 0 and out[2].contamination == 0.0
    assert 10 not in out and 11 not in out


def test_ab_power_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import ab_power

    # 4 even users (2 convert), 4 odd users (0 convert)
    rows = [(u, "click") for u in range(8)] + [
        (u, "purchase") for u in (0, 2)
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_power(ev).collect()[0]
    assert r.n_a == 4 and r.n_b == 4
    assert r.p_a == 0.5 and r.p_b == 0.0 and r.delta == 0.5
    # required n for delta=0.5 with var=0.25: 7.84888*0.25/0.25 ≈ 7.85
    assert 7.0 < r.required_n_per_arm < 8.5
    assert r.mde > 0
    # no conversions anywhere -> delta 0 -> NULL required_n
    ev0 = spark.createDataFrame(
        [(u, "click") for u in range(8)], "user_id long, event_type string"
    )
    assert ab_power(ev0).collect()[0].required_n_per_arm is None


def test_gains_lift_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import gains_lift

    # 20 rows; scores descending; all 4 positives in the top-4 scores ->
    # decile 2 (top 20%) captures 100% at lift 5.0
    rows = [(i, 100 - i, 1 if i < 4 else 0) for i in range(20)]
    df = spark.createDataFrame(rows, "k int, s int, y int")
    out = {r.decile: r for r in gains_lift(df, "k", "s", "y = 1").collect()}
    assert out[2].pos_cum == 4 and out[2].capture == 1.0
    assert out[2].lift == 5.0
    assert out[10].n_cum == 20 and out[10].lift == 1.0


# ---------------------------------------------------------------------------
# round-6 late batch 15: clustering coeff, interarrival, SLA, SRM, entropy


def test_clustering_coefficients_hand(spark):
    from hadoop_2_7_1_spark.operators.graph import clustering_coefficients

    # triangle 1-2-3 plus pendant path 3-4-5: nodes 1,2 have cc=1
    # (bucket 10), node 3 deg=3 tri=1 -> cc=1/3 (bucket 3), node 4 deg=2
    # tri=0 (bucket 0), node 5 deg=1 excluded
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src int, dst int"
    )
    out = {r.cc_bucket: r.n_nodes for r in clustering_coefficients(edges).collect()}
    assert out == {10: 2, 3: 1, 0: 1}


def test_interarrival_stats_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import interarrival_stats

    # constant 60s gaps -> mean 60, stddev 0, cv NULL-safe 0... stddev=0
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", "a") for i in range(10)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).selectExpr("event_id", "cast(ts_s as timestamp) as ts", "event_type")
    r = interarrival_stats(ev).collect()[0]
    assert r.n == 9 and r.mean_val == 60.0 and r.stddev == 0.0
    assert r.cv == 0.0


def test_sla_report_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import sla_report

    # events in hours 0,1,3 of a 4-hour span -> 3/4 = 75% availability;
    # max gap = 02:00->03:30 is 2h10m = 7800s... use exact minutes
    rows = [
        (1, "2024-01-01 00:10:00", "a"),
        (2, "2024-01-01 01:20:00", "a"),
        (3, "2024-01-01 03:30:00", "a"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).selectExpr("event_id", "cast(ts_s as timestamp) as ts", "event_type")
    r = sla_report(ev).collect()[0]
    assert r.span_hours == 4 and r.active_hours == 3
    assert r.availability_pct == 75.0
    assert r.max_gap_s == 2 * 3600 + 10 * 60


def test_srm_check_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import srm_check

    # balanced split -> chi2 0; badly skewed 90/10 split -> detected
    ok = spark.createDataFrame([(u, "x") for u in range(10)], "user_id long, event_type string")
    r = srm_check(ok).collect()[0]
    assert r.n_a == 5 and r.n_b == 5 and r.chi2 == 0.0 and r.srm_detected is False
    bad = spark.createDataFrame(
        [(2 * u, "x") for u in range(90)] + [(2 * u + 1, "x") for u in range(10)],
        "user_id long, event_type string",
    )
    r2 = srm_check(bad).collect()[0]
    assert r2.n_a == 90 and r2.chi2 == 64.0 and r2.srm_detected is True


def test_char_entropy_rate_hand(spark):
    from hadoop_2_7_1_spark.operators.textops import char_entropy_rate

    import math

    # 'ababab...' -> next char fully determined -> entropy 0
    # 'aabb aabb' style with branching -> entropy > 0
    docs = spark.createDataFrame(
        [("det", "ababababab"), ("mix", "aabbaabbab")],
        "lang string, text string",
    )
    out = {r.lang: r for r in char_entropy_rate(docs).collect()}
    assert out["det"].entropy_nats == 0.0
    assert out["det"].n_bigrams_total == 9
    assert out["mix"].entropy_nats > 0.3
    # upper bound: ln(alphabet size)
    assert out["mix"].entropy_nats < math.log(4) + 1e-9
    # single-char doc contributes no bigrams and no crash
    tiny = spark.createDataFrame([("t", "x")], "lang string, text string")
    assert char_entropy_rate(tiny).collect() == []


# ---------------------------------------------------------------------------
# round-6 late batch 16: lexical diversity, IQR, Theil-Sen, stickiness,
# centroid drift


def test_lexical_diversity_hand(spark):
    from hadoop_2_7_1_spark.operators.textops import lexical_diversity

    docs = spark.createDataFrame(
        [
            (1, "rich", "alpha beta gamma delta"),       # TTR 1.0
            (2, "poor", "spam spam spam spam"),          # TTR 0.25
            (3, "tiny", "x"),                            # excluded (n < 2)
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in lexical_diversity(docs).collect()}
    assert out["rich"].mean_ttr == 1.0 and out["rich"].mean_maas == 0.0
    assert out["poor"].mean_ttr == 0.25 and out["poor"].mean_maas > 0.5
    assert "tiny" not in out


def test_iqr_outliers_hand(spark):
    from hadoop_2_7_1_spark.operators.aggregates import iqr_outliers

    # 11 tight values + one far outlier
    vals = list(range(100, 111)) + [10_000]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v int")
    r = iqr_outliers(df, "grp", "v").collect()[0]
    assert r.n == 12
    assert r.q1 == 102 and r.q3 == 108  # ceil(.25*12)=3rd, ceil(.75*12)=9th
    assert r.n_outliers == 1
    # uniform data -> zero outliers
    u = spark.createDataFrame([("g", v) for v in range(20)], "grp string, v int")
    assert iqr_outliers(u, "grp", "v").collect()[0].n_outliers == 0


def test_theil_sen_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import theil_sen_hourly

    # clean +100 cents/hour trend with one corrupted hour: Theil-Sen
    # stays at 100, OLS would not
    rows = []
    for h in range(10):
        v = 1.0 * (h + 1) if h != 5 else 500.0
        rows.append(("a", f"2024-01-01 {h:02d}:00:00", v))
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    r = theil_sen_hourly(ev).collect()[0]
    assert r.n_pairs == 45
    assert r.slope_cents_per_hour == 100.0


def test_stickiness_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import stickiness

    # 2 days; user 1 active both days, user 2 only day 1 ->
    # dau = [2, 1], mau = 2, stickiness = 1.5/2
    rows = [
        (1, "2024-03-01 10:00:00"),
        (2, "2024-03-01 11:00:00"),
        (1, "2024-03-02 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_s string").selectExpr(
        "user_id", "cast(ts_s as timestamp) as ts"
    )
    r = stickiness(ev).collect()[0]
    assert r.n_days == 2 and r.mau == 2
    assert r.avg_dau == 1.5 and r.stickiness == 0.75


def test_label_centroid_drift_hand(spark):
    from hadoop_2_7_1_spark.operators.similarity import label_centroid_drift

    # label 0 along +e0, label 1 along +e1: global centroid is diagonal,
    # both labels sit at cos 1/sqrt(2) from it
    rows = [
        (0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1), (3, [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in label_centroid_drift(emb).collect()}
    import math

    want = round(1 / math.sqrt(2), 6)
    assert out[0].n_vecs == 2 and abs(out[0].cos_to_global - want) < 2e-6
    assert abs(out[1].cos_to_global - want) < 2e-6


# ---------------------------------------------------------------------------
# round-6 late batch 17: k-center, group mode, boilerplate, bot flags


def test_kcenter_spreads(spark):
    from hadoop_2_7_1_spark.operators.similarity import kcenter_select

    # cluster at origin-ish plus one far point: far point must be picked
    # second (it maximizes min-distance to the anchor)
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.1, 0.0]),
        (2, [0.0, 0.1]),
        (3, [10.0, 10.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(kcenter_select(emb, k=3, pool=4).collect(), key=lambda r: r.rnk)
    assert out[0].vec_id == 0 and out[0].min_dist_to_prior is None
    assert out[1].vec_id == 3 and out[1].min_dist_to_prior == 200.0
    # third pick: farthest from {0, 3} among {1, 2} -> tie on distance
    # (0.01 to vec 0) broken by vec_id
    assert out[2].vec_id == 1 and out[2].min_dist_to_prior == 0.01


def test_group_mode_hand(spark):
    from hadoop_2_7_1_spark.operators.aggregates import group_mode

    df = spark.createDataFrame(
        [("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c"),
         ("h", "z")],
        "grp string, v string",
    )
    out = {r.grp: r for r in group_mode(df, "grp", "v").collect()}
    # tie between a and b at count 2 -> min value 'a' wins
    assert out["g"].mode_value == "a" and out["g"].mode_count == 2
    assert out["h"].mode_value == "z" and out["h"].mode_count == 1


def test_boilerplate_prefixes_hand(spark):
    from hadoop_2_7_1_spark.operators.textops import boilerplate_prefixes

    docs = spark.createDataFrame(
        [(i, "terms of service apply here doc%d" % i, "s1") for i in range(8)]
        + [(100, "unique opening line once", "s1")]
        + [(200 + i, "totally random text %d" % i, "s2") for i in range(3)],
        "doc_id long, text string, source string",
    )
    out = boilerplate_prefixes(docs, min_share_pct=50).collect()
    s1 = [r for r in out if r.source == "s1"]
    assert len(s1) == 1 and s1[0].prefix == "terms of service"
    assert s1[0].n_docs_with == 8 and s1[0].n_docs == 9
    assert s1[0].rnk == 1


def test_bot_flags_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import bot_flags

    rows = (
        # user 1: 6 events in one minute -> burst bot
        [(i, 1, f"2024-01-01 00:00:{i:02d}") for i in range(10, 16)]
        # user 2: two events 10 minutes apart -> human
        + [(20, 2, "2024-01-01 00:00:00"), (21, 2, "2024-01-01 00:10:00")]
    )
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).selectExpr("event_id", "user_id", "cast(ts_s as timestamp) as ts")
    out = {r.user_id: r for r in bot_flags(ev).collect()}
    assert out[1].peak_per_minute == 6 and out[1].is_bot is True
    assert out[1].n_rapid == 0  # 1s gaps are not sub-second
    assert out[2].peak_per_minute == 1 and out[2].is_bot is False


# ---------------------------------------------------------------------------
# round-6 late batch 18: rebalance, ratio CI, water filling, shingle profile


def test_rebalance_classes_exact_counts(spark):
    from hadoop_2_7_1_spark.operators.sampling import rebalance_classes

    rows = [(i, "big") for i in range(20)] + [(100 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {r.lang: r for r in rebalance_classes(df).collect()}
    assert out["big"].n_before == 20 and out["big"].n_after == 3
    assert out["small"].n_after == 3
    # small class keeps everything -> id sum is exact
    assert out["small"].kept_id_sum == 100 + 101 + 102
    # determinism: second run selects the identical ids
    out2 = {r.lang: r for r in rebalance_classes(df).collect()}
    assert out2["big"].kept_id_sum == out["big"].kept_id_sum


def test_ratio_metric_ci_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import ratio_metric_ci

    # identical users -> zero variance -> se 0, ci collapses to theta
    rows = []
    for uid in (0, 2, 4):  # variant 0 only
        rows += [(uid, "click", 0.0), (uid, "purchase", 2.0)]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    r = ratio_metric_ci(ev).collect()[0]
    # theta = 200 cents / 2 events = 100 cents per event
    assert r.variant == 0 and r.n_users == 3
    assert r.theta == 100.0 and r.se == 0.0
    assert r.ci_lo == 100.0 and r.ci_hi == 100.0


def test_water_filling_hand(spark):
    from hadoop_2_7_1_spark.operators.packing import water_filling_budget

    # sizes 10, 20, 100, 200; budget = 330/2 = 165.
    # 10 and 20 fully funded (cum 30); cap = (165-30) div 2 = 67
    df = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 100), ("d", 200)], "k string, t int"
    )
    out = {r.k: r for r in water_filling_budget(df, "k", "t").collect()}
    assert out["a"].allocated == 10 and out["a"].capped is False
    assert out["b"].allocated == 20 and out["b"].capped is False
    assert out["c"].allocated == 67 and out["c"].capped is True
    assert out["d"].allocated == 67 and out["d"].capped is True
    assert sum(r.allocated for r in out.values()) <= 165
    # trivial: budget covers everything -> nobody capped
    full = water_filling_budget(df, "k", "t", budget_num=1, budget_den=1).collect()
    assert all(r.allocated == r.tokens for r in full)


def test_shingle_profile_hand(spark):
    from hadoop_2_7_1_spark.operators.dedup import shingle_profile

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "s1"),
            (2, "the cat sat on the rug", "s1"),   # shares 3 shingles with 1
            (3, "all words differ here now", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in shingle_profile(docs).collect()}
    # s1: 2 docs x 4 shingles = 8 total; 'the cat sat'/'cat sat on'/
    # 'sat on the' duplicated -> 5 distinct
    assert out["s1"].n_shingles == 8 and out["s1"].n_distinct == 5
    assert out["s1"].top_count == 2 and out["s1"].top_shingle == "cat sat on"
    assert out["s2"].repetition == 0.0


# ---------------------------------------------------------------------------
# round-6 late batch 19: decontamination plan, backtest WAPE, JS divergence


def test_decontaminate_plan_hand(spark):
    from hadoop_2_7_1_spark.operators.dedup import decontaminate_train

    docs = spark.createDataFrame(
        [
            (1, "benchmark question about spark internals today", "eval"),
            # train doc 10 copies 4+ shingles from eval -> dropped at max_hits=2
            (10, "benchmark question about spark internals yesterday", "train"),
            (11, "a completely unrelated training document", "train"),
        ],
        "doc_id long, text string, source string",
    )
    # treat the 'eval' source value as the held-out marker
    out = {
        r.source: r
        for r in decontaminate_train(docs, "source = 'eval'").collect()
    }
    assert out["train"].n_train == 2 and out["train"].n_dropped == 1
    assert out["train"].drop_pct == 50.0
    assert "eval" not in out


def test_backtest_wape_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import backtest_wape

    # two train days with constant hourly value 2.0; test day at 3.0 ->
    # model predicts 200 cents, actual 300 -> WAPE = 100/300 per hour
    rows = []
    for day in range(3):
        v = 2.0 if day < 2 else 3.0
        for h in range(4):
            rows.append(("a", f"2024-01-0{day + 1} {h:02d}:00:00", v))
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    r = backtest_wape(ev).collect()[0]
    assert r.n_test_hours == 4
    assert r.total_actual_cents == 1200 and r.total_abs_err_cents == 400
    assert r.wape == round(400 / 1200, 6)


def test_js_divergence_bounds(spark):
    from hadoop_2_7_1_spark.operators.textops import js_divergence_by_source

    import math

    # disjoint vocabularies -> JSD = ln 2; identical -> JSD ~ 0
    docs = spark.createDataFrame(
        [
            ("a", "alpha alpha beta beta"),
            ("b", "gamma gamma delta delta"),
        ],
        "source string, text string",
    )
    out = {r.source: r for r in js_divergence_by_source(docs).collect()}
    assert abs(out["a"].jsd_to_rest - math.log(2)) < 1e-6
    assert abs(out["b"].jsd_to_rest - math.log(2)) < 1e-6
    same = spark.createDataFrame(
        [("a", "x y z x y z"), ("b", "x y z x y z")], "source string, text string"
    )
    out2 = js_divergence_by_source(same).collect()
    assert all(abs(r.jsd_to_rest) < 1e-6 for r in out2)


# ---------------------------------------------------------------------------
# round-6 late batch 20: freshness, uncertainty sample, group split, p-chart


def test_freshness_report_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import freshness_report

    rows = [
        (1, "2024-01-01 10:00:00", "fresh"),
        (2, "2024-01-01 08:00:00", "stale"),
        (3, "2024-01-01 09:30:00", "ok"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string"
    ).selectExpr("event_id", "cast(ts_s as timestamp) as ts", "event_type")
    out = {r.event_type: r for r in freshness_report(ev).collect()}
    assert out["fresh"].lag_s == 0 and out["fresh"].stale_over_1h is False
    assert out["stale"].lag_s == 7200 and out["stale"].stale_over_1h is True
    assert out["ok"].lag_s == 1800 and out["ok"].stale_over_1h is False


def test_uncertainty_sample_hand(spark):
    from hadoop_2_7_1_spark.operators.sampling import uncertainty_sample

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate([100, 2499, 2500, 2502, 9000])],
        "doc_id long, n_chars long",
    )
    out = uncertainty_sample(df, 2500).collect()
    assert [r.id for r in out] == [2, 1, 3, 0, 4]  # dist 0, 1, 2, 2400, 6500
    assert out[0].dist == 0 and out[2].dist == 2


def test_group_split_no_leakage(spark):
    from hadoop_2_7_1_spark.operators.sampling import group_split

    # every user appears many times; total rows and groups conserved
    rows = [(u, i) for u in range(50) for i in range(4)]
    df = spark.createDataFrame(rows, "user_id long, x int")
    out = group_split(df).collect()
    assert sum(r.n_groups for r in out) == 50      # each user in ONE fold
    assert sum(r.n_rows for r in out) == 200
    for r in out:
        assert r.n_rows == 4 * r.n_groups          # whole groups travel


def test_p_chart_flags_spike(spark):
    from hadoop_2_7_1_spark.operators.temporal import p_chart

    rows = []
    for h in range(10):
        for i in range(100):
            # baseline 1% errors; hour 7 spikes to 30%
            is_err = (i < 30) if h == 7 else (i < 1)
            rows.append((f"2024-01-01 {h:02d}:00:{i % 60:02d}",
                         "error" if is_err else "click"))
    ev = spark.createDataFrame(rows, "ts_s string, event_type string").selectExpr(
        "cast(ts_s as timestamp) as ts", "event_type"
    )
    out = {r.bucket_h % 24: r for r in p_chart(ev, "event_type = 'error'").collect()}
    spiked = [h for h, r in out.items() if r.out_of_control]
    assert spiked == [7]
    assert out[7].p == 0.3 and out[0].p == 0.01


def test_holt_linear_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import holt_linear

    # three days, daily sums 100/200/300 cents; replay the fixed-point
    # recurrence (scale 1e4, alpha=3/10, beta=1/10, truncating div) in
    # pure Python and pin the engine to it
    rows = [
        ("a", "2024-01-01 00:00:00", 1.0),
        ("a", "2024-01-02 00:00:00", 2.0),
        ("a", "2024-01-03 00:00:00", 3.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    S = 10_000

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    l, b, sae = 100 * S, 0, 0
    for y in (200, 300):
        nl = trunc_div(3 * y * S + 7 * (l + b), 10)
        nb = trunc_div((nl - l) + 9 * b, 10)
        sae += abs(y * S - (l + b))
        l, b = nl, nb
    r = holt_linear(ev).collect()[0]
    assert r.n_days == 3
    assert r.level_s == l and r.trend_s == b
    assert r.forecast_next_s == l + b
    assert r.mae_s == sae // 2


def test_changepoint_sse_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import changepoint_sse

    # level shift after day 3: 100,100,100 then 500,500,500 -> split_t=3
    rows = [
        ("a", f"2024-01-0{d} 00:00:00", 1.0 if d <= 3 else 5.0)
        for d in range(1, 7)
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    r = changepoint_sse(ev).collect()[0]
    assert r.split_t == 3 and r.n_days == 6
    assert r.mean_left_cents == 100 and r.mean_right_cents == 500
    # exact rational gain: V(3) - S^2/n over den 3*3*6; SSE drop of a
    # clean level shift = n/4 * (500-100)^2 * ... verify num/den directly
    s_i, s, t, n = 300, 1800, 3, 6
    num = s_i * s_i * (n - t) * n + (s - s_i) ** 2 * t * n - s * s * t * (n - t)
    # gain_num is an exact digit STRING (decimal-38 is not portable on the
    # driver hash surface — the r7 red); plain digits, no exponent form
    assert isinstance(r.gain_num, str) and r.gain_num == str(num)
    assert r.gain_den == t * (n - t) * n


def test_identity_stitch_hand(spark):
    from hadoop_2_7_1_spark.operators.graph import identity_stitch

    # users 1,2 share device 7 (>=2 sightings each); user 3 only on
    # device 9 -> entity {1,2} (size 2) and {3} (size 1)
    rows = []
    for u, k, times in ((1, 7, 2), (2, 7, 3), (3, 9, 2), (1, 9, 1)):
        rows += [(u, '{"k": %d}' % k)] * times
    ev = spark.createDataFrame(rows, "user_id bigint, props string")
    out = {
        r.user_id: (r.entity_id, r.n_users)
        for r in identity_stitch(ev, min_support=2).collect()
    }
    assert out[1] == out[2] and out[1][1] == 2
    assert out[3][1] == 1 and out[3][0] != out[1][0]


def test_parquet_rowgroup_stats_fixture(spark, tmp_path):
    import pandas as pd

    from hadoop_2_7_1_spark.sources.pqstats import (
        parquet_rowgroup_stats,
        write_fixture,
    )

    pdf = pd.DataFrame({"k": list(range(100)), "t": [0] * 100})
    path = str(tmp_path / "fx.parquet")
    write_fixture(pdf, path, ["k", "t"], row_group_size=30)
    rows = sorted(
        parquet_rowgroup_stats(spark, [path], "k").collect(),
        key=lambda r: r.row_group,
    )
    assert [r.num_rows for r in rows] == [30, 30, 30, 10]
    assert rows[0].min_v == 0 and rows[0].max_v == 29
    assert rows[3].min_v == 90 and rows[3].max_v == 99
    assert all(r.null_count == 0 for r in rows)


def test_write_fixture_distributed_pins_schema_and_handles_empty(spark, tmp_path):
    """ADVICE r10: the distributed fixture writer must (a) pin one Arrow
    schema from the Spark schema so a batch whose pandas dtypes drift
    (nulls flipping int64 -> float64) cannot crash the writer, and (b)
    produce a footer-readable EMPTY file for a zero-row input, like the
    driver-side write_fixture always did."""
    import pyarrow.parquet as pq

    from hadoop_2_7_1_spark.sources.pqstats import write_fixture_distributed

    # nullable bigint column: some batches will surface as float64 in pandas
    df = spark.range(100).selectExpr(
        "id AS k", "CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS v"
    )
    path = str(tmp_path / "drift.parquet")
    n = write_fixture_distributed(df, path, ["k"], row_group_size=30)
    assert n == 100
    f = pq.ParquetFile(path)
    assert f.metadata.num_rows == 100
    assert [f.metadata.row_group(i).num_rows for i in range(f.num_row_groups)] == [
        30,
        30,
        30,
        10,
    ]
    assert f.schema_arrow.field("v").type == "int64"  # pinned, not inferred

    empty = df.filter("k < 0")
    epath = str(tmp_path / "empty.parquet")
    assert write_fixture_distributed(empty, epath, ["k"], row_group_size=30) == 0
    ef = pq.ParquetFile(epath)
    assert ef.metadata.num_rows == 0
    assert [fld.name for fld in ef.schema_arrow] == ["k", "v"]


def test_snap_compact_files_drop_and_time_travel(spark, tmp_path):
    import glob

    from pyspark.sql import functions as SF

    from hadoop_2_7_1_spark.sources import snaptable

    root = str(tmp_path / "tbl")
    df = spark.range(90).select(SF.col("id"))
    for r in (0, 1, 2):
        snaptable.snap_commit(
            df.filter(SF.col("id") % 3 == r).repartition(4), root, "append"
        )
    before = len(glob.glob(f"{root}/data/v*/part-*.parquet"))
    v = snaptable.snap_compact(spark, root, target_files=1)
    assert v == 4
    after = len(
        glob.glob(f"{root}/data/v{v}/part-*.parquet")
    )
    assert before >= 12 and after == 1
    # content identical, prior version still time-travel readable
    assert snaptable.snap_read(spark, root).count() == 90
    got = sorted(r.id for r in snaptable.snap_read(spark, root).collect())
    assert got == list(range(90))
    assert snaptable.snap_read(spark, root, 3).count() == 90


def test_rolling_features_hand(spark):
    from hadoop_2_7_1_spark.operators.temporal import rolling_features

    # days 1,2,3,10 (gap): RANGE window must NOT bridge the gap
    rows = [
        ("a", "2024-01-01 00:00:00", 1.0),
        ("a", "2024-01-02 00:00:00", 2.0),
        ("a", "2024-01-03 00:00:00", 3.0),
        ("a", "2024-01-10 00:00:00", 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    out = {r.day: r for r in rolling_features(ev).collect()}
    days = sorted(out)
    d1, d2, d3, d10 = days
    assert out[d3].roll_sum == 600 and out[d3].roll_n == 3
    # day 10 is 7 days after day 3 -> outside the 6-preceding RANGE frame
    assert out[d10].roll_sum == 400 and out[d10].roll_n == 1
    # lag is ROW-based over the daily frame (documented): lag1 of day10 = day3
    assert out[d10].lag1 == 300 and out[d10].lag7 == -1
    assert out[d1].lag1 == -1


def test_sequential_poisson_weights_bias(spark):
    from hadoop_2_7_1_spark.operators.sampling import sequential_poisson_sample

    # 200 light rows (w=1) vs 200 heavy rows (w=100): the k=40 sample
    # must skew heavily toward the heavy stratum (pps property)
    df = spark.range(400).selectExpr(
        "id AS doc_id", "case when id < 200 then 1 else 100 end as n_chars"
    )
    picked = sequential_poisson_sample(df, k=40).collect()
    assert len(picked) == 40
    heavy = sum(1 for r in picked if r.id >= 200)
    assert heavy >= 30  # E[heavy] ~ 40 * 100/101
    # priorities ascending, deterministic
    pris = [r.priority for r in picked]
    assert pris == sorted(pris)


def test_threshold_join_subset_of_truth(spark):
    from hadoop_2_7_1_spark.operators.similarity import threshold_join

    from hadoop_2_7_1_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    got = threshold_join(emb, threshold=0.3, bucket_dims=6).collect()
    assert len(got) > 0
    # every reported pair is canonical, above threshold, and Hamming<=1
    for r in got[:50]:
        assert r.id_a < r.id_b and r.cos >= 0.3


def test_feature_hashing_shape(spark):
    from hadoop_2_7_1_spark.operators.textops import feature_hashing

    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 37], "text": ["a b a", "x y"]})
    )
    rows = feature_hashing(docs, dim=8, doc_mod=37).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, 0)
        by_doc[r.doc_id] += r.cnt
        assert 0 <= r.feat < 8
    assert by_doc == {0: 3, 37: 2}


def test_decompose_hourly_identity(spark):
    from hadoop_2_7_1_spark.operators.temporal import decompose_hourly

    # y = trend + seasonal + residual must hold exactly at output rounding
    rows = []
    for d in range(1, 4):
        for h in range(0, 24, 3):
            rows.append(("a", f"2024-01-0{d} {h:02d}:00:00", float(100 + h)))
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    out = decompose_hourly(ev).collect()
    assert len(out) == 24
    for r in out:
        assert abs(r.y_cents - (r.trend + r.seasonal + r.residual)) < 2e-6 * max(
            1.0, abs(r.y_cents)
        )


def test_nested_json_roundtrip_lossless(spark):
    from hadoop_2_7_1_spark.queries import REGISTRY

    got = {
        r.o_key: (r.n_items, r.qty_cents)
        for r in REGISTRY["src_nested_json"].fn(spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    want = {
        r.l_orderkey: (r.n, r.q)
        for r in li.groupBy("l_orderkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr("cast(round(l_quantity * 100) as bigint)"))
            .cast("bigint")
            .alias("q"),
        )
        .collect()
    }
    assert got == want


def test_tfidf_cosine_pairs_hand(spark):
    from hadoop_2_7_1_spark.operators.dedup import tfidf_cosine_pairs

    import pandas as pd

    # terms are word 3-shingles: docs 1,2 identical (every shingle df=2,
    # kept) -> cos 1.0; doc 3 shares no shingle with them (its shingles
    # are df=1, dropped) -> no pair
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta",
                    "alpha beta gamma delta",
                    "zeta eta theta iota",
                ],
            }
        )
    )
    got = {
        (r.id_a, r.id_b): r.cos
        for r in tfidf_cosine_pairs(docs, df_min=2, df_max=3, threshold=0.5).collect()
    }
    assert got == {(1, 2): 1.0}


def test_betweenness_path_graph(spark):
    from hadoop_2_7_1_spark.operators.graph import betweenness_sampled

    # undirected path a-b-c-d from pivot a: delta(b)=2 (carries c,d),
    # delta(c)=1 (carries d), delta(d)=0
    pairs = [("a", "b"), ("b", "c"), ("c", "d")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    got = {r.node: r.bc for r in betweenness_sampled(edges, ["a"], depth=3).collect()}
    assert got == {"b": 2.0, "c": 1.0}


def test_betweenness_diamond_split_paths(spark):
    from hadoop_2_7_1_spark.operators.graph import betweenness_sampled

    # diamond a->{b,c}->d: the single target d has two shortest paths, so
    # each broker carries sigma_b/sigma_d = 1/2 of the pair dependency
    pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    got = {r.node: r.bc for r in betweenness_sampled(edges, ["a"], depth=2).collect()}
    assert got == {"b": 0.5, "c": 0.5}


def test_betweenness_depth_one_empty(spark):
    from hadoop_2_7_1_spark.operators.graph import betweenness_sampled

    # depth=1: no path of length <= 1 has an interior node, so every bc
    # is 0 and the declared output is an EMPTY (node, bc) frame — the
    # r7 columnar rework crashed here (acc stayed None)
    pairs = [("a", "b"), ("b", "c")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    out = betweenness_sampled(edges, ["a"], depth=1)
    assert [f.name for f in out.schema.fields] == ["node", "bc"]
    assert out.collect() == []


def test_periodogram_detects_daily_cycle(spark):
    import math

    from hadoop_2_7_1_spark.operators.temporal import periodogram

    # pure daily sinusoid: amp at period 24 ~ the injected amplitude,
    # amp at period 168 near zero (partial-week leakage only)
    rows = []
    for d in range(1, 8):
        for h in range(24):
            v = 100.0 + 50.0 * math.cos(2 * math.pi * h / 24)
            rows.append(("a", f"2024-01-0{d} {h:02d}:00:00", v))
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    out = {r.period: r.amp for r in periodogram(ev).collect()}
    assert abs(out[24] - 5000.0) < 1.0  # 50.00 units = 5000 cents
    assert out[168] < 100.0


def test_seasonal_anomaly_fires_only_on_injected_spike(spark):
    from hadoop_2_7_1_spark.operators.temporal import seasonal_anomaly

    # strong hour-of-day seasonality (peak at noon every day) must NOT
    # fire; a single 10x spike at an off-peak hour must
    rows = []
    for d in range(1, 10):
        for h in range(24):
            v = 100.0 + (400.0 if h == 12 else 0.0)
            if d == 5 and h == 3:
                v = 5000.0
            rows.append(("a", f"2024-01-0{d} {h:02d}:00:00", v))
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value")
    out = seasonal_anomaly(ev).collect()
    assert len(out) >= 1
    hits = {(r.bucket.day, r.bucket.hour) for r in out}
    assert (5, 3) in hits
    # the daily noon peak itself is explained by the seasonal component
    assert not any(h == 12 and d != 5 for d, h in hits)


def test_match_pattern_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import match_pattern

    # user 1: v c p (match), v e p (error breaks it) -> 1 match
    # user 2: p v c (no completion) -> filtered out
    rows = [
        (1, "2024-01-01 00:00:00", "view", 1),
        (1, "2024-01-01 00:01:00", "click", 2),
        (1, "2024-01-01 00:02:00", "purchase", 3),
        (1, "2024-01-01 00:03:00", "view", 4),
        (1, "2024-01-01 00:04:00", "error", 5),
        (1, "2024-01-01 00:05:00", "purchase", 6),
        (2, "2024-01-01 00:00:00", "purchase", 7),
        (2, "2024-01-01 00:01:00", "view", 8),
        (2, "2024-01-01 00:02:00", "click", 9),
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_type string, event_id bigint"
    ).selectExpr("user_id", "cast(ts_s as timestamp) as ts", "event_type", "event_id")
    chars = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    out = {r.user_id: r.n_matches for r in match_pattern(ev, "v[^ep]*p", chars).collect()}
    assert out == {1: 1}


def test_time_weighted_avg_hand(spark):
    from hadoop_2_7_1_spark.operators.funnel import time_weighted_avg

    # value 1.00 held 10s, then 3.00 held 30s, last obs zero-width:
    # twap = (100*10 + 300*30) / 40 = 250.0 cents
    rows = [
        ("a", "2024-01-01 00:00:00", 1.0, 1),
        ("a", "2024-01-01 00:00:10", 3.0, 2),
        ("a", "2024-01-01 00:00:40", 9.0, 3),
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double, event_id bigint"
    ).selectExpr("event_type", "cast(ts_s as timestamp) as ts", "value", "event_id")
    r = time_weighted_avg(ev).collect()[0]
    assert r.n_obs == 2 and r.span_s == 40
    assert r.twap_cents == 250.0


def test_key_candidates_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import key_candidates

    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"pk": [1, 2, 3], "dup": [1, 1, 2], "nul": pd.array([1, None, 3], dtype="Int64")}
        )
    )
    out = {r.column_name: (r.n_distinct, r.n_nulls, r.is_key)
           for r in key_candidates(df, ["pk", "dup", "nul"]).collect()}
    assert out["pk"] == (3, 0, True)
    assert out["dup"] == (2, 0, False)
    assert out["nul"] == (2, 1, False)


def test_contrastive_pairs_labels(spark):
    from hadoop_2_7_1_spark.queries import REGISTRY

    out = REGISTRY["cur_contrastive_pairs"].fn(spark, SF_DIR).collect()
    assert len(out) > 0
    # label is agree >= 8 of 16 permutations, consistent per row
    for r in out:
        assert 0 <= r.agree <= 16
        assert r.label == (1 if r.agree >= 8 else 0)
    # at the unit-test SF every LSH candidate is a true near-dup; both
    # classes appear at sf0.01 (covered by the oracle-checked registry row)
    assert {r.label for r in out} <= {0, 1}


def test_edge_betweenness_path_graph(spark):
    from hadoop_2_7_1_spark.operators.graph import edge_betweenness_sampled

    # path a-b-c-d from pivot a: edge flows a->b = 1+delta(b) = 3,
    # b->c = 2, c->d = 1 (each DAG edge carries sigma ratio 1)
    pairs = [("a", "b"), ("b", "c"), ("c", "d")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    got = {(r.src, r.dst): r.ebc
           for r in edge_betweenness_sampled(edges, ["a"], depth=3).collect()}
    assert got == {("a", "b"): 3.0, ("b", "c"): 2.0, ("c", "d"): 1.0}


def test_time_split_purged_boundaries(spark):
    from hadoop_2_7_1_spark.operators.sampling import time_split_purged

    rows = [
        ("2024-01-20 12:00:00",),  # train
        ("2024-01-24 00:00:00",),  # embargo (within 1 day before test)
        ("2024-01-23 23:59:59",),  # train (just before embargo)
        ("2024-01-25 00:00:00",),  # test (inclusive start)
        ("2024-01-28 23:59:59",),  # test
        ("2024-01-29 00:00:00",),  # future (exclusive end)
    ]
    ev = spark.createDataFrame(rows, "ts_s string").selectExpr(
        "cast(ts_s as timestamp) as ts"
    )
    out = {r.split: r.n_rows for r in time_split_purged(
        ev, "2024-01-25 00:00:00", "2024-01-29 00:00:00").collect()}
    assert out == {"train": 2, "embargo": 1, "test": 2, "future": 1}


def test_corr_matrix_hand(spark):
    from hadoop_2_7_1_spark.operators.profile import corr_matrix

    import pandas as pd

    # y = 2x exactly -> r = 1; z anti-correlated with x -> r = -1
    df = spark.createDataFrame(
        pd.DataFrame({"x": [1, 2, 3, 4], "y": [2, 4, 6, 8], "z": [4, 3, 2, 1]})
    )
    out = {(r.col_x, r.col_y): r.r
           for r in corr_matrix(df, {"x": "x", "y": "y", "z": "z"}).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0


def test_exploded_word_shingles_row_parity(spark):
    """The position-sequence shingle generator must produce the same rows
    as the DuckDB oracle's shingle list (functions.oracle_word_shingles)
    for every edge shape: short docs (< n tokens -> no rows), exact-n docs,
    leading/trailing/multiple whitespace, and empty strings."""
    import duckdb
    import pandas as pd

    from hadoop_2_7_1_spark.functions import exploded_word_shingles, oracle_word_shingles

    rows = [
        (1, "a b c d e"),
        (2, "one two"),          # shorter than n=3 -> no shingles
        (3, "x y z"),            # exactly n
        (4, "  padded   text  with   gaps "),
        (5, ""),                 # empty -> no shingles
        (6, "solo"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    new = exploded_word_shingles(df.select("id", "text"), "text", 3, "shingle")
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["id", "text"]))
    ref = con.sql(
        f"SELECT id, unnest({oracle_word_shingles('text', 3)}) AS shingle FROM docs"
    ).fetchall()
    con.close()
    got_ref = sorted((int(i), sh) for i, sh in ref)
    got_new = sorted((r.id, r.shingle) for r in new.collect())
    assert got_ref == got_new
    assert (1, "a b c") in got_new and (3, "x y z") in got_new
    assert not any(i in (2, 5, 6) for i, _ in got_new)


def test_exploded_word_shingles_rejects_temp_name_collision(spark):
    """A caller frame already carrying __ws_tk/__ws_i would be silently
    clobbered by withColumn — the generator must refuse loudly instead."""
    import pytest

    from hadoop_2_7_1_spark.functions import exploded_word_shingles

    df = spark.createDataFrame([(1, "a b c", 9)], "id int, text string, __ws_tk int")
    with pytest.raises(ValueError, match="__ws_tk"):
        exploded_word_shingles(df, "text", 2, "shingle")


def test_rerank_linear_distills_l2_order(spark):
    """The rerank capstone: k rows per query with contiguous ranks, the
    learned scorer genuinely reorders the cosine shortlist (the norm
    features carry L2 signal the raw cosine lacks), and the whole
    retrieve->train->rerank pipeline is deterministic across runs."""
    from hadoop_2_7_1_spark.io import load_table
    from hadoop_2_7_1_spark.operators.similarity import rerank_linear

    emb = load_table(spark, SF_DIR, "embeddings")
    got = rerank_linear(emb, "vec_id % 100 = 0", pool=10, k=3, n_iter=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    assert by_q and all(len(v) == 3 for v in by_q.values())
    moved = 0
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == [1, 2, 3]
        # ranked by score desc (vec_id ties)
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
        if [r.vec_id for r in rows] != [
            r.vec_id for r in sorted(rows, key=lambda x: (-x.cos, x.vec_id))
        ]:
            moved += 1
    assert moved >= 1, "learned scorer never disagreed with raw cosine"
    again = rerank_linear(emb, "vec_id % 100 = 0", pool=10, k=3, n_iter=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
