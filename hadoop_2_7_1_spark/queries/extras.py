"""North-star extras: training-data-pipeline operators over documents /
embeddings / events (SURVEY.md §7 phase E). Each entry is both a library
operator (operators/dedup|similarity|textops|multimodal) and a declared,
oracle-checked query here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ws_tokens_sql
from ..io import load_table, scratch_dir
from ..operators import dedup, multimodal, similarity, textops
from ..operators.aggregates import (
    oracle_mad_outliers,
    oracle_weighted_median,
    oracle_winsorized_stats,
)
from ..operators.funnel import (
    oracle_attribution_linear,
    oracle_ab_test,
    oracle_funnel,
    oracle_ohlc_bars,
    oracle_retention,
    oracle_trend_ols,
)
from ..operators.graph import (
    oracle_hits,
    oracle_bfs_hops,
    oracle_label_propagation,
    oracle_modularity,
    oracle_pagerank,
    oracle_sssp,
)
from ..operators.temporal import (
    oracle_m4_downsample,
    oracle_cusum_alarms,
    oracle_gap_fill_interpolate,
    oracle_gap_fill_locf,
    oracle_lttb_downsample,
)
from ..operators.loadmodel import oracle_concurrency_curve, oracle_trace_digest
from ..operators.packing import oracle_pack_sequences, oracle_split_long_docs
from ..operators.partitioning import oracle_zorder_value
from ..operators.sketches import (
    oracle_histogram_quantiles,
    oracle_hll_distinct,
    oracle_hll_sliding_distinct,
    oracle_kmv_distinct,
)
from ..operators.profile import (
    oracle_benford,
    oracle_column_entropy,
    oracle_dp_release,
    oracle_drift_psi,
    oracle_expectations,
    oracle_forget_users,
    oracle_k_anonymity,
    oracle_profile,
)
from ..operators.sampling import (
    oracle_interleave_sources,
    oracle_domain_quota,
    oracle_epoch_mixture,
    oracle_hash_threshold,
    oracle_kfold,
    oracle_temperature_counts,
)
from . import register


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dd_exact_dup_props",
    """
    SELECT fp, CAST(count(*) AS BIGINT) AS n_dups, CAST(min(event_id) AS BIGINT) AS keep_id
    FROM (SELECT md5(props) AS fp, event_id FROM events)
    GROUP BY fp HAVING count(*) > 1
    """,
    doc="exact dedup groups by content hash (events.props has heavy duplication)",
)
def dd_exact_dup_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return dedup.exact_dup_groups(ev, "event_id", "props")


@register(
    "dd_exact_dup_docs",
    """
    SELECT fp, CAST(count(*) AS BIGINT) AS n_dups, CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM (SELECT md5(text) AS fp, doc_id FROM documents)
    GROUP BY fp HAVING count(*) > 1
    """,
    doc="exact dedup groups over document text (hash-groupBy, one shuffle)",
)
def dd_exact_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(docs, "doc_id", "text")


@register(
    "dd_minhash_lsh",
    dedup.oracle_lsh_candidate_pairs("documents", "doc_id", "text"),
    doc="MinHash(16 perms, salted md5) + LSH(4 bands) candidate pairs",
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs)


@register(
    "dd_ngram_jaccard",
    dedup.oracle_ngram_jaccard_pairs(
        "(SELECT * FROM documents WHERE doc_id % 10 = 0)", "doc_id", "text", 3, 0.5
    ),
    doc="exact 3-gram Jaccard pairs >= 0.5 over inverted shingle index (10% sample)",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.ngram_jaccard_pairs(docs, 3, 0.5)


@register(
    "dd_simhash",
    dedup.oracle_simhash("documents", "doc_id", "text"),
    doc="32-bit SimHash signature per doc (per-bit majority over token hashes)",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@register(
    "sim_topk_cosine",
    similarity.oracle_cosine_topk("embeddings", "vec_id < 5", k=5),
    doc="brute-force cosine top-5 for 5 broadcast query vectors",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=5)


@register(
    "sim_ivf_topk",
    similarity.oracle_ivf_topk("embeddings", "vec_id < 5", k=3, bucket_dims=8),
    doc="IVF-style ANN: sign-bucket coarse quantizer, exact top-3 in-bucket",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=3, bucket_dims=8)


@register(
    "sim_ivf_multiprobe",
    similarity.oracle_ivf_multiprobe_topk(
        "embeddings", "vec_id % 50 = 0", k=5, bucket_dims=6
    ),
    doc="multi-probe IVF: each query probes its sign bucket plus all "
        "Hamming-1 neighbors (7 probes on 6 dims) — the recall repair the "
        "sim_ann_recall audit motivates; probe fan-out rides the broadcast "
        "query side, candidates stay bucket-disjoint",
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivf_multiprobe_topk(emb, queries, k=5, bucket_dims=6)


@register(
    "sim_ann_recall",
    similarity.oracle_ann_recall("embeddings", "vec_id % 50 = 0", k=5, bucket_dims=6),
    doc="recall@5 of the sign-bucket IVF path vs brute-force ground truth "
        "on a sampled query set — the measure-don't-guess audit for the "
        "ANN family (vector twin of dd_minhash_accuracy)",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ann_recall(emb, queries, k=5, bucket_dims=6)


@register(
    "sim_knn_join",
    similarity.oracle_knn_join("embeddings", "vec_id % 25 = 0", k=2, bucket_dims=6),
    doc="big-to-big ANN join (no broadcast): sign-bucket equi-join with "
        "Hamming-1 multi-probe, per-query top-2 window",
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.knn_join(queries, emb, k=2, bucket_dims=6)


@register(
    "sim_retrieval_quality",
    similarity.oracle_retrieval_quality("embeddings", k=10),
    doc="offline retrieval-quality eval (r10 capstone): per-query recall@10 "
        "and nDCG@10 of the production multi-probe retriever (knn_join, "
        "size-derived bucket dims) against exact cosine top-10 — the "
        "measurement a 100 TB pipeline gates retriever deploys on. The "
        "query panel is a size-derived FIXED budget (~80 queries, stride "
        "= ceil(N/80), oracle-mirrored knob CTE) so the brute-force truth "
        "pass stays O(80*N) — a fractional panel would be O(N^2) and "
        "measured x9.2 at x5 data; nDCG gains are Python-computed "
        "DECIMAL(38,6) literals shared verbatim by both engines, so the "
        "sums are exact and order-free "
        "(operators/similarity.py:retrieval_quality)",
)
def sim_retrieval_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.retrieval_quality(emb, k=10)


@register(
    "sim_simhash_topk",
    similarity.oracle_simhash_topk("embeddings", None, k=5),
    doc="production query-serving retriever (r11): full-width 64-bit sign "
        "SimHash prefilter — per-query Hamming ranking via two bigint "
        "XOR+popcounts, integer-exact in both engines — then exact cosine "
        "re-rank of the top max(100, ceil(N/50)) candidates (size-derived "
        "knob CTE, the measured recall>=0.5 knee on this corpus; "
        "ADVICE/VERDICT r10 retrieval-decay fix). Query panel is the "
        "stride-knob FIXED budget (~80 queries) — per-query cost is O(N) "
        "popcounts, so a fractional panel would be the O(N^2) audit-panel "
        "bug class (operators/similarity.py:simhash_topk)",
)
def sim_simhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n_rows = emb.count()
    queries = emb.filter(
        F.col("vec_id") % similarity.derive_query_stride(n_rows) == 0
    )
    return similarity.simhash_topk(
        emb, queries, k=5, rerank_budget=similarity.derive_rerank_budget(n_rows)
    )


@register(
    "sim_simhash_retrieval",
    similarity.oracle_retrieval_quality("embeddings", k=10, retriever="simhash"),
    doc="retrieval-quality eval of the SimHash serving path (r11): per-query "
        "recall@10 + nDCG@10 of simhash_topk (auto rerank budget) vs exact "
        "cosine top-10 — the receipt that the r10 recall-decay finding is "
        "FIXED at defaults: recall@10 measured 0.80/0.63/0.54 at "
        "sf0.01/0.1/0.5 (vs 0.52->0.24 for the bucket multi-probe path on "
        "the same panel), with linear per-query cost; same fixed panel, "
        "DECIMAL-literal nDCG gains, and single-count knob derivation as "
        "sim_retrieval_quality (operators/similarity.py:retrieval_quality)",
)
def sim_simhash_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.retrieval_quality(emb, k=10, retriever="simhash")


@register(
    "sim_kmeans_recall_curve",
    similarity.oracle_kmeans_recall_curve(
        similarity.oracle_clustered_fixture("embeddings"),
        "vec_id < 2000 AND vec_id % 25 = 0",
        k=5,
        nprobes=(1, 2, 4),
        n_clusters=8,
        n_iter=2,
        dim=64,
    ),
    doc="recall@5 vs scan-fraction of the TRAINED k-means IVF path at "
        "nprobe 1/2/4 on the deterministic clustered fixture — the "
        "production operating-point curve (pick the smallest nprobe that "
        "meets the recall target); oracle replays Lloyd + both search "
        "paths bit-identically",
)
def sim_kmeans_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = similarity.clustered_fixture(load_table(spark, sf_dir, "embeddings"))
    cents = similarity.kmeans_fit(emb, k=8, n_iter=2)
    # FIXED query panel (vec_id < 2000 is the base-copy id range at every
    # scaled SF): a fractional panel (vec_id % 50) makes the recall audit
    # O(N^2/50) — the r10 three-point bench measured x2.54 at x2 data
    # before this became a constant 80-query panel (O(80*N), linear)
    queries = emb.filter((F.col("vec_id") < 2000) & (F.col("vec_id") % 25 == 0))
    return similarity.kmeans_recall_curve(
        emb, queries, cents, k=5, nprobes=(1, 2, 4)
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "txt_token_stats",
    textops.oracle_token_stats("documents", "doc_id", "text"),
    doc="whitespace + BPE-ish subtoken counts per doc",
)
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "txt_quality",
    textops.oracle_quality_score("documents", "doc_id", "text"),
    doc="alpha/punct/stopword ratios + composite quality score per doc",
)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "txt_langid",
    textops.oracle_lang_id("documents", "doc_id", "text"),
    doc="stopword-vote language ID (deterministic priority tie-break)",
)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "txt_fingerprint",
    textops.oracle_fingerprint("documents", "doc_id", "text"),
    doc="min-4 sketch of char-8-gram hashes (winnowing-style fingerprint)",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "mm_decode_meta",
    # Blob sizes are structural constants of the three builders: PNG
    # sig+IHDR+IEND = 45, GIF87a hdr+LSD+trailer = 14, JPEG SOI+SOF0+EOI =
    # 17 (multimodal.make_png/make_gif/make_jpeg); dims are md5-derived by
    # documents_as_media and re-read from the actual format bytes by the
    # real header parser.
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 14 ELSE 17 END AS BIGINT) AS n_bytes,
           CAST(64 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 512 AS BIGINT) AS width,
           CAST(64 + CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 512 AS BIGINT) AS height,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS fmt
    FROM documents
    """,
    doc="binary media metadata decode: Arrow-batched mapInPandas over a blob "
        "column with a REAL pure-stdlib header parser (PNG IHDR / GIF LSD / "
        "JPEG SOF scan / BMP DIB; operators/multimodal.py)",
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return multimodal.decode_image_meta(media)


@register(
    "mm_video_meta",
    # Parameters are md5-derived per doc; the oracle replays the
    # derivation while Spark re-reads them from the ACTUAL RIFF/AVI bytes
    # through parse_avi_header (operators/multimodal.py).
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(128 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1792 AS BIGINT) AS width,
           CAST(96 + CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 984 AS BIGINT) AS height,
           CAST(24 + CAST(('0x' || substr(md5(text), 17, 8)) AS BIGINT) % 7200 AS BIGINT) AS n_frames,
           CAST(CASE doc_id % 3 WHEN 0 THEN 33333 WHEN 1 THEN 41708 ELSE 16667 END
                AS BIGINT) AS us_per_frame
    FROM documents
    """,
    doc="video container metadata: deterministic RIFF/AVI blobs (real "
        "spec-conformant avih MainAVIHeader) decoded back by a pure-stdlib "
        "chunk walker over Arrow batches — the video leg of the multimodal "
        "family (30/23.976/60 fps frame intervals)",
)
def mm_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5(text.encode("utf-8")).hexdigest()
                w = 128 + int(h[0:8], 16) % 1792
                ht = 96 + int(h[8:16], 16) % 984
                frames = 24 + int(h[16:24], 16) % 7200
                us_pf = {0: 33333, 1: 41708, 2: 16667}[int(doc_id) % 3]
                ids.append(int(doc_id))
                blobs.append(multimodal.make_avi(w, ht, frames, us_pf))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(build, "media_id long, content binary")
    return multimodal.decode_video_meta(media)


@register(
    "mm_resize_pixels",
    # The full pixel path is oracle-predictable because the source image is
    # a deterministic gradient: pixel (x,y) = ((x*7+s)%256, (y*11+3s)%256,
    # (x+y+5s)%256) with s = doc_id % 251, source dims from md5(text), and
    # nearest-neighbor sampling sx = min(sw-1, x*sw//16). The oracle
    # replays that arithmetic; Spark gets the value by actually decoding
    # the resized PNG bytes.
    """
    WITH dims AS (
      SELECT doc_id,
             doc_id % 251 AS s,
             8 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 24 AS sw,
             8 + CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 24 AS sh
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(16 AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           'png' AS fmt,
           CAST(list_sum([
             list_sum([
               ((least(sw-1, (x*sw)//16)*7 + s) % 256)
               + ((least(sh-1, (y*sh)//16)*11 + s*3) % 256)
               + ((least(sw-1, (x*sw)//16) + least(sh-1, (y*sh)//16) + s*5) % 256)
             for x in range(16) ]) for y in range(16) ]) AS BIGINT) AS pixel_sum
    FROM dims
    """,
    doc="REAL image pixel path, distributed: build gradient PNGs -> "
        "pure-stdlib decode/unfilter -> nearest-neighbor resize to 16x16 -> "
        "re-encode -> re-decode and checksum the pixels "
        "(operators/multimodal.py png_decode/png_resize; north-star "
        "multimodal stage with no reference analogue)",
)
def mm_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = _hashlib.md5(str(text).encode("utf-8")).hexdigest()
                sw = 8 + int(h[:8], 16) % 24
                sh = 8 + int(h[8:16], 16) % 24
                ids.append(int(doc_id))
                blobs.append(
                    multimodal.make_png_with_pixels(sw, sh, int(doc_id) % 251)
                )
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(build, "media_id long, content binary")
    resized = multimodal.resize_images(media, 16, 16)

    def checksum(batches):
        for pdf in batches:
            ids, ws, hs, fmts, sums = [], [], [], [], []
            for media_id, blob in zip(pdf["media_id"], pdf["content"]):
                w, h, ch, px = multimodal.png_decode(bytes(blob))
                ids.append(int(media_id))
                ws.append(w)
                hs.append(h)
                fmts.append(multimodal.parse_image_header(bytes(blob))[0])
                sums.append(sum(px))
            yield pd.DataFrame(
                {"media_id": ids, "width": ws, "height": hs, "fmt": fmts,
                 "pixel_sum": sums}
            )

    return resized.mapInPandas(
        checksum,
        "media_id long, width long, height long, fmt string, pixel_sum long",
    )


def _dhash_gray(sx: str, sy: str) -> str:
    # gradient pixel formula from multimodal.make_png_with_pixels
    return (f"((({sx}) * 7 + s) % 256 + (({sy}) * 11 + 3 * s) % 256"
            f" + (({sx}) + ({sy}) + 5 * s) % 256) // 3")


_DHASH_W, _DHASH_H, _DHASH_SEEDS = 20, 14, 41
_DHASH_BIT = (
    "CASE WHEN "
    + _dhash_gray(f"least({_DHASH_W - 1}, ((x + 1) * {_DHASH_W}) // 9)",
                  f"least({_DHASH_H - 1}, (y * {_DHASH_H}) // 8)")
    + " > "
    + _dhash_gray(f"least({_DHASH_W - 1}, (x * {_DHASH_W}) // 9)",
                  f"least({_DHASH_H - 1}, (y * {_DHASH_H}) // 8)")
    + " THEN CAST(2 ** x AS BIGINT) ELSE 0 END"
)


@register(
    "mm_dhash_neardup",
    f"""
    WITH d AS (SELECT doc_id, doc_id % {_DHASH_SEEDS} AS s FROM documents),
    hx AS (
      SELECT doc_id,
             array_to_string(list_transform(range(0, 8), y ->
               printf('%02x', CAST(list_sum(list_transform(range(0, 8), x ->
                 {_DHASH_BIT})) AS BIGINT))), '') AS dhash
      FROM d
    )
    SELECT dhash, CAST(count(*) AS BIGINT) AS n_imgs,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM hx GROUP BY dhash HAVING count(*) > 1
    """,
    doc="image near-dup via perceptual dHash over the REAL pixel path: "
        "build gradient PNGs (seed = doc_id % 41), stdlib decode, 9x8 "
        "nearest-neighbor grayscale, adjacent-column difference bits -> 16 "
        "hex chars; group on the 16-byte hash, blobs never shuffled. The "
        "oracle replays the gradient arithmetic in closed form",
)
def mm_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                ids.append(int(doc_id))
                blobs.append(multimodal.make_png_with_pixels(
                    _DHASH_W, _DHASH_H, int(doc_id) % _DHASH_SEEDS))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(build, "media_id long, content binary")
    hashed = multimodal.dhash_images(media)
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count("*").cast("bigint").alias("n_imgs"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .filter(F.col("n_imgs") > 1)
    )


# ---------------------------------------------------------------------------
# Event-time windows / sessions / JSON (batch forms; streaming parity in
# hadoop_2_7_1_spark/streaming with tests)
# ---------------------------------------------------------------------------

@register(
    "evt_top_paths",
    """
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3,
             lead(ts, 2) OVER w AS t3,
             ts AS t1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path
      FROM seq
      WHERE e3 IS NOT NULL AND t3 <= t1 + INTERVAL 30 MINUTE
    ), c AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths GROUP BY path
    )
    SELECT path, n, CAST(rank() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk
    FROM c QUALIFY rnk <= 20
    """,
    doc="top event paths: 3-step user journeys within a 30-minute span "
        "(two lead()s on one user-keyed window — no self-joins), counted "
        "and ranked; the path-analysis staple of product analytics",
)
def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.col("ts").alias("t1"),
        F.lead("ts", 2).over(w).alias("t3"),
    ).filter(
        F.col("e3").isNotNull()
        & (F.col("t3") <= F.col("t1") + F.expr("interval 30 minutes"))
    )
    paths = seq.select(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    )
    c = paths.groupBy("path").agg(F.count("*").cast("bigint").alias("n"))
    wr = W.orderBy(F.desc("n"), F.asc("path"))
    return (
        c.withColumn("rnk", F.rank().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= 20)
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "evt_pivot_matrix",
    f"""
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
           {", ".join(
             f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
             f" AS {t}" for t in _PIVOT_TYPES)}
    FROM events GROUP BY 1
    """,
    doc="pivot surface: hour-of-day x event-type count matrix via "
        "groupBy().pivot() with EXPLICIT pivot values (no discovery pass "
        "over the data — at 100 TB value inference is a full extra scan)",
)
def evt_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.hour("ts").cast("bigint").alias("hour_of_day"))
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )
    return out.select(
        "hour_of_day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _PIVOT_TYPES],
    )


@register(
    "evt_unpivot_matrix",
    f"""
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
    doc="unpivot/melt surface: the wide hour x type matrix turned back to "
        "long form with DataFrame.melt (stack under the hood) — wide-table "
        "ingest normalization; zero-count cells drop to match the long "
        "groupBy the oracle computes",
)
def evt_unpivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.hour("ts").cast("bigint").alias("hour_of_day"))
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )
    long = wide.melt(
        ids=["hour_of_day"],
        values=_PIVOT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n",
    )
    return long.filter(F.col("n").isNotNull()).select(
        "hour_of_day", "event_type", F.col("n").cast("bigint").alias("n")
    )


@register(
    "evt_trend_ols",
    oracle_trend_ols("events"),
    doc="per-event-type OLS trend of value over time from exact decimal "
        "sufficient statistics (x re-based to the corpus min keeps every "
        "product inside 38 digits): integer-exact closed form, doubles "
        "only in the final division, rounded to 6 decimals",
)
def evt_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import trend_ols

    ev = load_table(spark, sf_dir, "events")
    return trend_ols(ev)


@register(
    "evt_rfm_segments",
    """
    WITH mx AS (SELECT max(ts) AS tmax FROM events),
    base AS (
      SELECT user_id,
             CAST(floor(epoch(tmax)) - floor(epoch(max(ts))) AS BIGINT) AS recency_s,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS monetary
      FROM events, mx GROUP BY user_id, tmax
    ), r AS (
      SELECT *,
             row_number() OVER (ORDER BY recency_s, user_id) AS rr,
             row_number() OVER (ORDER BY frequency, user_id) AS rf,
             row_number() OVER (ORDER BY monetary, user_id) AS rm,
             count(*) OVER () AS n
      FROM base
    )
    SELECT user_id, recency_s, frequency, monetary,
           CAST(5 - ((rr - 1) * 5 // n) AS BIGINT) AS r_score,
           CAST(1 + ((rf - 1) * 5 // n) AS BIGINT) AS f_score,
           CAST(1 + ((rm - 1) * 5 // n) AS BIGINT) AS m_score
    FROM r
    """,
    doc="RFM segmentation: per-user recency/frequency/decimal-monetary, "
        "quintile scores from three two-phase total-order ranks (no "
        "single-partition window over users), most-recent = r_score 5",
)
def evt_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import global_sort_with_rank

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    base = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "tmax")
        .agg(
            (
                F.unix_timestamp(F.first("tmax")) - F.unix_timestamp(F.max("ts"))
            ).cast("bigint").alias("recency_s"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("monetary"),
        )
        .drop("tmax")
    )
    ranked = base
    for rank_col, cols in (
        ("rr", ["recency_s", "user_id"]),
        ("rf", ["frequency", "user_id"]),
        ("rm", ["monetary", "user_id"]),
    ):
        ranked = global_sort_with_rank(ranked, cols, rank_col=rank_col)
    n = base.agg(F.count("*").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "recency_s",
        "frequency",
        "monetary",
        (5 - F.expr("((rr - 1) * 5) div n")).cast("bigint").alias("r_score"),
        (1 + F.expr("((rf - 1) * 5) div n")).cast("bigint").alias("f_score"),
        (1 + F.expr("((rm - 1) * 5) div n")).cast("bigint").alias("m_score"),
    )


@register(
    "evt_anomaly_mad",
    oracle_mad_outliers("events"),
    doc="robust per-type outliers via median/MAD (|v-med| > 3*1.4826*MAD): "
        "two grouped exact medians (histogram + per-group cumulative "
        "window over DISTINCT values) — the masking-proof twin of "
        "evt_anomaly's 3-sigma; flagged set is parallelism-independent",
)
def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    return mad_outliers(ev)


@register(
    "evt_time_to_convert",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id,
             CAST(floor(epoch(min(e.ts))) AS BIGINT)
               - CAST(floor(epoch(v.t_view)) AS BIGINT) AS delta_s
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id, v.t_view
    ), r AS (
      SELECT delta_s, row_number() OVER (ORDER BY delta_s) AS rn,
             count(*) OVER () AS n
      FROM p
    )
    SELECT CAST(coalesce(max(n), 0) AS BIGINT) AS n_converted,
           CAST(min(delta_s) AS BIGINT) AS min_s,
           CAST(min(CASE WHEN rn = (n + 1) // 2 THEN delta_s END) AS BIGINT)
             AS median_s,
           CAST(max(delta_s) AS BIGINT) AS max_s
    FROM r
    """,
    doc="view-to-purchase conversion latency: per-user first view joined "
        "to first later purchase, exact lower-median of the delta via the "
        "histogram + tiny-cumulative-window trick (window rows = distinct "
        "deltas, never input rows)",
)
def evt_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import exact_median

    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_buy"))
        .select(
            (
                F.unix_timestamp("t_buy") - F.unix_timestamp("t_view")
            ).alias("delta_s")
        )
    )
    med = exact_median(p, "delta_s", out_name="median_s")
    stats = p.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.min("delta_s").cast("bigint").alias("min_s"),
        F.max("delta_s").cast("bigint").alias("max_s"),
    )
    # LEFT join (not crossJoin): with zero conversions the median side is
    # empty but the ungrouped oracle aggregate still emits one all-NULL row —
    # this keeps both engines at exactly one row on degenerate input
    return stats.join(F.broadcast(med), F.lit(True), "left").select(
        "n_converted", "min_s", "median_s", "max_s"
    )


@register(
    "evt_cohort_value",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('month', min(ts)) AS cohort FROM events
      GROUP BY user_id
    )
    SELECT cohort,
           CAST(datediff('month', cohort, date_trunc('month', e.ts)) AS BIGINT)
             AS age_months,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users,
           CAST(sum(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS cohort_value
    FROM events e JOIN firsts USING (user_id)
    GROUP BY cohort, age_months
    """,
    doc="cohort value curves: users grouped by first-seen month, activity "
        "and decimal-accumulated value tracked by months-since-cohort — "
        "retention's revenue twin; one user-keyed agg + one equi-join",
)
def evt_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort")
    )
    joined = ev.join(firsts, "user_id")
    age = F.months_between(
        F.date_trunc("month", F.col("ts")), F.col("cohort")
    ).cast("bigint")
    return joined.groupBy("cohort", age.alias("age_months")).agg(
        F.count_distinct("user_id").cast("bigint").alias("active_users"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("cohort_value"),
    )


@register(
    "evt_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ), c AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur) AS p
    FROM c
    """,
    doc="first-order Markov transition matrix of user event sequences: "
        "lead() over the user timeline (one user-keyed shuffle), count per "
        "(cur,next), row-normalized to P(next|cur) — exact bigint/bigint "
        "division, no accumulation-order float risk",
)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    counts = seq.groupBy("cur", "nxt").agg(F.count("*").cast("bigint").alias("n"))
    w_cur = W.partitionBy("cur")
    return counts.withColumn(
        "p", F.col("n").cast("double") / F.sum("n").over(w_cur)
    )


@register(
    "evt_ohlc_bars",
    oracle_ohlc_bars("events"),
    doc="hypertable-style OHLC rollup per (event_type, hour): first/last "
        "by event time from ONE ascending row_number (last rank derived as "
        "n-rank+1 — no second descending sort), high/low/count plus a "
        "decimal-accumulated volume",
)
def evt_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import ohlc_bars

    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(ev)


@register(
    "evt_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="tumbling 1h event-time window aggregate (streaming twin in streaming/)",
)
def evt_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("win_start"), "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
    )


@register(
    "evt_session_window_native",
    """
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM sess GROUP BY user_id, sid
    """,
    doc="Spark's NATIVE session_window (30 min gap) in batch mode, cross-"
        "checked against first-principles SQL sessionization (lag-gap flag "
        "+ cumulative session id; empirically verified exactly-gap events "
        "MERGE, hence the strict > in the flag). Proves the native "
        "operator's merge semantics match the portable definition — the "
        "same operator the streaming session_counts twin uses",
)
def evt_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "cents",
        )
    )


@register(
    "cur_pipeline_stream",
    """
    WITH src AS (SELECT * FROM events UNION ALL SELECT * FROM events),
    deduped AS (SELECT DISTINCT * FROM src),
    dim AS (
      SELECT event_type,
             row_number() OVER (ORDER BY count(*) DESC, event_type) AS type_weight
      FROM events GROUP BY event_type
    ),
    enr AS (
      SELECT d.user_id, d.ts, d.event_id,
             CAST(round(d.value * 100) AS BIGINT) AS cents, m.type_weight
      FROM deduped d JOIN dim m USING (event_type)
      WHERE CAST(round(d.value * 100) AS BIGINT) >= 100
    ),
    ordered AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM enr
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, min(ts) AS t_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(sum(cents * type_weight) AS BIGINT) AS weighted_cents
    FROM sess GROUP BY user_id, sid
    """,
    doc="Streaming curation capstone, batch twin: the ONE-query incremental "
        "pipeline streaming.curate_sessions (stateful dedup -> broadcast dim "
        "enrich -> cents quality gate -> session_window rollup) run on a "
        "doubled events feed (every event delivered twice; the dedup stage "
        "must collapse them). Oracle re-derives it from first principles: "
        "DISTINCT * (event_id unique per source row) + lag-gap "
        "sessionization. pytest runs the SAME function as a real stream "
        "with availableNow and pins stream == batch",
)
def cur_pipeline_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..streaming import curate_sessions

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            "event_type",
            F.row_number()
            .over(W.orderBy(F.desc("cnt"), "event_type"))
            .alias("type_weight"),
        )
    )
    return curate_sessions(ev.unionByName(ev), dim)


@register(
    "evt_sessionize",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events, min(ts) AS t_start, max(ts) AS t_end
    FROM sess GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (30 min): lag + cumulative-sum session ids",
)
def evt_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            # microsecond-exact gap comparison, matching the oracle's
            # INTERVAL arithmetic (cast tolerates TIMESTAMP_NTZ inputs)
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w_cum))
    return sess.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_id").cast("bigint").alias("session_id"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
    )


@register(
    "evt_json_extract",
    """
    SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
    doc="JSON property extraction + aggregate (get_json_object vs json_extract)",
)
def evt_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).cast("bigint").alias("sum_k")
    )


@register(
    "dd_embedding_neardup",
    dedup.oracle_embedding_neardup("embeddings", threshold=0.4, bucket_dims=4),
    doc="embedding-cosine near-dup pairs (sign-bucket LSH candidates, cos >= 0.4)",
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(emb, threshold=0.4, bucket_dims=4)


# ---------------------------------------------------------------------------
# Source-layer operators as declared queries (sources/filters, sources/fixedlen)
# ---------------------------------------------------------------------------

@register(
    "src_md5_sample",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
    """,
    doc="SequenceFileInputFilter.MD5Filter: deterministic 1-in-10 sample by key md5",
)
def src_md5_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import filters as src_filters

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"), "event_type"
    )
    return src_filters.md5_filter(ev, "event_id", 10)


@register(
    "src_regex_filter",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents WHERE regexp_matches(text, '\\bdata\\b')
    """,
    doc="SequenceFileInputFilter.RegexFilter: scan-time regex predicate",
)
def src_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import filters as src_filters

    docs = load_table(spark, sf_dir, "documents")
    return src_filters.regex_filter(docs, "text", r"\bdata\b").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang"
    )


@register(
    "src_percent_filter",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 7 = 0
    """,
    doc="SequenceFileInputFilter.PercentFilter "
        "(MRC/mapreduce/lib/input/SequenceFileInputFilter.java:153): "
        "deterministic 1-in-7 keep by key hash — a pushed filter predicate, "
        "no shuffle; completes the regex/percent/MD5 filter trio's driver "
        "coverage",
)
def src_percent_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import filters as src_filters

    ev = load_table(spark, sf_dir, "events")
    return src_filters.percent_filter(ev, "event_id", 7).select(
        F.col("event_id").cast("bigint").alias("event_id"), "event_type"
    )


@register(
    "src_fixed_width",
    """
    WITH fw AS (
      SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
             || rpad(o_orderstatus, 2, ' ')
             || lpad(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 14, '0') AS line
      FROM orders
    ), parsed AS (
      SELECT CAST(substr(line, 1, 12) AS BIGINT) AS okey,
             trim(substr(line, 13, 2)) AS status,
             CAST(substr(line, 15, 14) AS BIGINT) AS cents
      FROM fw
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(max(okey) AS BIGINT) AS max_okey
    FROM parsed GROUP BY status
    """,
    doc="FixedLengthInputFormat round-trip: format to fixed-width, reparse by "
        "offsets (substring projection stays in codegen), aggregate",
)
def src_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.fixedlen import parse_fixed_width

    orders = load_table(spark, sf_dir, "orders")
    fw = orders.select(
        F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            F.rpad("o_orderstatus", 2, " "),
            F.lpad(F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 14, "0"),
        ).alias("line")
    )
    parsed = fw.select(
        *parse_fixed_width("line", [("okey_s", 1, 12), ("status_s", 13, 2), ("cents_s", 15, 14)])
    ).select(
        F.col("okey_s").cast("bigint").alias("okey"),
        F.trim(F.col("status_s")).alias("status"),
        F.col("cents_s").cast("bigint").alias("cents"),
    )
    return parsed.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.max("okey").cast("bigint").alias("max_okey"),
    )


# ---------------------------------------------------------------------------
# Temporal joins + grouping-set aggregates (engine extras beyond the reference)
# ---------------------------------------------------------------------------

def _asof_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two sides of the as-of queries: clicks, and purchases made
    unique per (user_id, ts) as ``asof_join`` requires."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("value").cast("double").alias("value"),
            F.max("event_id").cast("bigint").alias("event_id"),
        )
        .select(F.col("user_id").cast("bigint").alias("user_id"), "ts", "value", "event_id")
    )
    return clicks, purchases


@register(
    "tmp_asof_join",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, max(value) AS value, max(event_id) AS event_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT CAST(c.event_id AS BIGINT) AS event_id, CAST(c.user_id AS BIGINT) AS user_id,
           c.ts, p.ts AS r_ts, CAST(p.value AS DOUBLE) AS r_value,
           CAST(p.event_id AS BIGINT) AS r_event_id
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="as-of join: each click gets the latest preceding purchase per user "
        "(union + carry-forward window; no pair materialization)",
)
def tmp_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal

    return temporal.asof_join(*_asof_sides(spark, sf_dir), ["user_id"], "ts", "ts")


@register(
    "evt_attribution",
    oracle_attribution_linear("events", "purchase", ("click", "view"), 24),
    doc="linear multi-touch attribution with EXACT integer credit: each "
        "purchase's cents split by floor-division across the user's "
        "click/view touches in the prior 24h, remainder to the earliest "
        "touch (credits sum exactly to revenue at any parallelism); "
        "no-touch conversions credit a 'direct' channel; user-keyed "
        "equi-join with the window predicate in the join condition",
)
def evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import attribution_linear

    ev = load_table(spark, sf_dir, "events")
    return attribution_linear(ev, "purchase", ("click", "view"), 24)


@register(
    "evt_cusum",
    oracle_cusum_alarms("events", "event_type", "ts", "value", h_cents=50_000),
    doc="one-sided CUSUM change-point monitor per event type: the "
        "sequential recurrence S_t = max(0, S_(t-1) + x_t - k) rewritten "
        "as its parallel prefix form S_t = P_t - min(0, running-min P) — "
        "two window folds over ONE key-partitioned sort, exact integer "
        "cents throughout; k = per-key floor-mean, alarms when S > $500",
)
def evt_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import cusum_alarms

    ev = load_table(spark, sf_dir, "events")
    return cusum_alarms(ev, h_cents=50_000)


@register(
    "tmp_m4",
    oracle_m4_downsample("events"),
    doc="M4 downsampling (min/max/first/last per (series, hour) bucket, "
        "VLDB'14): the pixel-perfect line-rendering decimation, one keyed "
        "aggregation with first/last as lexicographic min/max over exact "
        "(epoch, cents) structs — ties engine-portable by construction "
        "(operators/temporal.py:m4_downsample)",
)
def tmp_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import m4_downsample

    ev = load_table(spark, sf_dir, "events")
    return m4_downsample(ev, width="hour")


@register(
    "tmp_lttb",
    oracle_lttb_downsample("events", "event_type", "ts", "value", width="day"),
    doc="LTTB downsampling (largest-triangle-three-buckets), bucket-average "
        "parallel variant: one representative point per (event type, day) "
        "maximizing the triangle with neighbor-bucket average points; "
        "endpoints pinned; geometry on exact epoch-seconds x cents "
        "integers, identical double op order in the oracle",
)
def tmp_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import lttb_downsample

    ev = load_table(spark, sf_dir, "events")
    return lttb_downsample(ev, width="day")


@register(
    "prof_dp_release",
    oracle_dp_release("customer", "c_nationkey", epsilon=1.0),
    doc="Laplace-mechanism histogram release of per-nation customer counts "
        "(sensitivity 1, epsilon=1): inverse-CDF noise on an md5-derived "
        "uniform — a DETERMINISTIC stand-in for secure randomness so the "
        "mechanism is oracle-checkable; swap hash for RNG at deploy time "
        "(documented in operators/profile.py:dp_release)",
)
def prof_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import dp_release

    cust = load_table(spark, sf_dir, "customer")
    return dp_release(cust, "c_nationkey", epsilon=1.0)


@register(
    "tmp_gap_fill_locf",
    oracle_gap_fill_locf("events"),
    doc="dense-spine gap filling with last-observation-carried-forward "
        "(hypertable locf shape): bucket spine exploded per key (bounded "
        "size), left join of observed buckets, last-ignorenulls window "
        "carries values across gaps",
)
def tmp_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal

    ev = load_table(spark, sf_dir, "events")
    return temporal.gap_fill_locf(ev)


@register(
    "tmp_interpolate",
    oracle_gap_fill_interpolate("(SELECT * FROM events WHERE value >= 15)"),
    doc="dense-spine gap filling by linear interpolation between nearest "
        "observed buckets (hypertable interpolate() twin of locf): exact "
        "integer cent-sums and epoch positions feed the interpolation "
        "formula, so filled doubles are engine-identical; sparse high-value "
        "event stream forces real gaps",
)
def tmp_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 15)
    return temporal.gap_fill_interpolate(ev)


@register(
    "tmp_range_join",
    """
    SELECT CAST(a.user_id AS BIGINT) AS user_id,
           CAST(a.event_id AS BIGINT) AS id_a, CAST(b.event_id AS BIGINT) AS id_b,
           CAST((epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)))
                / 1000000.0 AS DOUBLE) AS gap_sec
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 600 SECOND
    """,
    doc="interval self-join (pairs within 10 min per user) via bucketed "
        "equi-join: each row probes its own + successor bucket only",
)
def tmp_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"), "event_id", "ts"
    )
    return temporal.range_self_join(ev, ["user_id"], 600)


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (absent in the reference; free in Spark/DuckDB)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.count("*").cast("bigint").alias("n"),
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,4)"))
        .cast("double")
        .alias("sum_price")
    )


@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    doc="explicit GROUPING SETS (generalizes rollup/cube; absent in the "
        "reference, free in Spark/DuckDB)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.count("*").cast("bigint").alias("n"),
    )


@register(
    "agg_uniq_capped",
    """
    SELECT event_type,
           CAST(least(count(DISTINCT user_id), 100) AS BIGINT) AS uniq_capped,
           CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_exact
    FROM events GROUP BY event_type
    """,
    doc="UniqValueCount with maxNumItems cap "
        "(MRC/mapreduce/lib/aggregate/UniqValueCount.java:35)",
)
def agg_uniq_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.least(F.countDistinct("user_id"), F.lit(100)).cast("bigint").alias("uniq_capped"),
        F.countDistinct("user_id").cast("bigint").alias("uniq_exact"),
    )


@register(
    "agg_salted_skew",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS sum_value,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="skew-safe two-phase aggregation: 5 hot keys spread over 32 salt "
        "buckets, partials merged per key (operators/skew.py)",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("sum", F.count("*")),
            # decimal partials: the salted two-phase merge must reproduce the
            # oracle's single-stream double sum bit-for-bit
            "sum_value": ("sum", F.sum(F.col("value").cast("decimal(38,9)"))),
            "max_value": ("max", F.max("value")),
        },
        salt_source="event_id",
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@register(
    "dd_simhash_pairs",
    dedup.oracle_simhash_neardup("documents", "doc_id", "text", max_hamming=3),
    doc="SimHash near-dup pairs (Hamming <= 3) via pigeonhole byte-band "
        "lookup: 4 equi-joins on signature bytes, popcount on candidates only",
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(docs, max_hamming=3)


@register(
    "evt_sliding_window",
    """
    SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                     time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                       - INTERVAL '30 minutes']) AS win_start,
             event_type
      FROM events
    ) GROUP BY win_start, event_type
    """,
    doc="sliding 1h/30m event-time window counts (streaming twin: "
        "streaming.sliding_counts)",
)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


@register(
    "dd_keeplist",
    dedup.oracle_dedup_keeplist("documents", "doc_id", "text"),
    doc="the shippable dedup decision per doc: exact dups first (canonical "
        "= identical-group min), then LSH near-dup clusters (canonical = "
        "component min), survivors keep — composes the audited exact/LSH/"
        "components stages into (doc_id, keep, reason, canonical_id)",
)
def dd_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_keeplist(docs)


@register(
    "dd_dup_clusters",
    dedup.oracle_connected_components(
        dedup.oracle_lsh_candidate_pairs("documents", "doc_id", "text")
    ),
    doc="duplicate clusters: connected components (iterative min-label "
        "propagation) over MinHash-LSH candidate pairs; component id = "
        "canonical survivor (min doc_id)",
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    return dedup.connected_components(pairs)


# ---------------------------------------------------------------------------
# Curation sampling + profiling
# ---------------------------------------------------------------------------

@register(
    "smp_stratified",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents
    WHERE (lang = 'en' AND {oracle_hash_threshold('doc_id', 0.25)})
       OR (lang = 'fr' AND {oracle_hash_threshold('doc_id', 0.5)})
    """,
    doc="content-stable stratified sampling (25% en, 50% fr, others dropped): "
        "md5-threshold per stratum, reproducible across engines and reruns",
)
def smp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample(docs, "doc_id", "lang", {"en": 0.25, "fr": 0.5})
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang")


_EPOCH_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.25}


@register(
    "smp_epoch_mixture",
    oracle_epoch_mixture("documents", "doc_id", "source", _EPOCH_WEIGHTS),
    doc="epoch-aware mixture upsampling: floor(w) whole epochs per domain "
        "plus a hash-decided fractional epoch, each copy carrying an "
        "epoch-salted shuffle key so every epoch interleaves differently "
        "(complements smp_temperature, which derives rates from corpus "
        "stats; here the weights are the trainer's explicit mix)",
)
def smp_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.epoch_mixture(docs, "doc_id", "source", _EPOCH_WEIGHTS)


@register(
    "cur_quality_deciles",
    f"""
    WITH q AS ({textops.oracle_quality_score("documents", "doc_id", "text")}),
    r AS (
      SELECT id, quality,
             row_number() OVER (ORDER BY quality, id) AS rnk,
             count(*) OVER () AS n
      FROM q
    )
    SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(quality) AS DOUBLE) AS q_lo,
           CAST(max(quality) AS DOUBLE) AS q_hi
    FROM r GROUP BY 1
    """,
    doc="curriculum buckets: exact global quality deciles WITHOUT a "
        "single-partition window — two-phase total-order rank "
        "(partition-local rank + broadcast offsets) over (quality, id), "
        "decile = (rank-1)*10 div n; per-decile count and quality bounds",
)
def cur_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import global_sort_with_rank

    docs = load_table(spark, sf_dir, "documents")
    q = textops.quality_score(docs).select("id", "quality")
    ranked = global_sort_with_rank(q, ["quality", "id"], rank_col="rnk")
    n = ranked.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", F.expr("((rnk - 1) * 10) div n").cast("bigint"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("quality").cast("double").alias("q_lo"),
            F.max("quality").cast("double").alias("q_hi"),
        )
    )


@register(
    "cur_incremental_rollup",
    """
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="incremental materialized-rollup maintenance: the historical slice "
        "and the late-arriving slice are rolled up independently, then "
        "merged by summing mergeable partials (counts + decimal sums) — "
        "never rescanning history; the oracle is the full recompute, so "
        "the merge must be exactly lossless",
)
def cur_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = "1997-01-01"

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("month"),
        ).agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias("_total_dec"),
        )

    hist = rollup(orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")))
    fresh = rollup(orders.filter(F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp")))
    merged = (
        hist.unionByName(fresh)
        .groupBy("o_orderpriority", "month")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("_total_dec").cast("double").alias("total"),
        )
    )
    return merged


@register(
    "cur_domain_quota",
    oracle_domain_quota("documents", "doc_id", "source", cap=150),
    doc="per-domain quota balancer: keep at most N docs per source by "
        "content-stable md5 priority — WindowGroupLimit makes the rank "
        "filter a map-side partial top-N before the one domain shuffle",
)
def cur_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.domain_quota(docs, "doc_id", "source", cap=150)


@register(
    "smp_kfold",
    f"""
    SELECT {oracle_kfold("doc_id", 5)} AS fold,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1
    """,
    doc="k-fold cross-validation assignment (k=5): fold = md5(doc_id) mod "
        "k — content-stable so reruns/engines agree and later ingests keep "
        "old keys in old folds; narrow map, no shuffle, no k-way "
        "materialization; per-fold size/source/char report "
        "(operators/sampling.py:kfold_assign)",
)
def smp_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import kfold_assign

    docs = load_table(spark, sf_dir, "documents")
    return (
        kfold_assign(docs, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@register(
    "smp_train_test_split",
    f"""
    SELECT split, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT CASE WHEN {oracle_hash_threshold('doc_id', 0.1)}
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ) GROUP BY split
    """,
    doc="deterministic 90/10 train-test split (hash of doc_id; stable under "
        "reruns, row order, and partitioning)",
)
def smp_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.train_test_split(docs, "doc_id", 0.1)
        .groupBy("split")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@register(
    "prof_lineitem",
    oracle_profile("lineitem", ["l_orderkey", "l_returnflag", "l_quantity"]),
    doc="one-pass column profiling (rows/nulls/distinct/min/max per column)",
)
def prof_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile

    li = load_table(spark, sf_dir, "lineitem")
    return profile(li, ["l_orderkey", "l_returnflag", "l_quantity"])


@register(
    "prof_expectations",
    oracle_expectations("lineitem", "orders"),
    doc="expectation-suite validation report (Great-Expectations shape): "
        "not-null / composite-unique / range / accepted-values / cross-"
        "column rule in ONE scan-sharing aggregate, plus referential "
        "integrity via a left-anti count; one row per check with pass "
        "verdicts",
)
def prof_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import expectations

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return expectations(li, orders)


@register(
    "prof_k_anonymity",
    oracle_k_anonymity("customer", ["c_nationkey", "c_mktsegment"]),
    doc="k-anonymity audit over the (nation, market-segment) quasi-"
        "identifier: group-size histogram from ONE shuffle, then k in "
        "{2,5,10} reported as conditional sums over the tiny group table "
        "(violating groups + rows at risk per level)",
)
def prof_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import k_anonymity

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"])


@register(
    "prof_benford",
    oracle_benford("lineitem", ["l_extendedprice", "l_quantity"]),
    doc="Benford first-digit audit (fraud / synthetic-feed screen): "
        "l_extendedprice (multiplicative, Benford-ish) vs l_quantity "
        "(uniform 1-50, deliberately violating) — per (column, digit 1-9): "
        "observed count, expected count, chi-square term. One stack-fanned "
        "scan, one (col, digit) count, 9-row scaffold per column; expected "
        "log10 proportions are Python-evaluated doubles injected into both "
        "engines (operators/profile.py:benford)",
)
def prof_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import benford

    li = load_table(spark, sf_dir, "lineitem")
    return benford(li, ["l_extendedprice", "l_quantity"])


_DRIFT_SPECS = [
    ("totalprice_bin", "least(9, cast(floor(o_totalprice / 60000) as int))"),
    ("orderpriority", "o_orderpriority"),
    ("orderstatus", "o_orderstatus"),
]
_DRIFT_SPECS_SQL = [
    ("totalprice_bin", "least(9, CAST(floor(o_totalprice / 60000) AS INT))"),
    ("orderpriority", "o_orderpriority"),
    ("orderstatus", "o_orderstatus"),
]
_DRIFT_SPLIT = "o_orderdate < TIMESTAMP '1995-06-01 00:00:00'"


@register(
    "prof_column_entropy",
    oracle_column_entropy(
        "orders", ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]
    ),
    doc="Shannon entropy per column (+ normalized H/ln(n_distinct)) over "
        "four orders columns spanning the spectrum: near-constant status, "
        "small categorical priority, mid-cardinality custkey, unique key "
        "(norm -> 1) — the profiling signal behind feature-selection and "
        "identifier-detection heuristics; one stack-fanned scan, one "
        "(col, value) count, DECIMAL(38,6)-rounded terms",
)
def prof_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import column_entropy

    orders = load_table(spark, sf_dir, "orders")
    return column_entropy(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]
    )


@register(
    "prof_drift_psi",
    oracle_drift_psi("orders", _DRIFT_SPLIT, _DRIFT_SPECS_SQL),
    doc="population stability index between the pre/post-1995-06 order "
        "snapshots, per monitored column (fixed-width totalprice bins + two "
        "categoricals): Laplace-smoothed bin proportions from exact integer "
        "counts, per-bin terms rounded to DECIMAL(38,6) before the fold; "
        "ONE scan fans all specs via stack, one (col, bin) shuffle, one "
        "tiny per-column fold — the between-training-snapshots drift check",
)
def prof_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import drift_psi

    orders = load_table(spark, sf_dir, "orders")
    return drift_psi(
        orders, "o_orderdate < timestamp '1995-06-01 00:00:00'", _DRIFT_SPECS
    )


@register(
    "prof_forget_users",
    oracle_forget_users("customer", "orders", "lineitem"),
    doc="right-to-be-forgotten cascade report: forgotten custkeys semi-"
        "join into orders, affected orderkeys into lineitem — per-table "
        "before/purged/after counts; the anti-join rewrite you run as a "
        "compaction pass, with the report as audit trail",
)
def prof_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import forget_users

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return forget_users(cust, orders, li)


@register(
    "txt_redact",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {textops.oracle_redact("text")} AS clean_text
    FROM documents
    WHERE {textops.oracle_redact("text")} <> text
    """,
    doc="PII redaction (email/phone/SSN shapes -> [TAG]); returns only docs "
        "that changed (chained regexp_replace, codegen-only)",
)
def txt_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = docs.withColumn("clean_text", textops.redact("text"))
    return out.filter(F.col("clean_text") != F.col("text")).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "clean_text"
    )


@register(
    "cur_pipeline_v2",
    textops._oracle_lr_ctes("documents", "doc_id", "text", 8, 50)
    + """,
    zkeep AS (
      SELECT f.id FROM feats f CROSS JOIN it8 w
      WHERE (w.b + w.a1 * f.x1 + w.a2 * f.x2 + w.a3 * f.x3) >= 0
    ),
    winners AS (
      SELECT min(d.doc_id) AS id
      FROM documents d JOIN zkeep ON zkeep.id = d.doc_id
      GROUP BY md5(d.text)
    ),
    tok AS (
      SELECT d.doc_id AS id,
             CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS toks
      FROM documents d JOIN winners ON winners.id = d.doc_id
    ),
    c AS (
      SELECT id, toks,
             sum(toks) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) - toks
               AS start_off
      FROM tok
    )
    SELECT CAST(id AS BIGINT) AS doc_id, CAST(toks AS BIGINT) AS n_tokens,
           CAST(start_off AS BIGINT) AS start_offset,
           CAST(start_off // 2048 AS BIGINT) AS seq_first,
           CAST((start_off + greatest(toks - 1, 0)) // 2048 AS BIGINT) AS seq_last
    FROM c
    """,
    doc="training-data pipeline v2 capstone: TRAIN the linear quality "
        "filter in-engine (8 GD iterations), keep model-approved docs "
        "(z >= 0), exact-dup removal (min-id winner per content md5), "
        "pack survivors into 2048-token sequences via two-phase prefix "
        "offsets; oracle replays the weight trajectory, the filter, the "
        "dedup, and the packing in one CTE chain",
)
def cur_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    feats = textops._lr_feature_df(docs, 50)
    w, _ = textops.train_linear_weights(feats, n_iter=8)
    kept_ids = feats.filter(F.expr(f"{textops.lr_z_expr(w)} >= 0")).select(
        F.col("id").alias("doc_id")
    )
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    winners = (
        kept.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = kept.join(winners, "doc_id", "left_semi")
    with_tokens = textops.token_stats(surv).select(
        F.col("id").alias("doc_id"), "n_tokens"
    )
    return pack_sequences(with_tokens, seq_len=2048)


@register(
    "cur_pipeline_e2e",
    f"""
    WITH deduped AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), quality AS (
      SELECT doc_id, lang FROM deduped
      WHERE length(text) >= 100
        AND length(regexp_split_to_array(trim(text), '\\s+')) >= 20
    ), split AS (
      SELECT doc_id, lang,
             CASE WHEN {oracle_hash_threshold('doc_id', 0.1)} THEN 'test'
                  ELSE 'train' END AS split
      FROM quality
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM split GROUP BY lang, split
    """,
    doc="end-to-end curation pipeline: exact dedup (keep min doc_id) -> "
        "length/token quality gate -> deterministic train/test split -> "
        "per-(lang, split) accounting. One shuffle for dedup, one for the "
        "final count; filter+split are scan-side",
)
def cur_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    quality = deduped.filter(
        (F.length("text") >= 100) & (F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 20)
    )
    split = sampling.train_test_split(quality, "doc_id", 0.1)
    return split.groupBy("lang", "split").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-partitioned join (the map-side join precondition made durable)
# ---------------------------------------------------------------------------

@register(
    "src_bucketed_join",
    """
    SELECT CAST(o.o_orderpriority AS VARCHAR) AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4)))
                AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="CompositeInputFormat.java:93-95 precondition as bucketed tables: "
        "orders+lineitem bucketed AND sorted on orderkey, then a sort-merge "
        "join with ZERO shuffle exchange on either side (plan-test pinned)",
)
def src_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re as _re

    from ..io import write_bucketed

    sf_tag = _re.sub(r"\W", "_", os.path.basename(sf_dir.rstrip("/")))
    t_orders, t_li = f"bkt_orders_{sf_tag}", f"bkt_lineitem_{sf_tag}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        t_orders, "o_orderkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        t_li, "l_orderkey",
    )
    o, li = spark.table(t_orders), spark.table(t_li)
    joined = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    # Decimal accumulation makes the sum independent of partial-sum grouping:
    # reading through 8 buckets must hash-match the oracle's single-stream sum.
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("revenue"),
    )


@register(
    "src_mapfile_lookup",
    """
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
    FROM supplier WHERE s_suppkey IN (1, 2, 3, 999999)
    """,
    doc="MapFile round-trip (IO/MapFile.java:59): supplier written as "
        "range-partitioned part-NNNNN/{data,index} MapFiles (one shuffle, "
        "sorted within part), then index-aware point lookups (seek + <=1 "
        "interval scan, never a data-file read) — the missing key probes "
        "the not-found path; format pinned by the stock MapFile.Reader "
        "round-trip in tests/test_sources.py",
)
def src_mapfile_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import mapfile

    out = scratch_dir(spark, "mapfile", sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k"), F.col("s_name").alias("v")
    )
    mapfile.write_map_file(supp, out, "k", "v", num_parts=4)
    hits = [
        (k, mapfile.map_file_lookup(out, k)) for k in (1, 2, 3, 999999)
    ]
    return spark.createDataFrame(
        [(k, v) for k, v in hits if v is not None], "s_suppkey bigint, s_name string"
    )


# ---------------------------------------------------------------------------
# Corpus-hygiene additions: repetition filters, decontamination, mixing
# ---------------------------------------------------------------------------

@register(
    "txt_repetition",
    textops.oracle_repetition_stats("documents", "doc_id", "text"),
    doc="Gopher/C4 repetition measures per doc: distinct-word fraction, "
        "top-2-gram coverage, duplicated-3-gram coverage",
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.repetition_stats(docs)


_BENCH_SPLIT = "doc_id % 97 = 0"


@register(
    "cur_decontaminate",
    textops.oracle_contamination(
        f"SELECT * FROM documents WHERE NOT ({_BENCH_SPLIT})",
        f"SELECT * FROM documents WHERE {_BENCH_SPLIT}",
        "doc_id",
        "text",
    ),
    doc="test-set decontamination: training docs sharing any 5-gram with "
        "the held-out benchmark slice (broadcast inverted-index join)",
)
def cur_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.expr(_BENCH_SPLIT))
    train = docs.filter(~F.expr(_BENCH_SPLIT))
    return textops.contamination(train, bench)


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


@register(
    "smp_mixture",
    f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM ({{inner}}) GROUP BY source
    """.format(
        inner=__import__(
            "hadoop_2_7_1_spark.operators.sampling", fromlist=["oracle_sample_mixture"]
        ).oracle_sample_mixture("documents", "doc_id", "source", _MIX_WEIGHTS)
    ),
    doc="domain-mixing down-sample to a target source mixture "
        "(deterministic hash thresholds; most-constrained source kept whole)",
)
def smp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_mixture

    docs = load_table(spark, sf_dir, "documents")
    kept = sample_mixture(docs, "doc_id", "source", _MIX_WEIGHTS)
    return kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


@register(
    "smp_negative_sampling",
    __import__(
        "hadoop_2_7_1_spark.operators.sampling",
        fromlist=["oracle_categorical_draws"],
    ).oracle_categorical_draws("documents", "text", 10_000, 0.75, 10, 256),
    doc="word2vec negative-sampling table as a distributed primitive: "
        "unigram^0.75 integer weight ranges from ONE vocab-sized window, "
        "10k md5-derived uniforms resolved to tokens by a bucketed range "
        "join (O(vocab + buckets + draws) fan-out, no driver binary "
        "search, no draws x vocab cross); output draw histogram per token",
)
def smp_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import categorical_draws

    docs = load_table(spark, sf_dir, "documents")
    return categorical_draws(docs, "text", 10_000, 0.75, 10, 256)


@register(
    "smp_dsir_weights",
    __import__(
        "hadoop_2_7_1_spark.operators.sampling", fromlist=["oracle_dsir_importance"]
    ).oracle_dsir_importance("documents", "doc_id", "text", "lang = 'en'"),
    doc="DSIR importance resampling (Xie et al. 2023): hashed-unigram "
        "bucket log-ratios between the lang='en' target slice and the raw "
        "corpus, count-weighted per-doc log importance weight in integer "
        "micro-units (exact under any parallelism), top-100 docs; two "
        "shuffles + a B-row broadcast ratio table",
)
def smp_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, "doc_id", "text", F.col("lang") == "en")


@register(
    "evt_correlate",
    """
    SELECT CAST(v.user_id AS BIGINT) AS user_id,
           CAST(v.event_id AS BIGINT) AS left_id,
           CAST(c.event_id AS BIGINT) AS right_id
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    doc="stream-stream event-time correlation (view->click within 30 min "
        "per user), run through the SAME correlate_streams code path the "
        "streaming layer uses — watermark bounds both state sides",
)
def evt_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import correlate_streams

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    return correlate_streams(views, clicks)


@register(
    "agg_salted_join",
    """
    WITH d AS (
      SELECT event_type, CAST(length(event_type) AS BIGINT) AS type_len
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(max(d.type_len) AS BIGINT) AS type_len
    FROM events e JOIN d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    doc="skew-safe salted equi-join: 5 event types across the whole table "
        "is the canonical hot-key case — big side salted into 16 sub-keys, "
        "dim replicated per salt, result identical to the plain join",
)
def agg_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.select("event_type").distinct().withColumn(
        "type_len", F.length("event_type").cast("bigint")
    )
    joined = salted_join(ev.select("event_id", "event_type"), dim, "event_type")
    return joined.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("type_len").cast("bigint").alias("type_len"),
    )


@register(
    "sim_kmeans_sizes",
    similarity.oracle_kmeans_sizes("embeddings", k=8, n_iter=2, dim=64),
    doc="k-means (Lloyd, 2 iterations, deterministic lowest-id seeds) as the "
        "trained coarse quantizer: final cluster sizes + first centroid "
        "coordinate; the DuckDB oracle replays the identical iteration",
)
def sim_kmeans_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, n_iter=2)
    assigned = similarity.assign_clusters(emb, cents)
    sizes = assigned.groupBy("cluster").agg(F.count("*").cast("bigint").alias("n"))
    cent_df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cents)], ["cluster", "c0"]
    )
    return (
        cent_df.join(sizes, "cluster", "left")
        .select(
            F.col("cluster").cast("bigint"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.col("c0").cast("double"),
        )
    )


@register(
    "sim_kmeans_ivf",
    similarity.oracle_kmeans_ivf(
        "embeddings", "vec_id < 5", k=3, nprobe=2, n_clusters=8, n_iter=2, dim=64
    ),
    doc="IVF ANN over TRAINED k-means centroids (vs sim_ivf_topk's fixed "
        "hyperplanes): per-query cell ranking, nprobe=2 probe join, exact "
        "cosine top-3 inside probed cells",
)
def sim_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.kmeans_ivf_topk(emb, queries, cents, k=3, nprobe=2)


@register(
    "cur_pack_sequences",
    oracle_pack_sequences(
        "documents",
        2048,
        "doc_id",
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''))",
    ),
    doc="GPT-style sequence packing: concatenated token stream (doc_id "
        "order) chunked into 2048-token blocks; per-doc global start offset "
        "and spanned sequence range, computed WITHOUT a global window "
        "(two-phase prefix offsets, same scheme as global_sort_with_rank)",
)
def cur_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = textops.token_stats(docs).select(
        F.col("id").alias("doc_id"), "n_tokens"
    )
    return pack_sequences(with_tokens, seq_len=2048)


@register(
    "dd_chunk_dedup",
    dedup.oracle_chunk_dedup("documents", chunk_tokens=20),
    doc="cross-doc repeated-span removal (exact substring dedup at 20-token "
        "chunk granularity, first occurrence wins): per-doc chunk survival "
        "stats; one uniform shuffle keyed on chunk md5",
)
def dd_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup(docs, chunk_tokens=20)


@register(
    "txt_tfidf_topterms",
    textops.oracle_tfidf_top_terms("documents", "doc_id", "text", k=5),
    doc="top-5 TF-IDF terms per doc: (doc,term) aggregate, vocabulary-keyed "
        "df join-back, deterministic (score, term) ranking",
)
def txt_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.tfidf_top_terms(docs, k=5)


@register(
    "txt_bm25",
    textops.oracle_bm25_scores(
        "documents", "doc_id", "text", ["spark", "join", "window"]
    ),
    doc="BM25 relevance of every doc to a 3-term query (k1=1.2, b=0.75): "
        "term-filtered tf + broadcast df/avgdl scalars, one doc-keyed sum",
)
def txt_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.bm25_scores(docs, ["spark", "join", "window"])


@register(
    "cur_global_shuffle",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)))
                AS BIGINT) AS rank
    FROM documents
    """,
    doc="deterministic global training shuffle: content-stable md5 permutation "
        "key, total-order rank via two-phase offsets (no global window); "
        "reproducible across runs and engines",
)
def cur_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import global_sort_with_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "shuffle_key",
        F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string"))),
    )
    return global_sort_with_rank(keyed, ["shuffle_key"], rank_col="rank").select(
        F.col("doc_id").cast("bigint"),
        "shuffle_key",
        F.col("rank").cast("bigint"),
    )


@register(
    "cur_scd2_history",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(value AS DOUBLE) AS value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                AS BOOLEAN) AS is_current
    FROM events
    """,
    doc="SCD2 changelog-to-history: each per-user change becomes a validity "
        "interval [valid_from, valid_to) via one user-keyed lead window "
        "(deterministic (ts, event_id) order); open interval = current row. "
        "One shuffle on the entity key — the dimension-history build step "
        "of a warehouse-style curation pipeline",
)
def cur_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("value").cast("double").alias("value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("boolean").alias("is_current"),
    )


@register(
    "cur_upsert_merge",
    """
    WITH latest AS (
      SELECT * FROM (
        SELECT o_custkey AS k, o_totalprice AS new_val,
               (o_orderstatus = 'F') AS is_del,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT CAST(coalesce(c_custkey, l.k) AS BIGINT) AS c_custkey,
           CAST(coalesce(l.new_val, c_acctbal) AS DOUBLE) AS c_acctbal,
           CASE WHEN l.k IS NULL THEN 'kept'
                WHEN c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS src
    FROM customer FULL OUTER JOIN latest l ON c_custkey = l.k
    WHERE NOT coalesce(l.is_del, FALSE)
    """,
    doc="CDC compaction (MERGE semantics): orders as a changelog over the "
        "customer snapshot — latest-per-key window, co-partitioned "
        "full-outer resolve, latest 'F'-status change deletes the key",
)
def cur_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import merge_changelog

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").alias("c_acctbal"),
        (F.col("o_orderstatus") == "F").alias("is_del"),
        "o_orderdate", "o_orderkey",
    )
    return merge_changelog(
        base, changes, "c_custkey", ["o_orderdate", "o_orderkey"], "c_acctbal", "is_del"
    )


@register(
    "agg_kmv_distinct",
    oracle_kmv_distinct("events", "event_type", "user_id", k=64),
    doc="KMV (k-minimum-values) distinct-user sketch per event type, k=64: "
        "deterministic cross-engine estimate (md5 fractions, (k-1)/h_k) "
        "next to the exact count",
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


@register(
    "agg_hll_distinct",
    oracle_hll_distinct("events", "event_type", "user_id"),
    doc="HyperLogLog distinct-user sketch per event type (1024 registers, "
        "md5 bucket/rho): register table is the distributed mergeable "
        "sketch, folded with exact integer arithmetic so the estimate is "
        "bit-identical at any parallelism; linear-counting small-range "
        "correction included, exact count alongside",
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_type", "user_id")


@register(
    "agg_histogram_quantiles",
    oracle_histogram_quantiles("events", "event_type", "value", 500),
    doc="approximate quantiles (p50/p90/p99) from a $5-wide histogram "
        "sketch WITH the exact audit alongside (the sketch-accuracy "
        "family discipline): estimate = upper edge of the first bucket "
        "reaching ceil(q*n); error bounded by bucket width, actual gap "
        "reported per (key, q); sketch side is one (key,bucket) count + "
        "a bounded bucket-table window",
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import histogram_quantiles

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(ev, "event_type", "value", 500)


@register(
    "evt_hll_sliding",
    oracle_hll_sliding_distinct("events", "ts", "user_id", window_days=7),
    doc="rolling 7-day distinct users per day via MERGED HLL registers — "
        "the mergeability payoff: per-day register tables built once, each "
        "trailing window is a max() over the covered days' registers "
        "(register-table fan-out x7, never event-stream fan-out); exact "
        "distinct computed alongside as the accuracy audit",
)
def evt_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_sliding_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_sliding_distinct(ev, "ts", "user_id", window_days=7)


@register(
    "agg_sketch_report",
    f"""
    WITH kmv AS ({oracle_kmv_distinct("events", "event_type", "user_id", k=64)}),
    hll AS ({oracle_hll_distinct("events", "event_type", "user_id")})
    SELECT kmv.event_type, kmv.n_exact, kmv.kmv_estimate, hll.hll_estimate,
           round(abs(kmv.kmv_estimate - kmv.n_exact) / kmv.n_exact, 6)
             AS kmv_rel_err,
           round(abs(hll.hll_estimate - kmv.n_exact) / kmv.n_exact, 6)
             AS hll_rel_err
    FROM kmv JOIN hll USING (event_type)
    """,
    doc="sketch-accuracy dashboard: KMV(64) and HLL(1024) distinct-user "
        "estimates side by side with their exact counts and relative "
        "errors per event type — the standing audit that keeps sketch "
        "parameters honest as cardinalities grow",
)
def agg_sketch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_distinct, kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    kmv = kmv_distinct(ev, "event_type", "user_id", k=64).select(
        "event_type", "n_exact", "kmv_estimate"
    )
    hll = hll_distinct(ev, "event_type", "user_id").select(
        "event_type", "hll_estimate"
    )
    return kmv.join(hll, "event_type").select(
        "event_type",
        "n_exact",
        "kmv_estimate",
        "hll_estimate",
        F.round(
            F.abs(F.col("kmv_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("kmv_rel_err"),
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("hll_rel_err"),
    )


@register(
    "bench_rumen_digest",
    oracle_trace_digest(),
    doc="Rumen-style trace digest (LoggedJob fields, discrete-CDF "
        "percentiles from the duration histogram): per-priority job counts, "
        "map totals, exact p50/p90 without a data-sized sort",
)
def bench_rumen_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.loadmodel import job_trace, trace_digest

    return trace_digest(job_trace(load_table(spark, sf_dir, "orders")))


@register(
    "bench_gridmix_load",
    oracle_concurrency_curve(),
    doc="Gridmix/SLS-style cluster load curve via sweep-line: per-day job "
        "starts/finishes and end-of-day running concurrency; cumulative "
        "pass touches only bucket aggregates",
)
def bench_gridmix_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.loadmodel import concurrency_curve, job_trace

    return concurrency_curve(job_trace(load_table(spark, sf_dir, "orders")))


@register(
    "txt_vocab",
    textops.oracle_induce_vocab("documents", "text", size=64),
    doc="tokenizer-prep vocabulary induction: top-64 subtokens by corpus "
        "frequency, deterministic ids (count desc, token asc); wordcount "
        "aggregate + sort-limit, id window over vocab rows only",
)
def txt_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.induce_vocab(docs, size=64)


@register(
    "txt_bpe_merges",
    # Hash-checked: the data-dependent iterative merges unroll into a DuckDB
    # CTE chain (separator-string replace == the engine's greedy carry fold);
    # ALSO pinned against an independent in-memory BPE trainer in
    # tests/test_operators.py::test_bpe_merges_match_reference_impl.
    textops.oracle_bpe_merges("documents", "text", n_merges=6),
    doc="BPE merge training (Sennrich 2016): 6 most-frequent-pair merges "
        "learned over the word-frequency table; per round one map-side "
        "combined pair count + top-1 reduce, merge applied JVM-side "
        "(aggregate expression), corpus never collected",
)
def txt_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.bpe_merges(docs, n_merges=6)


@register(
    "txt_bpe_encode",
    textops.oracle_bpe_encode("documents", "doc_id", "text", n_merges=6),
    doc="the full tokenizer loop: train 6 BPE merges, ship the merge table, "
        "ENCODE the corpus with chained JVM merge folds (map-only apply, "
        "zero extra shuffles); per-doc word/char/symbol counts + "
        "compression ratio; oracle replays train AND apply via the "
        "separator-replace chain",
)
def txt_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.bpe_encode(docs, n_merges=6)


_HTML_WRAP_SQL = (
    "'<html><head><style>body{color:red}</style>"
    "<script>var a = 1 < 2;</script></head>"
    "<body><!-- crawler noise --><h1>Title &amp; more</h1><p>' "
    "|| text || '</p><div>tail&nbsp;&lt;ok&gt;</div></body></html>'"
)


@register(
    "txt_html_extract",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS id,
           {textops.oracle_html_to_text(_HTML_WRAP_SQL)} AS clean_text,
           CAST(length({textops.oracle_html_to_text(_HTML_WRAP_SQL)}) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="HTML-to-text extraction (crawl ingest): script/style/comment "
        "removal, block tags to newlines, tag strip, entity unescape, "
        "whitespace collapse — all JVM regexp_replace, RE2-safe so the "
        "DuckDB oracle runs the identical chain "
        "(operators/textops.py html_to_text)",
)
def txt_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><style>body{color:red}</style>"
              "<script>var a = 1 < 2;</script></head>"
              "<body><!-- crawler noise --><h1>Title &amp; more</h1><p>"),
        F.col("text"),
        F.lit("</p><div>tail&nbsp;&lt;ok&gt;</div></body></html>"),
    )
    wrapped = docs.select(F.col("doc_id"), html.alias("html"))
    clean = textops.html_to_text("html")
    return wrapped.select(
        F.col("doc_id").cast("bigint").alias("id"),
        clean.alias("clean_text"),
        F.length(clean).cast("bigint").alias("n_chars"),
    )


@register(
    "txt_unigram_logprob",
    textops.oracle_unigram_logprob("documents", "doc_id", "text"),
    doc="unigram LM quality score: per-doc mean ln p(token) under the "
        "corpus unigram MLE — the classic cheap LM filter signal; one "
        "vocab-sized count aggregate + one token-stream join, corpus never "
        "collected",
)
def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.unigram_logprob(docs)


@register(
    "txt_oov",
    textops.oracle_oov_stats("documents", "text", size=64),
    doc="per-doc OOV profile against the induced top-64 vocabulary "
        "(broadcast left join over the subtoken stream)",
)
def txt_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = textops.induce_vocab(docs, size=64)
    return textops.oov_stats(docs, vocab)


@register(
    "dd_incremental_ingest",
    dedup.oracle_incremental_ingest(
        "SELECT * FROM documents WHERE doc_id % 5 = 0",
        "SELECT * FROM documents WHERE doc_id % 5 <> 0",
    ),
    doc="daily-ingest dedup: a delta batch admitted against the corpus's "
        "exact-hash + 20-token-chunk indexes (kept = not exact dup and "
        "known-span fraction < 0.5); corpus participates only via its "
        "distinct-hash indexes",
)
def dd_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_ingest(delta, corpus)


@register(
    "dd_incremental_lsh",
    dedup.oracle_incremental_lsh(
        "SELECT * FROM documents WHERE doc_id % 5 = 0",
        "SELECT * FROM documents WHERE doc_id % 5 <> 0",
    ),
    doc="daily-ingest NEAR-dup admission (r11 growth): the delta shard is "
        "screened against the corpus's banded MinHash-LSH index (distinct "
        "(band,key) only — appendable in production, corpus never "
        "re-shuffles) plus first-writer-wins within the shard via "
        "bucket-min; collision DETECTION, so no pair enumeration and no "
        "max_bucket cap needed — the LSH-grade companion to the exact-hash "
        "dd_incremental_ingest (operators/dedup.py:incremental_lsh)",
)
def dd_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_lsh(delta, corpus)


_PR_EDGES_SQL = """
      SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'p' || CAST(l_partkey AS VARCHAR) AS dst
      FROM lineitem
      UNION ALL
      SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem
"""


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected supplier-part edges ``s<suppkey>``/``p<partkey>``: the
    Spark twin of ``_PR_EDGES_SQL``."""
    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@register(
    "grf_pagerank",
    oracle_pagerank(_PR_EDGES_SQL),
    doc="PageRank (3 synchronous rounds, d=0.85) over the undirected "
        "supplier-part co-occurrence graph; fixed iteration count keeps the "
        "computation engine-replayable — oracle is the unrolled CTE chain",
)
def grf_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = _pr_edges(spark, sf_dir)
    return pagerank(edges, iterations=3, damping=0.85)


_HITS_EDGES_SQL = """
      SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'p' || CAST(l_partkey AS VARCHAR) AS dst
      FROM lineitem
"""


@register(
    "grf_hits",
    oracle_hits(_HITS_EDGES_SQL, iterations=2),
    doc="HITS hubs-and-authorities (2 synchronous rounds) over the "
        "DIRECTED supplier->part graph: hub = supplier breadth, authority "
        "= part demand concentration. Scaled-bigint contribution sums + "
        "exact-integer L1 totals keep every score bit-identical at any "
        "parallelism; oracle is the unrolled CTE chain (operators/"
        "graph.py:hits)",
)
def grf_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return hits(edges, iterations=2)


@register(
    "grf_bfs_hops",
    oracle_bfs_hops(_PR_EDGES_SQL, "s1", max_hops=4),
    doc="BFS hop distances from supplier s1 over the supplier-part "
        "co-occurrence graph, 4 fixed synchronous rounds (frontier join + "
        "min-hop fold, all equi-keyed) — oracle is the unrolled min-hop "
        "CTE chain, not a recursive CTE (path explosion on cycles)",
)
def grf_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    edges = _pr_edges(spark, sf_dir)
    return bfs_hops(edges, "s1", max_hops=4)


_SSSP_EDGES_SQL = """
      SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'p' || CAST(l_partkey AS VARCHAR) AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      UNION ALL
      SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
"""


@register(
    "grf_sssp",
    oracle_sssp(_SSSP_EDGES_SQL, "s1", rounds=4),
    doc="weighted single-source shortest paths from supplier s1 (quantity-"
        "weighted co-occurrence graph): 4 synchronous Bellman-Ford "
        "relaxations, parallel edges min-collapsed, BIGINT weights so every "
        "min-fold is exact; oracle is the unrolled relaxation CTE chain",
)
def grf_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp

    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    edges = fwd.union(
        fwd.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
        )
    )
    return sssp(edges, "s1", rounds=4)


@register(
    "grf_label_prop",
    "SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members FROM ("
    + oracle_label_propagation(_PR_EDGES_SQL, rounds=3)
    + ") GROUP BY label",
    doc="label-propagation community detection over the supplier-part "
        "co-occurrence graph: 3 synchronous rounds of adopt-the-most-"
        "frequent-neighbor-label (ties -> smallest label — the "
        "deterministic, engine-replayable LPA variant); per round one "
        "edge equi-join + per-node top-1 vote, all keyed shuffles; "
        "output is community sizes",
)
def grf_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    edges = _pr_edges(spark, sf_dir)
    return (
        label_propagation(edges, rounds=3)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_members"))
    )


@register(
    "grf_modularity",
    oracle_modularity(_PR_EDGES_SQL, oracle_label_propagation(_PR_EDGES_SQL, rounds=3)),
    doc="Newman modularity contributions of the LPA partition over the "
        "supplier-part graph: Q_c = in_c/m - (deg_c/m)^2 per community — "
        "the partition-quality audit for grf_label_prop; three equi-joins "
        "+ community counts, m broadcast, exact integers until the final "
        "spelled double ops",
)
def grf_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation, modularity

    edges = _pr_edges(spark, sf_dir)
    labels = label_propagation(edges, rounds=3)
    return modularity(edges, labels)


@register(
    "grf_jaccard_neighbors",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), fan AS (
      SELECT p FROM e GROUP BY p HAVING count(*) <= 40
    ), ee AS (SELECT e.* FROM e JOIN fan USING (p)),
    deg AS (SELECT s, count(*) AS d FROM ee GROUP BY s),
    inter AS (
      SELECT a.s AS s1, b.s AS s2, count(*) AS i
      FROM ee a JOIN ee b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    ), j AS (
      SELECT s1, s2, i,
             CAST(i AS DOUBLE) / (d1.d + d2.d - i) AS jaccard
      FROM inter
      JOIN deg d1 ON d1.s = s1
      JOIN deg d2 ON d2.s = s2
    )
    SELECT CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
           CAST(i AS BIGINT) AS n_shared, jaccard,
           CAST(rank() OVER (ORDER BY jaccard DESC, s1, s2) AS BIGINT) AS rnk
    FROM j QUALIFY rnk <= 20
    """,
    doc="link-prediction primitive: supplier similarity as neighbor-set "
        "Jaccard over shared parts — wedge join equi-keyed on the part "
        "with a fan-out cap (parts supplied by > 40 suppliers are hubs, "
        "dropped like the LSH degenerate-bucket cap), exact integer "
        "intersection/union, top-20",
)
def grf_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    fan = e.groupBy("p").agg(F.count("*").alias("_n")).filter(F.col("_n") <= 40).select("p")
    ee = e.join(fan, "p")
    deg = ee.groupBy("s").agg(F.count("*").alias("d"))
    a, b = ee.alias("a"), ee.alias("b")
    inter = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("i"))
    )
    j = (
        inter.join(deg.select(F.col("s").alias("s1"), F.col("d").alias("d1")), "s1")
        .join(deg.select(F.col("s").alias("s2"), F.col("d").alias("d2")), "s2")
        .select(
            F.col("s1").cast("bigint").alias("s1"),
            F.col("s2").cast("bigint").alias("s2"),
            F.col("i").cast("bigint").alias("n_shared"),
            (F.col("i").cast("double") / (F.col("d1") + F.col("d2") - F.col("i"))).alias(
                "jaccard"
            ),
        )
    )
    wr = W.orderBy(F.desc("jaccard"), F.asc("s1"), F.asc("s2"))
    return j.withColumn("rnk", F.rank().over(wr).cast("bigint")).filter(F.col("rnk") <= 20)


@register(
    "grf_degree_distribution",
    f"""
    WITH e AS (SELECT DISTINCT src, dst FROM ({_PR_EDGES_SQL})),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)
    SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
    doc="out-degree distribution of the supplier-part graph: two map-side "
        "combined aggregations, result is histogram-sized — the standard "
        "first look at any 100 TB graph before choosing join strategies",
)
def grf_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _pr_edges(spark, sf_dir).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    return deg.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


@register(
    "txt_encode_ids",
    textops.oracle_encode_ids("documents", "text", size=64),
    doc="corpus tokenization: order-preserving encode to top-64 vocab ids "
        "(OOV=-1) via posexplode + broadcast vocab join; emits the "
        "id-sequence digest so output stays row-sized",
)
def txt_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = textops.induce_vocab(docs, size=64)
    return textops.encode_ids(docs, vocab)


@register(
    "evt_funnel",
    oracle_funnel("events", ["view", "click", "purchase"]),
    doc="ordered conversion funnel view->click->purchase: per-stage earliest "
        "qualifying time via user-keyed min + co-partitioned join, no "
        "per-user sorting anywhere",
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


@register(
    "evt_funnel_windowed",
    oracle_funnel("events", ["view", "click", "purchase"], within="4 hours"),
    doc="conversion-window funnel: each later step must land within 4 "
        "hours of the user's funnel ENTRY time (anchored window, the "
        "product-analytics default) — same k-scan join-min shape with the "
        "entry timestamp carried along",
)
def evt_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], within="4 hours")


@register(
    "evt_retention",
    oracle_retention("events"),
    doc="monthly cohort retention matrix: first-event cohort x active-month "
        "distinct-user counts; the matrix is periods^2, metadata-sized",
)
def evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import retention

    ev = load_table(spark, sf_dir, "events")
    return retention(ev)


@register(
    "evt_ab_test",
    oracle_ab_test("events", min_count=14),
    doc="experiment readout: user_id%2 variants, two-proportion z-test on "
        "conversion (>=14 purchases) + Welch z on revenue-per-user; money "
        "accumulated as "
        "exact integer cents/cents^2 so the closed-form z's are the same "
        "IEEE doubles at any parallelism and in the oracle",
)
def evt_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import ab_test

    ev = load_table(spark, sf_dir, "events")
    return ab_test(ev, min_count=14)


@register(
    "tmp_asof_tolerance",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, max(value) AS value, max(event_id) AS event_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT CAST(c.event_id AS BIGINT) AS event_id, CAST(c.user_id AS BIGINT) AS user_id,
           c.ts,
           CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.ts END AS r_ts,
           CAST(CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.value END AS DOUBLE) AS r_value,
           CAST(CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.event_id END AS BIGINT) AS r_event_id
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="as-of join with staleness tolerance (merge_asof semantics): latest "
        "preceding purchase only if within 1 hour — same single-shuffle "
        "carry-forward plan, bound applied after the window pass",
)
def tmp_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal

    return temporal.asof_join(
        *_asof_sides(spark, sf_dir), ["user_id"], "ts", "ts", tolerance_seconds=3600
    )


@register(
    "smp_temperature",
    oracle_temperature_counts("documents", "doc_id", "source", alpha=0.5),
    doc="temperature-scaled domain resampling with replacement (alpha=0.5 "
        "upweights rare sources): whole copies replicate, fractional copy "
        "kept by content-stable hash; per-source sampled counts oracled",
)
def smp_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_resample(docs, "doc_id", "source", alpha=0.5)
    # left join from the stats side: a source whose every row is dropped
    # must still appear with n_sampled = 0 (the oracle emits it)
    return (
        docs.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_orig"))
        .join(
            out.groupBy("source").agg(F.count("*").cast("bigint").alias("n_sampled")),
            "source",
            "left",
        )
        .select(
            "source", "n_orig",
            F.coalesce(F.col("n_sampled"), F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


@register(
    "evt_anomaly",
    """
    WITH stats AS (
      SELECT user_id,
             CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) / count(*) AS mu,
             sqrt(greatest(
               CAST(sum(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) / count(*)
               - (CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) / count(*))
                 * (CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) / count(*)),
               0)) AS sigma,
             count(*) AS n
      FROM events GROUP BY user_id
    )
    SELECT CAST(e.event_id AS BIGINT) AS event_id,
           CAST(e.user_id AS BIGINT) AS user_id,
           CAST(e.value AS DOUBLE) AS value,
           CAST((e.value - s.mu) / s.sigma AS DOUBLE) AS zscore
    FROM events e JOIN stats s ON e.user_id = s.user_id
    WHERE s.n >= 20 AND s.sigma > 0 AND abs(e.value - s.mu) > 3 * s.sigma
    """,
    doc="per-user outlier events (|z| > 3 against the user's own "
        "mean/stddev, min 20 events): two keyed aggregates + join — the "
        "data-quality gate shape; population stddev via the same "
        "avg(v*v)-avg(v)^2 formula on both engines",
)
def evt_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # decimal-sum means: order-independent, so mu/sigma (and therefore which
    # rows clear the 3-sigma gate) are identical at any parallelism. value
    # has 2 true decimals, value^2 has 4 — both scales are lossless.
    mu = F.sum(F.col("value").cast("decimal(38,4)")).cast("double") / F.count("*")
    m2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,8)")).cast("double")
        / F.count("*")
    )
    stats = ev.groupBy("user_id").agg(
        mu.alias("mu"),
        F.sqrt(F.greatest(m2 - mu * mu, F.lit(0.0))).alias("sigma"),
        F.count("*").alias("n"),
    )
    return (
        ev.join(stats, "user_id")
        .filter(
            (F.col("n") >= 20)
            & (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
        )
        .select(
            F.col("event_id").cast("bigint"),
            F.col("user_id").cast("bigint"),
            F.col("value").cast("double"),
            ((F.col("value") - F.col("mu")) / F.col("sigma")).cast("double").alias("zscore"),
        )
    )


@register(
    "dd_containment",
    dedup.oracle_ngram_containment_pairs(
        "(SELECT * FROM documents WHERE doc_id % 10 = 0)", "doc_id", "text", 3, 0.8
    ),
    doc="asymmetric containment pairs (|A∩B|/|A| >= 0.8 over 3-gram sets, "
        "10% sample): catches docs swallowed whole by larger ones, which "
        "symmetric Jaccard dilutes; same inverted-index join",
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.ngram_containment_pairs(docs, 3, 0.8)


@register(
    "cur_length_buckets",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) AS rnk,
             count(*) OVER () AS n
      FROM t
    )
    SELECT CAST((rnk - 1) * 8 // n AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM ranked GROUP BY 1
    """,
    doc="length-quantile bucketing for batch efficiency (8 equal-count "
        "buckets by token length): total-order rank via two-phase offsets, "
        "never a global window over data",
)
def cur_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import global_sort_with_rank

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = textops.token_stats(docs).select(
        F.col("id").alias("doc_id"), "n_tokens"
    )
    n = with_tokens.count()
    ranked = global_sort_with_rank(with_tokens, ["n_tokens", "doc_id"], rank_col="rnk")
    return (
        ranked.withColumn("bucket", F.expr(f"(rnk - 1) * 8 DIV {n}").cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Frequency sketches, runtime filters, graph structure (round-2 additions)
# ---------------------------------------------------------------------------

from ..operators.graph import oracle_triangle_count
from ..operators.sketches import oracle_bloom_prune, oracle_cms_heavy_hitters


@register(
    "agg_cms_heavy",
    oracle_cms_heavy_hitters("lineitem", "l_partkey", threshold=45, depth=4, width=512),
    doc="count-min sketch heavy hitters over lineitem part keys (d=4, "
        "w=512, salted-md5 rows): mergeable cell table built by one "
        "map-side-combined shuffle; estimate = min over rows, one-sided "
        "error visible next to the exact count",
)
def agg_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_heavy_hitters

    li = load_table(spark, sf_dir, "lineitem")
    return cms_heavy_hitters(li, "l_partkey", threshold=45, depth=4, width=512)


@register(
    "agg_bloom_prune",
    oracle_bloom_prune(
        "lineitem",
        "l_suppkey",
        "(SELECT * FROM supplier WHERE s_nationkey < 5)",
        "s_suppkey",
        m_bits=128,
        k_hashes=3,
    ),
    doc="bloom-filter runtime pruning: bitmap of low-nation suppliers built "
        "by groupBy-bit_or (m=128, k=3 double hashing), broadcast as a plan "
        "literal, fact scan filtered map-only; reports pass/true/false-"
        "positive counts against the exact semi-join",
)
def agg_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_might_contain

    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    li = load_table(spark, sf_dir, "lineitem")
    bitmap = bloom_build(sup, "s_suppkey", m_bits=128, k_hashes=3)
    passed = li.filter(bloom_might_contain("l_suppkey", bitmap, m_bits=128, k_hashes=3))
    truth = sup.select(F.col("s_suppkey").alias("l_suppkey")).distinct()
    flagged = passed.join(
        truth.withColumn("__true", F.lit(1)), "l_suppkey", "left"
    ).select(F.coalesce(F.col("__true"), F.lit(0)).alias("is_true"))
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_pass"),
        F.sum("is_true").cast("bigint").alias("n_true"),
        F.sum(1 - F.col("is_true")).cast("bigint").alias("n_false_pos"),
    )


_TRI_EDGES_SQL = """
    SELECT l1.l_partkey AS src, l2.l_partkey AS dst
    FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    WHERE l1.l_partkey <> l2.l_partkey
"""


@register(
    "grf_triangles",
    oracle_triangle_count(_TRI_EDGES_SQL),
    doc="triangle counting over the parts-in-same-order co-occurrence "
        "graph: degree-oriented wedge enumeration (Suri-Vassilvitskii) so "
        "per-key fan-out is O(sqrt(E)) on power-law graphs, closed by one "
        "equi-join against the canonical edge set",
)
def grf_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = a.join(b, "ok").filter(F.col("src") != F.col("dst")).select("src", "dst")
    return triangle_count(edges)


@register(
    "grf_kcore",
    __import__(
        "hadoop_2_7_1_spark.operators.graph", fromlist=["oracle_kcore"]
    ).oracle_kcore(_TRI_EDGES_SQL, k=3, rounds=4),
    doc="k-core peeling (k=3, 4 fixed synchronous rounds) over the "
        "parts-in-same-order co-occurrence graph: per round one degree "
        "aggregate + two semi-join filters, localCheckpoint truncates "
        "lineage; fixed rounds keep it engine-replayable (oracle = "
        "unrolled CTE chain)",
)
def grf_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = a.join(b, "ok").filter(F.col("src") != F.col("dst")).select("src", "dst")
    return kcore(edges, k=3, rounds=4)


@register(
    "dd_sorted_neighborhood",
    dedup.oracle_sorted_neighborhood_pairs("documents", "doc_id", "text"),
    doc="sorted-neighborhood near-dup candidates: block on an 8-char "
        "prefix key, window-3 lead comparison sorted within each block "
        "(never a global-order single-partition window), levenshtein "
        "verify on candidates only — catches truncation/re-crawl prefix "
        "dups that shingle sketches dilute",
)
def dd_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(docs)


@register(
    "txt_linear_score",
    textops.oracle_linear_score("documents", "doc_id", "text"),
    doc="fastText-style hashed-linear quality classifier applied map-only: "
        "token -> hashed bucket -> milliweight, per-doc integer logit sum "
        "(exact at any parallelism), sigmoid rounded to 6 decimals; the "
        "production variant swaps in trained weights as a broadcast table "
        "with the identical plan shape",
)
def txt_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.linear_score(docs)


@register(
    "txt_train_lr",
    textops.oracle_train_linear_filter("documents", "doc_id", "text", n_iter=8),
    doc="train the linear quality filter IN-engine (distill a rule verdict "
        "into a classifier, the fastText-pipeline pattern): 8 full-batch GD "
        "iterations, rational fast-sigmoid (no exp -> no cross-engine ulp "
        "risk), scaled-integer gradient folds exact at any parallelism; "
        "reports weights + confusion matrix; oracle replays the whole "
        "weight trajectory bit-identically",
)
def txt_train_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.train_linear_filter(docs, n_iter=8)


@register(
    "txt_udtf_ngrams",
    f"""
    WITH g AS (
      SELECT doc_id, unnest(list_transform(
        range(1, greatest(len(tk) - 1, 0) + 1),
        i -> tk[i] || ' ' || tk[i + 1])) AS gram
      FROM (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
            FROM documents)
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY gram HAVING count(*) >= 10
    """,
    doc="Python UDTF surface (SQL LATERAL word_ngrams): 1-to-N Mapper as a "
        "registered table function; corpus bigram counts >= 10 — the same "
        "rows the JVM transform() expression path would produce",
)
def txt_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipes import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT t.gram, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM udtf_docs, LATERAL word_ngrams(text, 2) t
        GROUP BY t.gram HAVING count(*) >= 10
        """
    )


@register(
    "txt_bigram_logprob",
    textops.oracle_bigram_logprob("documents", "doc_id", "text"),
    doc="Jelinek-Mercer interpolated bigram LM score per doc (CCNet-style "
        "perplexity filter trained on the corpus itself): vocab-sized "
        "count tables, equi-keyed scoring joins, per-bigram logprobs "
        "rounded to DECIMAL(38,6) before the per-doc mean",
)
def txt_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.bigram_logprob(docs)


@register(
    "txt_line_dedup",
    textops.oracle_line_dedup("documents", "doc_id", "text", min_words=4),
    doc="C4-style corpus-wide exact line dedup: any 4+-word line keeps only "
        "its first occurrence (smallest doc id, then position) and is "
        "dropped everywhere else; short lines pass through; one line-keyed "
        "window + per-doc rebuild (counts + reconstructed kept_text)",
)
def txt_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.line_dedup(docs, min_words=4)


@register(
    "txt_ppmi_cooc",
    textops.oracle_ppmi_cooccurrence("documents", "doc_id", "text", window=2, min_count=5),
    doc="skip-gram co-occurrence + positive PMI (the count-based embedding "
        "prep behind word2vec/GloVe): +-2-position directional pairs "
        "generated map-side by a nested array transform (O(len*window) per "
        "doc, never the len^2 position cross), one (w,c) count, two "
        "marginal joins, PPMI from exact integer counts rounded to 6 dp",
)
def txt_ppmi_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.ppmi_cooccurrence(docs, window=2, min_count=5)


@register(
    "txt_kneser_ney",
    textops.oracle_kneser_ney_logprob("documents", "doc_id", "text"),
    doc="interpolated Kneser-Ney bigram LM score per doc (the KenLM-style "
        "perplexity filter): absolute discount D=0.75, continuation "
        "probability from distinct-history counts (the 'Francisco' fix "
        "over raw-frequency backoff); all model quantities exact integer "
        "aggregates, per-bigram ln rounded to DECIMAL(38,6) before the "
        "per-doc mean",
)
def txt_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.kneser_ney_logprob(docs)


@register(
    "txt_gopher_rules",
    textops.oracle_gopher_rules("documents", "doc_id", "text", min_words=20),
    doc="Gopher/MassiveText composite rule filter: word-count bounds, mean "
        "word length, symbol ratio, alpha-word ratio, required stopwords, "
        "bullet/ellipsis line ratios + single keep verdict — one fused map "
        "stage over the scan, no Python, no shuffle",
)
def txt_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_words=20: the synthetic docs are short word-soup; 20 keeps the
    # verdict column non-degenerate at test SFs (prod default stays 50).
    docs = load_table(spark, sf_dir, "documents")
    return textops.gopher_rules(docs, min_words=20)


_PII_T2_SQL = (
    "concat(text, ' ', substr(regexp_replace(md5(CAST(doc_id AS VARCHAR)),"
    " '[a-f]', '', 'g'), 1, 16))"
)


@register(
    "txt_pii_luhn",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_T2_SQL} AS t2 FROM documents)
    {textops.oracle_pii_luhn("aug", "doc_id", "t2")}
    """,
    doc="Luhn-validated card-number detection: digit-run candidates via "
        "regexp_extract_all, checksum as a nested higher-order aggregate — "
        "all codegen, no Python; candidates are injected deterministically "
        "from md5(doc_id) digits so the checksum path is exercised on "
        "digit-free synthetic docs",
)
def txt_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.expr(
            "concat(text, ' ', substring(regexp_replace(md5(cast(doc_id as string)),"
            " '[a-f]', ''), 1, 16))"
        ),
    )
    return textops.pii_luhn(docs)


@register(
    "src_csv_json_roundtrip",
    """
    SELECT fmt, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total,
           min(o_orderdate) AS first_date
    FROM (
      SELECT 'csv' AS fmt, o_totalprice, o_orderdate FROM orders
      UNION ALL
      SELECT 'json' AS fmt, o_totalprice, o_orderdate FROM orders
    ) GROUP BY fmt
    """,
    doc="CSV-with-header and JSONL as round-trip sources/sinks (explicit "
        "schema supplied on re-read — no sampling-based inference pass, "
        "which at 100 TB would double the scan): per-format row count, "
        "decimal-accumulated total, and a timestamp column surviving both "
        "serializations",
)
def src_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    base = scratch_dir(spark, "txtfmt", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    orders.write.mode("overwrite").option("header", "true").csv(f"{base}/csv")
    orders.write.mode("overwrite").json(f"{base}/json")
    csv_back = (
        spark.read.schema(orders.schema).option("header", "true").csv(f"{base}/csv")
    )
    json_back = spark.read.schema(orders.schema).json(f"{base}/json")
    both = csv_back.withColumn("fmt", F.lit("csv")).unionByName(
        json_back.withColumn("fmt", F.lit("json"))
    )
    return both.groupBy("fmt").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
        F.min("o_orderdate").alias("first_date"),
    )


@register(
    "src_pyds_seqfile",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
           CAST(sum(length(value)) AS BIGINT) AS total_value_len
    FROM (
      SELECT CAST(p_partkey AS VARCHAR) AS key, p_name AS value FROM part
    )
    """,
    doc="SequenceFile via the Python DataSource V2 API (format 'pyseqfile', "
        "sources/dsv2.py): part keys/names written as Text/Text v6 streams "
        "by the DSv2 writer, read back one split per part file — the "
        "getSplits + RecordReader contract re-expressed in Spark's native "
        "extension point (JVM reader parity pinned in tests)",
)
def src_pyds_seqfile(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources import dsv2

    dsv2.register(spark)
    path = scratch_dir(spark, "pyseq", sf_dir) + "/part_names"
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("key"),
        F.col("p_name").alias("value"),
    )
    part.repartition(4).write.format("pyseqfile").mode("overwrite").save(path)
    back = spark.read.format("pyseqfile").load(path)
    return back.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct("key").cast("bigint").alias("n_keys"),
        F.sum(F.length("value")).cast("bigint").alias("total_value_len"),
    )


_BINFILE_N = 24


def _binfile_dims(i: int) -> tuple[int, int]:
    return 8 + (i * 7) % 13, 8 + (i * 11) % 9


@register(
    "src_kv_text",
    "SELECT * FROM (VALUES "
    "('a', '1'), ('b', '2' || chr(9) || 'x'), ('nosep', ''), "
    "('', 'lead'), ('c', ''), ('d e', 'f g')"
    ") AS t(key, value)",
    doc="KeyValueTextInputFormat semantics driver-checked (KeyValueLine"
        "RecordReader.java:39): first-separator split, whole line -> key "
        "with empty value when no separator, empty key when the line "
        "starts with one, value keeps later separators verbatim",
)
def src_kv_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..io import read_kv_text

    d = scratch_dir(spark, "kvtext", sf_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "kv.txt")
    if not os.path.exists(path):
        with open(path, "w") as fh:
            fh.write("a\t1\nb\t2\tx\nnosep\n\tlead\nc\t\nd e\tf g\n")
    return read_kv_text(spark, path)


_WDS_SHARDS, _WDS_PER = 2, 8


def _wds_caption(i: int) -> str:
    return "cap " * (1 + i % 3) + str(i)


@register(
    "src_webdataset",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('sample_{i:04d}', CAST({i // _WDS_PER} AS BIGINT), CAST(3 AS BIGINT), "
        f"CAST({_binfile_dims(i)[0]} AS BIGINT), CAST({_binfile_dims(i)[1]} AS BIGINT), "
        f"CAST({len(_wds_caption(i))} AS BIGINT), CAST({i} AS BIGINT))"
        for i in range(_WDS_SHARDS * _WDS_PER)
    )
    + ") AS t(key, shard_idx, n_members, width, height, caption_len, meta_i)",
    doc="WebDataset tar-shard ingest (the standard multimodal training "
        "layout): binaryFile reads each shard whole (shard = unit of "
        "parallelism), Arrow-batched stdlib tar parse regroups members "
        "into one row per sample; PNG dims then parsed with pure JVM "
        "binary expressions (substring/hex/conv), caption/meta as typed "
        "columns — blobs never touch the driver",
)
def src_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from ..operators import multimodal as mm
    from ..sources.webdataset import read_webdataset, write_webdataset_shard

    d = scratch_dir(spark, "wds", sf_dir)
    os.makedirs(d, exist_ok=True)
    for sh in range(_WDS_SHARDS):
        path = os.path.join(d, f"shard_{sh:04d}.tar")
        if not os.path.exists(path):
            samples = []
            for j in range(_WDS_PER):
                i = sh * _WDS_PER + j
                w, h = _binfile_dims(i)
                samples.append(
                    (
                        f"sample_{i:04d}",
                        {
                            "png": mm.make_png_with_pixels(w, h, i),
                            "txt": _wds_caption(i).encode(),
                            "json": json.dumps({"i": i}).encode(),
                        },
                    )
                )
            write_webdataset_shard(path, samples)
    out = read_webdataset(spark, os.path.join(d, "*.tar"))
    return out.select(
        "key",
        F.expr("cast(regexp_extract(shard, 'shard_([0-9]+)', 1) as bigint)").alias(
            "shard_idx"
        ),
        F.col("n_members").cast("bigint"),
        F.expr("cast(conv(hex(substring(image, 17, 4)), 16, 10) as bigint)").alias(
            "width"
        ),
        F.expr("cast(conv(hex(substring(image, 21, 4)), 16, 10) as bigint)").alias(
            "height"
        ),
        F.length("caption").cast("bigint").alias("caption_len"),
        F.get_json_object("meta", "$.i").cast("bigint").alias("meta_i"),
    )


@register(
    "src_binary_files",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('img_{i:03d}.png', 'png', "
        f"CAST({_binfile_dims(i)[0]} AS BIGINT), CAST({_binfile_dims(i)[1]} AS BIGINT))"
        for i in range(_BINFILE_N)
    )
    + ") AS t(fname, fmt, width, height)",
    doc="real multimodal ingest via the binaryFile source: a directory of "
        "PNG files read whole as (path, content) rows, headers parsed in "
        "an Arrow-batched stage; at 100 TB this source is how image/audio "
        "blobs enter the engine (one row per object, never decoded on the "
        "driver)",
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import multimodal as mm

    d = scratch_dir(spark, "binfiles", sf_dir)
    os.makedirs(d, exist_ok=True)
    for i in range(_BINFILE_N):
        w, h = _binfile_dims(i)
        path = os.path.join(d, f"img_{i:03d}.png")
        if not os.path.exists(path):
            with open(path, "wb") as fh:
                fh.write(mm.make_png_with_pixels(w, h, i))
    raw = spark.read.format("binaryFile").load(d)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            names, fmts, ws, hs = [], [], [], []
            for p, blob in zip(pdf["path"], pdf["content"]):
                fmt, w, h = mm.parse_image_header(bytes(blob))
                names.append(os.path.basename(str(p)))
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {"fname": names, "fmt": fmts, "width": ws, "height": hs}
            )

    return raw.select("path", "content").mapInPandas(
        parse, "fname string, fmt string, width long, height long"
    )


@register(
    "src_corrupt_json",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS BIGINT)
             AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0
                         THEN CAST(o_totalprice AS DECIMAL(38,4)) END)
                AS DOUBLE) AS good_total
    FROM orders
    """,
    doc="crawl-robust JSONL ingest: every 7th record is deterministically "
        "truncated mid-object before writing; PERMISSIVE-mode read "
        "surfaces corrupt lines as null rows instead of failing the job, "
        "and the good-row decimal total proves no valid record is lost",
)
def src_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch_dir(spark, "corruptjson", sf_dir) + "/orders"
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lines = orders.select(
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.substring(F.to_json(F.struct("o_orderkey", "o_totalprice")), 1, 9),
        )
        .otherwise(F.to_json(F.struct("o_orderkey", "o_totalprice")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema("o_orderkey long, o_totalprice double")
        .option("mode", "PERMISSIVE")
        .json(path)
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).cast("bigint").alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("o_orderkey").isNotNull(),
                F.col("o_totalprice").cast("decimal(38,4)"),
            )
        )
        .cast("double")
        .alias("good_total"),
    )


@register(
    "src_schema_evolution",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(pr) AS BIGINT) AS n_with_priority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
    FROM (
      SELECT o_totalprice, NULL AS pr FROM orders
      UNION ALL
      SELECT o_totalprice, o_orderpriority AS pr FROM orders
    )
    """,
    doc="schema evolution across parquet batches: an old batch written "
        "without o_orderpriority and a new batch with it are read back "
        "under mergeSchema=true — old rows surface NULL for the added "
        "column, counts and a decimal total prove nothing is dropped or "
        "double-read",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:

    base = scratch_dir(spark, "schemaevo", sf_dir) + "/orders"
    orders = load_table(spark, sf_dir, "orders")
    orders.select("o_orderkey", "o_totalprice").write.mode("overwrite").parquet(
        f"{base}/batch=1"
    )
    orders.select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{base}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("total"),
    )


@register(
    "src_snapshot_table",
    """
    WITH v1 AS (SELECT count(*) AS n,
                       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
                FROM orders WHERE o_orderkey % 3 = 0),
    v2 AS (SELECT count(*) AS n,
                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders WHERE o_orderkey % 3 IN (0, 1)),
    v3 AS (SELECT count(*) AS n,
                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders WHERE o_orderkey % 3 = 2)
    SELECT CAST(1 AS BIGINT) AS version, CAST(n AS BIGINT) AS n_rows,
           CAST(cents AS BIGINT) AS cents FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(n AS BIGINT), CAST(cents AS BIGINT) FROM v2
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(n AS BIGINT), CAST(cents AS BIGINT) FROM v3
    """,
    doc="snapshot-versioned table with time travel (sources/snaptable.py): "
        "commit v1 (a third of orders), APPEND v2 (another third — commit "
        "cost O(delta), manifest = prior files + new dir), OVERWRITE v3 "
        "(the last third); then read every version back through its "
        "manifest. Publish order data -> manifest -> rename-atomic VERSION "
        "pointer (FileOutputCommitter's rename discipline lifted to table "
        "level); oracle derives each version's rows straight from orders",
)
def src_snapshot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..sources import snaptable

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scratch_dir(spark, "snaptable", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    snaptable.snap_commit(orders.filter(F.col("o_orderkey") % 3 == 0), root, "append")
    snaptable.snap_commit(orders.filter(F.col("o_orderkey") % 3 == 1), root, "append")
    snaptable.snap_commit(orders.filter(F.col("o_orderkey") % 3 == 2), root, "overwrite")
    per_version = [
        snaptable.snap_read(spark, root, v)
        .agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
        for v in (1, 2, 3)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


@register(
    "src_zstd_parquet",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="zstd-compressed parquet round-trip (the modern archival codec "
        "next to snappy): write, re-read, decimal-accumulated aggregate "
        "vs the source-parquet oracle",
)
def src_zstd_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch_dir(spark, "zstd", sf_dir) + "/lineitem"
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    li.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"),
    )


@register(
    "src_orc_roundtrip",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
                AS DOUBLE) AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="ORC as a first-class columnar source/sink (Spark-native reader, "
        "predicate pushdown + column pruning like parquet): lineitem "
        "round-trips through snappy ORC, then a decimal-accumulated "
        "aggregate must hash-match the parquet-direct oracle",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch_dir(spark, "orc", sf_dir) + "/lineitem"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    li.write.mode("overwrite").option("compression", "snappy").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("revenue"),
    )


_SETFILE_PROBES = [1, 2, 3, 5, 8, 13, 100, 101, 2500, 999_999]


@register(
    "src_setfile_membership",
    f"""
    WITH probes(probe) AS (
      VALUES {", ".join(f"({p})" for p in _SETFILE_PROBES)}
    )
    SELECT CAST(probe AS BIGINT) AS probe,
           probe IN (
             SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           ) AS member
    FROM probes
    """,
    doc="SetFile (IO/SetFile.java:33): sorted NullWritable-valued MapFile "
        "as an on-disk set — BUILDING-segment custkeys written as a real "
        "SetFile dir (stock SetFile.Reader round-trip in tests), then "
        "index-aware membership probes; O(index + one interval) per probe",
)
def src_setfile_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import mapfile

    out = scratch_dir(spark, "setfile", sf_dir)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").cast("bigint").alias("k"))
    mapfile.write_set_file(cust, out, "k", num_parts=4)
    rows = [(int(p), mapfile.set_file_contains(out, p)) for p in _SETFILE_PROBES]
    return spark.createDataFrame(rows, "probe bigint, member boolean")


_BLOOMMAP_PROBES = [1, 4, 7, 10, 40, 400, 4000, 777_777]


@register(
    "src_bloom_mapfile",
    f"""
    WITH probes(probe) AS (
      VALUES {", ".join(f"({p})" for p in [1, 4, 7, 10, 40, 400, 4000, 777_777])}
    ), k AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 0)
    SELECT CAST(probe AS BIGINT) AS probe,
           CASE WHEN probe IN (SELECT o_orderkey FROM k)
                THEN CAST(probe AS VARCHAR) ELSE NULL END AS got
    FROM probes
    """,
    doc="BloomMapFile (IO/BloomMapFile.java:49): MapFile dirs with a real "
        "on-disk DynamicBloomFilter consulted before index/data — sparse "
        "lookups skip whole parts on a bloom negative (stock reader "
        "round-trip in tests, both directions)",
)
def src_bloom_mapfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import mapfile

    out = scratch_dir(spark, "bloommap", sf_dir)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 == 0
    ).select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_orderkey").cast("string").alias("v"),
    )
    mapfile.write_bloom_map_file(orders, out, "k", "v", num_parts=4,
                                 bloom_num_keys=65536)
    rows = [
        (int(p), mapfile.bloom_map_file_lookup(out, p)) for p in _BLOOMMAP_PROBES
    ]
    return spark.createDataFrame(rows, "probe bigint, got string")


_ARRAYFILE_GETS = [0, 1, 127, 128, 129, 500]


@register(
    "src_arrayfile_get",
    f"""
    WITH arr AS (
      SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS n, s_name
      FROM supplier
    ), gets(n) AS (VALUES {", ".join(f"({n})" for n in _ARRAYFILE_GETS)})
    SELECT CAST(gets.n AS BIGINT) AS n, arr.s_name AS got
    FROM gets LEFT JOIN arr ON arr.n = gets.n
    """,
    doc="ArrayFile (IO/ArrayFile.java:33): LongWritable-position MapFile — "
        "supplier names written in s_suppkey total order via the two-phase "
        "prefix rank (no global window), then positional get(n) lookups "
        "(stock ArrayFile.Reader round-trip in tests)",
)
def src_arrayfile_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import mapfile

    out = scratch_dir(spark, "arrayfile", sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("ord"), "s_name"
    )
    mapfile.write_array_file(supp, out, "s_name", "ord", num_parts=4)
    rows = [(int(n), mapfile.array_file_get(out, n)) for n in _ARRAYFILE_GETS]
    return spark.createDataFrame(rows, "n bigint, got string")


@register(
    "dd_span_dedup",
    dedup.oracle_dup_span_stats("documents", "doc_id", "text", n=8),
    doc="exact duplicated-substring detection at 8-gram granularity (the "
        "scalable suffix-array-dedup shape): inverted gram index -> mark "
        "positions duplicated across docs -> merge consecutive positions "
        "into maximal spans; per-doc n_grams/n_dup_grams/n_dup_spans/"
        "dup_frac — one gram shuffle + equi-join back, never all-pairs",
)
def dd_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_span_stats(docs, n=8)


@register(
    "dd_fuzzy_name_pairs",
    dedup.oracle_fuzzy_key_pairs("supplier", "s_suppkey", "s_name"),
    doc="edit-distance-1 entity resolution via deletion-neighborhood "
        "(FastSS) blocking: each key fans out to |s|+1 deletion variants, "
        "distance<=1 pairs always share a block, an equi-join on the block "
        "finds candidates without all-pairs, JVM levenshtein verifies",
)
def dd_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    return dedup.fuzzy_key_pairs(sup, "s_suppkey", "s_name")


@register(
    "dd_span_removal",
    dedup.oracle_remove_dup_spans("documents", "doc_id", "text", n=8),
    doc="duplicated-substring REMOVAL: tokens covered by a cross-doc dup "
        "8-gram are cut everywhere except the gram's owner (min doc), "
        "survivors reassembled in order via array_sort over (pos,tok) "
        "structs — no global sort; emits per-doc before/after counts and "
        "the cleaned-text md5",
)
def dd_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_dup_spans(docs, n=8)


@register(
    "dd_minhash_accuracy",
    dedup.oracle_minhash_accuracy("documents", "doc_id", "text"),
    doc="sketch-quality audit: MinHash Jaccard estimate vs exact shingle "
        "Jaccard over the LSH candidate pairs -> (n_pairs, mean_abs_err, "
        "max_abs_err); the measure-don't-guess loop to run on a sample "
        "whenever K/bands/shingle size change — cost is the candidate join "
        "+ shared-shingle verify, never all-pairs",
)
def dd_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_accuracy(docs)


@register(
    "dd_lsh_sweep",
    dedup.oracle_lsh_band_sweep("documents", "doc_id", "text"),
    doc="banded-LSH operating-point curve: candidate volume + measured "
        "recall of true near-dup pairs (exact Jaccard >= 0.5) for bands "
        "in {2,4,8} at K=16 — pick the cheapest banding that clears the "
        "recall target; dedup twin of sim_kmeans_recall_curve, one exact "
        "ground truth shared across configs",
)
def dd_lsh_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_band_sweep(docs)


@register(
    "dd_semdedup",
    similarity.oracle_semdedup("embeddings", k=None, n_iter=2, threshold=0.35),
    doc="SemDeDup semantic dedup (Abbas 2023): k-means cluster the "
        "embeddings, drop in-cluster vectors with a lower-id cosine "
        "neighbor >= 0.35 — the pairwise join is equi-keyed on cluster "
        "(sum(cluster^2) candidates, never corpus^2); k is SIZE-DERIVED "
        "(k = ceil(N/250), similarity.derive_k — both engines compute it "
        "from count(*), the InputSampler discipline) so cluster sizes "
        "stay constant and the pair bill linear as the corpus grows; "
        "per-cluster (n_total, n_dropped) summary",
)
def dd_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, k=None, n_iter=2, threshold=0.35)


@register(
    "sim_pq_adc",
    similarity.oracle_pq_search(
        "embeddings", "vec_id < 3", m=4, k_codebook=8, n_iter=2, k=3, dim=64
    ),
    doc="product-quantization ANN (m=4 subspaces, k=8 codes, 2 Lloyd "
        "rounds per subspace): corpus compressed to 4 code bytes per "
        "vector, queries scored by ADC table lookups — the scan touches "
        "the 32x-compressed codes, never the raw vectors",
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=4, k=8, n_iter=2, dim=64)
    qs = emb.filter(F.col("vec_id") < 3)
    return similarity.pq_search_adc(emb, qs, books, k=3)


@register(
    "sim_pq_recall",
    similarity.oracle_pq_recall(
        "embeddings", "vec_id % 50 = 0", m=4, k_codebook=8, n_iter=2, k=5, dim=64
    ),
    doc="quantization-loss audit for the PQ family: recall@5 of ADC search "
        "vs exact squared-L2 ground truth on a sampled query set — the "
        "re-run-on-parameter-change loop that sim_ann_recall provides for "
        "the IVF family; ADC side still reads only the m-byte codes",
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=4, k=8, n_iter=2, dim=64)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.pq_recall(emb, qs, books, k=5)


@register(
    "sim_ivf_pq",
    similarity.oracle_ivf_pq(
        "embeddings", "vec_id < 3", n_clusters=8, nprobe=2, m=4,
        k_codebook=8, n_iter=2, k=3, dim=64,
    ),
    doc="IVF-PQ, the production ANN index shape (FAISS IndexIVFPQ sans "
        "residuals): trained coarse cells bound WHICH rows are scanned "
        "(nprobe=2 of 8 cells), PQ codes bound WHAT is read per row (4 "
        "code bytes); one map-only pass builds (cluster, codes) per "
        "vector; probe is a cluster equi-join; scanned-fraction and "
        "compression multiply",
)
def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    emb = load_table(spark, sf_dir, "embeddings")
    # The coarse and PQ trainings are independent driver-synchronous Lloyd
    # loops; overlap them so one loop's job tail back-fills the other's
    # idle executors (guide §2.6). Each fit is deterministic on its own, so
    # the trained model — and the declared output — is unchanged.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cents = pool.submit(similarity.kmeans_fit, emb, 8, 2)
        f_books = pool.submit(similarity.pq_fit, emb, 4, 8, 2, dim=64)
        cents, books = f_cents.result(), f_books.result()
    qs = emb.filter(F.col("vec_id") < 3)
    return similarity.ivf_pq_topk(emb, qs, cents, books, k=3, nprobe=2)


@register(
    "txt_winnow",
    textops.oracle_winnow_fingerprints("documents", "doc_id", "text", ngram=8, window=16),
    doc="winnowing fingerprint selection (Schleimer-Wilkerson-Aiken): min "
        "hash of every 16-hash sliding window over char 8-grams — the "
        "positional sketch with the shared-substring guarantee; one codegen "
        "expression per row, no explode",
)
def txt_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.winnow_fingerprints(docs, ngram=8, window=16)


@register(
    "agg_group_quantiles",
    None,  # set below — needs the operator import
    doc="exact per-group quantiles (p50/p90/p99 of extended price per "
        "return flag) by nearest-rank selection: one group-keyed window + "
        "conditional agg, engine-replayable unlike percentile_approx",
)
def agg_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return group_quantiles(li, "l_returnflag", "l_extendedprice")


@register(
    "agg_winsorized",
    oracle_winsorized_stats("lineitem", "l_returnflag", "l_extendedprice"),
    doc="winsorized robust mean per return flag: exact nearest-rank "
        "p05/p95 bounds (one group window), bound table broadcast back "
        "onto the scan, clip, exact-cent means raw vs winsorized — the "
        "outlier-robust rollup",
)
def agg_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import winsorized_stats

    li = load_table(spark, sf_dir, "lineitem")
    return winsorized_stats(li, "l_returnflag", "l_extendedprice")


@register(
    "agg_weighted_median",
    oracle_weighted_median("lineitem", "l_returnflag", "l_extendedprice", "l_quantity"),
    doc="exact weighted lower median per return flag (extended price "
        "weighted by quantity): per-(group,value) weight histogram, "
        "cumulative window over distinct values only, all-integer pick — "
        "grouped_exact_median generalized to weighted rows",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(li, "l_returnflag", "l_extendedprice", "l_quantity")


@register(
    "cur_interleave_sources",
    oracle_interleave_sources("documents", "doc_id", "source"),
    doc="deterministic balanced source interleaving for training order: "
        "content-stable within-source rank (md5, re-salt for a new epoch), "
        "pos = rank * n_sources + source_idx — sources cycle every "
        "n_sources positions; one domain-keyed window + broadcast index",
)
def cur_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import interleave_sources

    docs = load_table(spark, sf_dir, "documents")
    return interleave_sources(docs, "doc_id", "source")


@register(
    "mm_scene_cuts",
    # Fixture: animated GIF per doc, gradient pixel(x,y,k) = (3x + 5y + 17k
    # + s + jump) % 256 with jump = 128 once k reaches nf//2 — a real scene
    # change mid-sequence. Spark LZW-decodes the ACTUAL frames and scores
    # consecutive-frame mean absolute difference; the oracle replays the
    # gradient arithmetic (within-scene MAD ~31.7, cut MAD ~125.7).
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 251 AS s,
             6 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10 AS w,
             4 + CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 10 AS h,
             4 + doc_id % 4 AS nf
      FROM documents
    ), trans AS (
      SELECT doc_id, s, w, h, nf, unnest(range(1, nf)) AS k FROM dims
    ), scored AS (
      SELECT doc_id, k, w, h,
             CAST(list_sum([
               list_sum([ abs(
                 ((x*3 + y*5 + k*17 + s + CASE WHEN k >= nf // 2 THEN 128 ELSE 0 END) % 256)
                 - ((x*3 + y*5 + (k-1)*17 + s + CASE WHEN (k - 1) >= nf // 2 THEN 128 ELSE 0 END) % 256) )
               for x in range(w) ])
             for y in range(h) ]) AS BIGINT) AS sad
      FROM trans
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(k AS BIGINT) AS frame_idx,
           CAST((sad * 1000) // (w * h) AS BIGINT) AS mad1000,
           (sad * 1000) // (w * h) > 60000 AS is_cut
    FROM scored
    """,
    doc="scene-cut detection on REAL decoded motion frames: per-transition "
        "mean absolute pixel difference (exact integer mad1000) over "
        "LZW-decoded GIF frames, cut when MAD > 60 — the shot-boundary "
        "stage of a video curation pipeline (multimodal.scene_cuts); "
        "fixture embeds a genuine mid-sequence scene change",
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5(str(text).encode("utf-8")).hexdigest()
                w = 6 + int(hx[:8], 16) % 10
                h = 4 + int(hx[8:16], 16) % 10
                s = int(doc_id) % 251
                nf = 4 + int(doc_id) % 4
                frames = [
                    bytes((x * 3 + y * 5 + k * 17 + s
                           + (128 if k >= nf // 2 else 0)) % 256
                          for y in range(h) for x in range(w))
                    for k in range(nf)
                ]
                ids.append(int(doc_id))
                blobs.append(multimodal.make_gif_animated(frames, w, h))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    from ..operators import fan_out

    # fixture build + frame decode are CPU-bound Python: fan the
    # single-split documents scan out to all cores first (8.1s -> ~1.5s
    # at sf0.1, measured)
    media = fan_out(docs).mapInPandas(build, "media_id long, content binary")
    return multimodal.scene_cuts(media, threshold_mad1000=60_000)


@register(
    "mm_frame_sample",
    # Deterministic motion fixture: each doc becomes an animated GIF with
    # nf = 2 + doc_id % 5 gradient frames (pixel(x,y,k) = (3x + 5y + 17k +
    # s) % 256, s = doc_id % 251) and md5-derived dims; Spark LZW-decodes
    # every 2nd frame and checksums the actual pixels, the oracle replays
    # the gradient arithmetic.
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 251 AS s,
             6 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10 AS w,
             4 + CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 10 AS h,
             2 + doc_id % 5 AS nf
      FROM documents
    ), frames AS (
      SELECT doc_id, s, w, h, unnest(range(nf)) AS k FROM dims
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(k AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(list_sum([
             list_sum([ (x*3 + y*5 + k*17 + s) % 256 for x in range(w) ])
           for y in range(h) ]) AS BIGINT) AS pix_sum
    FROM frames WHERE k % 2 = 0
    """,
    doc="REAL motion-frame sampling, distributed: animated-GIF fixtures -> "
        "pure-stdlib LZW frame decode (every 2nd frame) -> per-frame pixel "
        "checksum (operators/multimodal.py gif_decode_frames / "
        "sample_video_frames; north-star multimodal stage)",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5(str(text).encode("utf-8")).hexdigest()
                w = 6 + int(hx[:8], 16) % 10
                h = 4 + int(hx[8:16], 16) % 10
                s = int(doc_id) % 251
                nf = 2 + int(doc_id) % 5
                frames = [
                    bytes((x * 3 + y * 5 + k * 17 + s) % 256
                          for y in range(h) for x in range(w))
                    for k in range(nf)
                ]
                ids.append(int(doc_id))
                blobs.append(multimodal.make_gif_animated(frames, w, h))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(build, "media_id long, content binary")
    sampled = multimodal.sample_video_frames(media, every_n=2)

    def checksum(batches):
        for pdf in batches:
            sums = []
            for blob in pdf["frame_png"]:
                _, _, _, px = multimodal.png_decode(bytes(blob))
                sums.append(sum(px))
            out = pdf[["media_id", "frame_idx", "width", "height"]].copy()
            out["pix_sum"] = sums
            yield out

    return sampled.mapInPandas(
        checksum,
        "media_id long, frame_idx long, width long, height long, pix_sum long",
    )


_URL_VARIANTS_SQL = """
    CASE doc_id % 6
      WHEN 0 THEN 'http://site' || CAST(doc_id // 6 AS VARCHAR) || '.com/path?b=2&a=1'
      WHEN 1 THEN 'HTTP://SITE' || CAST(doc_id // 6 AS VARCHAR) || '.com:80/path?a=1&b=2#frag'
      WHEN 2 THEN 'http://site' || CAST(doc_id // 6 AS VARCHAR) || '.com/path?utm_source=x&a=1&b=2'
      WHEN 3 THEN 'https://Site' || CAST(doc_id // 6 AS VARCHAR) || '.com/other?z=9'
      WHEN 4 THEN 'https://site' || CAST(doc_id // 6 AS VARCHAR) || '.com:443/other/?z=9'
      ELSE 'https://site' || CAST(doc_id // 6 AS VARCHAR) || '.com/other?z=9&fbclid=abc'
    END
"""

_URL_VARIANTS_SPARK = """
    CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN concat('http://site', CAST(doc_id div 6 AS STRING), '.com/path?b=2&a=1')
      WHEN 1 THEN concat('HTTP://SITE', CAST(doc_id div 6 AS STRING), '.com:80/path?a=1&b=2#frag')
      WHEN 2 THEN concat('http://site', CAST(doc_id div 6 AS STRING), '.com/path?utm_source=x&a=1&b=2')
      WHEN 3 THEN concat('https://Site', CAST(doc_id div 6 AS STRING), '.com/other?z=9')
      WHEN 4 THEN concat('https://site', CAST(doc_id div 6 AS STRING), '.com:443/other/?z=9')
      ELSE concat('https://site', CAST(doc_id div 6 AS STRING), '.com/other?z=9&fbclid=abc')
    END
"""


@register(
    "dd_url_dedup",
    f"""
    WITH urls AS (
      SELECT doc_id, {_URL_VARIANTS_SQL} AS url FROM documents
    )
    SELECT {dedup.oracle_canonical_url("url")} AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM urls GROUP BY 1
    """,
    doc="URL canonicalization + dedup (web-corpus ingest): lowercase "
        "scheme/host, strip default ports + fragments + tracking params, "
        "sort query params, strip trailing slashes — all JVM expressions; "
        "collapse crawl variants with one hash-groupBy on the canonical "
        "form (operators/dedup.py canonical_url/url_dedup)",
)
def dd_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_VARIANTS_SPARK).alias("url")
    )
    return dedup.url_dedup(docs)


@register(
    "mm_augment_chain",
    # crop(2,1,8,6) -> horizontal flip -> rotate90: flip/rot permute pixels
    # (sum-invariant) and swap dims, so the oracle checks final dims (6x8)
    # plus the crop-region gradient sum; byte-exact flip/rot mappings are
    # pinned in tests/test_operators.py.
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(6 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(list_sum([
             list_sum([
               ((x*7 + doc_id % 251) % 256)
               + ((y*11 + (doc_id % 251)*3) % 256)
               + ((x + y + (doc_id % 251)*5) % 256)
             for x in range(2, 10) ]) for y in range(1, 7) ]) AS BIGINT) AS pix_sum
    FROM documents
    """,
    doc="image augmentation chain, distributed: gradient PNG -> crop -> "
        "horizontal flip -> rotate90 -> re-encode -> re-decode + pixel "
        "checksum (operators/multimodal.py augment_images; the "
        "training-variant stage of an image data pipeline)",
)
def mm_augment_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                s = int(doc_id) % 251
                ids.append(int(doc_id))
                blobs.append(multimodal.make_png_with_pixels(12, 10, s))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(build, "media_id long, content binary")
    aug = multimodal.augment_images(
        media, crop=(2, 1, 8, 6), flip_h=True, rotate90=True
    )

    def checksum(batches):
        for pdf in batches:
            sums = []
            for blob in pdf["content"]:
                _, _, _, px = multimodal.png_decode(bytes(blob))
                sums.append(sum(px))
            out = pdf[["media_id", "width", "height"]].copy()
            out["pix_sum"] = sums
            yield out

    return aug.mapInPandas(
        checksum, "media_id long, width long, height long, pix_sum long"
    )


@register(
    "mm_audio_features",
    # Deterministic PCM fixture: sample s(k) = (k*(7+sd)) % 20001 - 10000
    # with sd = doc_id % 97 and n = 192 + md5(text) % 128 samples; Spark
    # parses the actual RIFF/WAVE bytes and computes windowed RMS +
    # zero-crossings from decoded samples; the oracle replays the waveform
    # arithmetic.
    """
    WITH dims AS (
      SELECT doc_id, doc_id % 97 AS sd,
             192 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 128 AS n
      FROM documents
    ), wins AS (
      SELECT doc_id, sd, unnest(range(n // 64)) AS w FROM dims
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(w AS BIGINT) AS win_idx,
           CAST(sqrt(list_sum([
             pow(((64*w + j) * (7 + sd)) % 20001 - 10000, 2)
           for j in range(64) ]) / 64.0) AS DOUBLE) AS rms,
           CAST(list_sum([
             CASE WHEN ((((64*w + j) * (7 + sd)) % 20001 - 10000 >= 0)
                        <> (((64*w + j - 1) * (7 + sd)) % 20001 - 10000 >= 0))
                  THEN 1 ELSE 0 END
           for j in range(1, 64) ]) AS BIGINT) AS zero_crossings
    FROM wins
    """,
    doc="REAL audio featurization, distributed: RIFF/WAVE PCM fixtures -> "
        "pure-stdlib chunk-walking parse -> windowed RMS energy + "
        "zero-crossing counts (operators/multimodal.py parse_wav / "
        "audio_features; the VAD/energy-gating stage of a speech pipeline)",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            ids, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5(str(text).encode("utf-8")).hexdigest()
                n = 192 + int(hx[:8], 16) % 128
                sd = int(doc_id) % 97
                samples = [(k * (7 + sd)) % 20001 - 10000 for k in range(n)]
                ids.append(int(doc_id))
                blobs.append(multimodal.make_wav(samples))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(build, "media_id long, content binary")
    return multimodal.audio_features(media, window=64).select(
        "media_id", "win_idx", "rms", "zero_crossings"
    )


@register(
    "cur_zorder_key",
    f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST({oracle_zorder_value("l_orderkey", "l_linenumber")} AS BIGINT) AS zval
    FROM lineitem
    """,
    doc="Morton/Z-order clustering key over (l_orderkey, l_linenumber): the "
        "multi-dimensional data-layout primitive (Delta/Iceberg OPTIMIZE "
        "ZORDER shape) — bit interleave as a JVM aggregate expression; "
        "zorder_layout writes range-partitioned tiles so parquet min/max "
        "prunes on either column (layout test in test_operators)",
)
def cur_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import zorder_value

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("bigint"),
        F.col("l_linenumber").cast("bigint"),
        zorder_value("l_orderkey", "l_linenumber").cast("bigint").alias("zval"),
    )


@register(
    "cur_split_long_docs",
    oracle_split_long_docs("documents", "doc_id", "text", 64, 16),
    doc="sliding-window chunking of long docs into 64-token chunks with "
        "16-token overlap (context-window prep): tokenize once, explode a "
        "chunk-index sequence, slice per chunk — map-only, zero shuffles "
        "(operators/packing.py split_long_docs)",
)
def cur_split_long_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import split_long_docs

    docs = load_table(spark, sf_dir, "documents")
    return split_long_docs(docs, "doc_id", "text", max_tokens=64, overlap=16)


@register(
    "cur_dataset_card",
    """
    WITH dup AS (
      SELECT md5(text) AS fp, count(*) AS n FROM documents GROUP BY md5(text)
    ), per_doc AS (
      SELECT d.source, d.lang,
             len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'), t -> t <> '')) AS n_tokens,
             d.n_chars, dup.n > 1 AS is_dup
      FROM documents d JOIN dup ON md5(d.text) = dup.fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM per_doc GROUP BY source
    """,
    doc="dataset datasheet per source: doc/token/char totals, exact-dup doc "
        "count (via content-hash join), language diversity — the one-pass "
        "corpus summary a training run records before ingestion",
)
def cur_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dup = (
        docs.select(F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"))
    )
    toks = ws_tokens_sql("text")
    per_doc = (
        docs.withColumn("fp", F.md5("text"))
        .join(dup, "fp")
        .select(
            "source",
            "lang",
            F.expr(f"size({toks})").alias("n_tokens"),
            "n_chars",
            (F.col("n") > 1).alias("is_dup"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint").alias("n_dup_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


@register(
    "src_avro_roundtrip",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_key
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Avro Object Container File as a first-class source/sink "
        "(sources/avrofile.py: pure-Python OCF writer+reader, deflate "
        "codec, stock-JVM DataFileReader/Writer round-trips pinned in "
        "tests/test_sources.py): lineitem columns round-trip through "
        "deflate avro part files, then a decimal-accumulated aggregate "
        "must hash-match the parquet-direct oracle",
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.avrofile import read_avro, write_avro

    path = scratch_dir(spark, "avro", sf_dir) + "/lineitem"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )
    write_avro(li, path, codec="deflate")
    back = read_avro(spark, path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("sum_qty"),
        F.sum("l_orderkey").cast("bigint").alias("sum_key"),
    )


from ..operators.sketches import oracle_kmv_overlap
from ..operators.profile import oracle_join_skew
from ..operators.funnel import oracle_survival_km
from ..operators.similarity import oracle_embedding_moments


@register(
    "agg_kmv_overlap",
    oracle_kmv_overlap("events", "event_type", "user_id", k=64),
    doc="KMV sketch SET ALGEBRA (Beyer et al. SIGMOD'07): pairwise "
        "audience overlap between event types from merged k=64 sketches — "
        "union estimate (k-1)/h_k of the merged k-smallest, Jaccard "
        "estimate = fraction of the merged top-k present in both input "
        "sketches; exact n_common/n_union audit columns alongside. All "
        "pairwise work happens on sketch rows (n_groups*k), never data "
        "(operators/sketches.py:kmv_overlap)",
)
def agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_overlap

    ev = load_table(spark, sf_dir, "events")
    return kmv_overlap(ev, "event_type", "user_id", k=64)


@register(
    "prof_join_skew",
    oracle_join_skew("events", "orders", "user_id", "o_custkey", top_n=25),
    doc="join-skew pre-flight audit: top-25 keys of the events.user_id x "
        "orders.o_custkey equi-join by exact output contribution "
        "n_left*n_right with share of total output — the 'which keys to "
        "salt' report run before a 100 TB join; two keyed counts, one "
        "count-table join, TakeOrderedAndProject top-n "
        "(operators/profile.py:join_skew)",
)
def prof_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import join_skew

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return join_skew(ev, orders, "user_id", "o_custkey", top_n=25)


@register(
    "evt_survival",
    oracle_survival_km("events"),
    doc="Kaplan-Meier user-lifetime survival curve with right censoring "
        "(last activity within 7d of corpus end = still alive): per "
        "distinct lifetime t, exact n_at_risk/d/c counts and S(t) = "
        "exp(sum ln((n-d)/n)) under the unigram_logprob decimal(38,6) "
        "summation discipline; all post-aggregation work is on the "
        "metadata-scale lifetime frame (operators/funnel.py:survival_km)",
)
def evt_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import survival_km

    ev = load_table(spark, sf_dir, "events")
    return survival_km(ev, censor_days=7)


@register(
    "sim_embedding_cov",
    oracle_embedding_moments("embeddings", dims=16, scale=10_000),
    doc="EXACT second-moment matrix of the leading 16 embedding dims as "
        "scaled-integer sums (fixed-point 1e4): one wide map-side-combined "
        "aggregation (single ~150-cell row per partition shuffles, never "
        "data), stack-unpivoted to (i, j, sum, n) cells — the distributed "
        "half of PCA; pca_top_component power-iterates the collected d x d "
        "cells driver-side (operators/similarity.py:embedding_moments)",
)
def sim_embedding_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_moments

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_moments(emb, dims=16, scale=10_000)


from ..functions import oracle_hash32
from ..operators.graph import oracle_personalized_pagerank
from ..operators.textops import oracle_inverted_index
from ..operators.funnel import oracle_burst_flags
from ..operators.profile import oracle_snapshot_diff


@register(
    "grf_ppr",
    oracle_personalized_pagerank(
        _PR_EDGES_SQL, "node IN ('s1', 's2', 's3')", iterations=3
    ),
    doc="Personalized PageRank (random walk with restart into seeds "
        "{s1,s2,s3}, 3 rounds, d=0.85) over the undirected supplier-part "
        "graph — 'which parts/suppliers matter as seen from these three "
        "suppliers'; same scaled-bigint determinism recipe as grf_pagerank, "
        "teleport mass lands only on the seed set "
        "(operators/graph.py:personalized_pagerank)",
)
def grf_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    edges = _pr_edges(spark, sf_dir)
    return personalized_pagerank(
        edges, "node IN ('s1', 's2', 's3')", iterations=3, damping=0.85
    )


@register(
    "txt_inverted_index",
    oracle_inverted_index("documents", "doc_id", "text", min_df=2),
    doc="positional inverted index over documents (terms with df >= 2): "
        "per term df, total tf, and an md5 digest of the full ordered "
        "doc:pos|pos posting list — the whole index content hash-checked "
        "cross-engine via the array_sort(collect_list(struct)) ≡ "
        "string_agg(ORDER BY) identity "
        "(operators/textops.py:inverted_index)",
)
def txt_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, min_df=2)


@register(
    "evt_burst",
    oracle_burst_flags("events", "user_id", "ts", window_s=60, threshold=3),
    doc="burst / bot-rate screen: per user the exact PEAK event count in "
        "any sliding 60-second window (one user-keyed RANGE window over "
        "epoch seconds + per-user max, no self-join), flagged at >= 3 "
        "(operators/funnel.py:burst_flags)",
)
def evt_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import burst_flags

    ev = load_table(spark, sf_dir, "events")
    return burst_flags(ev, window_s=60, threshold=3)


_SNAP_H = oracle_hash32("CAST(doc_id AS VARCHAR)")
_SNAP_OLD_SQL = f"SELECT * FROM documents WHERE {_SNAP_H} % 10 < 9"
_SNAP_NEW_SQL = f"""
    SELECT doc_id,
           CASE WHEN {_SNAP_H} % 7 = 0 THEN text || ' v2' ELSE text END AS text,
           lang, source, n_chars
    FROM documents WHERE {_SNAP_H} % 10 > 0
"""


@register(
    "cur_snapshot_diff",
    oracle_snapshot_diff(
        _SNAP_OLD_SQL, _SNAP_NEW_SQL, "doc_id", ["text", "lang"], "source"
    ),
    doc="change-data report between two dataset snapshots (derived here "
        "from documents by content-stable hash: 90% old, 90% new, every "
        "7th text mutated): per source, counts of added / removed / "
        "changed / unchanged via md5 content identity and ONE key-keyed "
        "full outer join (operators/profile.py:snapshot_diff)",
)
def cur_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import hex_hash32
    from ..operators.profile import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    h = hex_hash32("doc_id")
    old = docs.filter(h % 10 < 9)
    new = docs.filter(h % 10 > 0).withColumn(
        "text",
        F.when(h % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new, "doc_id", ["text", "lang"], "source")


from ..operators.sampling import oracle_systematic_resample
from ..operators.aggregates import oracle_jackknife_ratio_table
from ..operators.temporal import oracle_seasonal_baseline


@register(
    "smp_resample",
    oracle_systematic_resample("documents", "doc_id", "n_chars", n_out=100),
    doc="deterministic weighted SYSTEMATIC resampling: exactly 100 draws "
        "proportional to n_chars via strides over the content-stable "
        "cumulative weight line — pure integer arithmetic (sum of draws "
        "== n_out always, each record floor/ceil of its expectation, "
        "variance below any multinomial scheme); cumulative sum is the "
        "two-phase prefix, never a one-task window "
        "(operators/sampling.py:systematic_resample)",
)
def smp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import systematic_resample

    docs = load_table(spark, sf_dir, "documents")
    return systematic_resample(docs, "doc_id", "n_chars", n_out=100)


@register(
    "agg_jackknife",
    oracle_jackknife_ratio_table(
        "lineitem",
        "CAST(l_orderkey AS VARCHAR)",
        "round(l_extendedprice * (1 - l_discount) * 100)",
        "CAST(l_quantity AS BIGINT)",
        buckets=10,
    ),
    doc="delete-one-bucket jackknife table for the ratio metric "
        "revenue-per-unit (Efron & Tibshirani ch.11): rows hashed into 10 "
        "content-stable strata, leave-one-out estimates and pseudo-values "
        "from EXACT integer cents sums — one keyed aggregation + a "
        "broadcast total; jackknife_se() reduces the 10-row table "
        "driver-side (operators/aggregates.py:jackknife_ratio_table)",
)
def agg_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import jackknife_ratio_table

    li = load_table(spark, sf_dir, "lineitem")
    return jackknife_ratio_table(
        li,
        "l_orderkey",
        F.expr("round(l_extendedprice * (1 - l_discount) * 100)"),
        F.expr("cast(l_quantity as bigint)"),
        buckets=10,
    )


@register(
    "tmp_seasonal",
    oracle_seasonal_baseline("events"),
    doc="seasonal (dow x hour) baseline profile per event type: exact "
        "count/sum/sumsq/min/max cents in ONE keyed aggregation yield "
        "mean, population sd (IEEE sqrt is correctly rounded, unlike ln) "
        "and the peak |residual| without a second pass via "
        "max(max-mean, mean-min) (operators/temporal.py:seasonal_baseline)",
)
def tmp_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import seasonal_baseline

    ev = load_table(spark, sf_dir, "events")
    return seasonal_baseline(ev)


from ..operators.temporal import oracle_ewma_hourly
from ..operators.funnel import oracle_peak_concurrency
from ..operators.profile import oracle_fd_check


@register(
    "tmp_ewma",
    oracle_ewma_hourly("events"),
    doc="truncated-window EWMA over hourly bucket sums (alpha=0.3, 48h "
        "window — tail mass 3e-8, below 6dp rounding): weights are "
        "Python-evaluated doubles injected into both engines so pow() "
        "never runs in-engine; per-term decimal(38,6) rounding + exact "
        "decimal sums make the smoothing order-independent; lag expansion "
        "is a bounded self-join of the BUCKET frame, metadata scale "
        "(operators/temporal.py:ewma_hourly)",
)
def tmp_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import ewma_hourly

    ev = load_table(spark, sf_dir, "events")
    return ewma_hourly(ev)


@register(
    "evt_concurrency",
    oracle_peak_concurrency("events"),
    doc="peak simultaneous sessions via an exact sweep line over session "
        "boundaries (+1 start / -1 end, running sum in (time, delta) "
        "order — order-independent under ties, ends before starts): "
        "sessionize = one user-keyed window, sweep = two-phase prefix over "
        "session-scale boundary rows (operators/funnel.py:peak_concurrency)",
)
def evt_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import peak_concurrency

    ev = load_table(spark, sf_dir, "events")
    return peak_concurrency(ev)


_FD_CANDIDATES = [
    ("orders", ["o_orderkey"], "o_custkey"),
    ("orders", ["o_custkey"], "o_orderpriority"),
    ("customer", ["c_nationkey"], "c_mktsegment"),
    ("nation", ["n_nationkey"], "n_regionkey"),
]


@register(
    "prof_fd_audit",
    "\nUNION ALL\n".join(
        oracle_fd_check(t, det, dep) for t, det, dep in _FD_CANDIDATES
    ),
    doc="functional-dependency audit (key/schema discovery, "
        "Metanome/Deequ territory): for each candidate det -> dep, exact "
        "group/pair/violation counts from a two-level aggregation — "
        "o_orderkey->o_custkey and n_nationkey->n_regionkey hold, the "
        "others violate (operators/profile.py:fd_check)",
)
def prof_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.profile import fd_check

    parts = [
        fd_check(load_table(spark, sf_dir, t), det, dep)
        for t, det, dep in _FD_CANDIDATES
    ]
    return reduce(lambda a, b: a.union(b), parts)


from ..operators.funnel import oracle_new_vs_returning


@register(
    "sim_pq_rerank",
    similarity.oracle_pq_rerank(
        "embeddings", "vec_id < 3", m=4, k_codebook=8, n_iter=2,
        k_short=10, k=3, dim=64,
    ),
    doc="two-stage ANN serve path (FAISS IndexIVFPQ+refine shape): ADC "
        "over the 4-byte PQ codes shortlists 10 candidates/query, then "
        "ONLY those refetch full vectors for an exact squared-L2 re-rank "
        "to top-3 — the refetch join is query-scale, the scan stays on "
        "compressed codes (operators/similarity.py:pq_rerank)",
)
def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=4, k=8, n_iter=2, dim=64)
    qs = emb.filter(F.col("vec_id") < 3)
    return similarity.pq_rerank(emb, qs, books, k_short=10, k=3)


@register(
    "evt_new_vs_returning",
    oracle_new_vs_returning("events"),
    doc="daily new-vs-returning growth report: active / first-seen / "
        "returning users per day plus the running distinct-users total "
        "computed as a cumulative sum of per-day new counts (never a "
        "running count-distinct); cumulative window runs on the "
        "calendar-scale frame (operators/funnel.py:new_vs_returning)",
)
def evt_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import new_vs_returning

    ev = load_table(spark, sf_dir, "events")
    return new_vs_returning(ev)


from ..operators.funnel import oracle_markov_attribution

_MK_CHANNELS = ["view", "click", "signup", "error"]


@register(
    "evt_markov_attribution",
    oracle_markov_attribution("events", _MK_CHANNELS),
    doc="Markov-chain multi-touch attribution with REMOVAL EFFECTS "
        "(Anderl et al. 2014, the data-driven sibling of evt_attribution's "
        "linear model): sessionized journeys truncated at first purchase "
        "build the start->touch->conv/null chain; per channel, conversion "
        "mass lost when its edges vanish (8-step scaled-bigint absorption "
        "recurrence — every scenario probability an exact integer, credit "
        "shares ratios of exact masses); edge table is channel-vocabulary "
        "sized and checkpointed once "
        "(operators/funnel.py:markov_attribution)",
)
def evt_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import markov_attribution

    ev = load_table(spark, sf_dir, "events")
    return markov_attribution(ev, _MK_CHANNELS)


from ..operators.graph import oracle_random_walks
from ..operators.profile import oracle_ref_integrity
from ..operators.funnel import oracle_pareto_tiers


@register(
    "grf_walks",
    oracle_random_walks(_PR_EDGES_SQL, walk_len=6),
    doc="deterministic DeepWalk corpus (one 6-node walk per start node "
        "over the undirected supplier-part graph): next hop = neighbor "
        "rank md5(walk_id:step) mod outdeg among rank-ordered adjacency — "
        "content-stable hash replaces the RNG so any engine/partitioning "
        "emits identical walks; K equi-joins for K steps, no per-walk "
        "state (operators/graph.py:random_walks)",
)
def grf_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import random_walks

    edges = _pr_edges(spark, sf_dir)
    return random_walks(edges, walk_len=6)


_RI_SPECS = [
    ("orders", "customer", "o_custkey", "c_custkey", "orders.custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey", "lineitem.orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey", "lineitem.partkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey", "customer.nationkey"),
]


@register(
    "prof_ref_integrity",
    "\nUNION ALL\n".join(oracle_ref_integrity(*s) for s in _RI_SPECS),
    doc="referential-integrity audit over four FK relations: orphan rows/"
        "keys via LEFT ANTI join (parent key set broadcasts when small), "
        "NULL fks counted separately per SQL FK semantics "
        "(operators/profile.py:ref_integrity)",
)
def prof_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.profile import ref_integrity

    parts = [
        ref_integrity(
            load_table(spark, sf_dir, c), load_table(spark, sf_dir, p), fk, pk, lbl
        )
        for c, p, fk, pk, lbl in _RI_SPECS
    ]
    return reduce(lambda a, b: a.union(b), parts)


@register(
    "evt_pareto_tiers",
    oracle_pareto_tiers("events"),
    doc="activity-concentration (Pareto) report: share of all events from "
        "the top 1/10/50% most active users — exact counts, total-order "
        "rank over the per-USER aggregate (user-scale; swap in "
        "two_phase_prefix at extreme cardinality) "
        "(operators/funnel.py:pareto_tiers)",
)
def evt_pareto_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import pareto_tiers

    ev = load_table(spark, sf_dir, "events")
    return pareto_tiers(ev)


from ..operators.profile import oracle_drift_ks
from ..operators.funnel import oracle_transition_entropy
from ..operators.sampling import oracle_class_balance
from ..operators.textops import oracle_lang_confusion


@register(
    "prof_drift_ks",
    oracle_drift_ks(
        "SELECT * FROM orders WHERE o_orderdate < DATE '1998-01-01'",
        "SELECT * FROM orders WHERE o_orderdate >= DATE '1998-01-01'",
        "o_totalprice",
    ),
    doc="EXACT two-sample Kolmogorov-Smirnov drift statistic between "
        "pre/post-1998 order totals (the binning-free sibling of "
        "prof_drift_psi): cumulative counts cross-multiplied as BIGINTs, "
        "max over exact integers, ONE double division at the end; "
        "cumulative window on the distinct-value frame "
        "(operators/profile.py:drift_ks)",
)
def prof_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import drift_ks

    o = load_table(spark, sf_dir, "orders")
    return drift_ks(
        o.filter("o_orderdate < date'1998-01-01'"),
        o.filter("o_orderdate >= date'1998-01-01'"),
        "o_totalprice",
    )


@register(
    "evt_transition_entropy",
    oracle_transition_entropy("events"),
    doc="journey predictability: per-state Shannon entropy of the "
        "next-event distribution (p ln p terms decimal(38,6)-rounded then "
        "exactly summed — the unigram_logprob discipline), plus entropy "
        "normalized by ln(successor count) "
        "(operators/funnel.py:transition_entropy)",
)
def evt_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import transition_entropy

    ev = load_table(spark, sf_dir, "events")
    return transition_entropy(ev)


@register(
    "smp_class_balance",
    oracle_class_balance("documents", "lang", "doc_id"),
    doc="deterministic class rebalancing to the minority-class size via "
        "content-stable hash thresholds (keep iff md5-frac(key) < "
        "n_min/n_class) — zero RNG, same survivors on any engine; exact "
        "before/after counts reported per class "
        "(operators/sampling.py:class_balance)",
)
def smp_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import class_balance

    docs = load_table(spark, sf_dir, "documents")
    return class_balance(docs, "lang", "doc_id")


@register(
    "txt_langid_confusion",
    oracle_lang_confusion("documents"),
    doc="confusion matrix of the stopword-vote language identifier vs the "
        "labeled lang column (never ship a classifier without one): per "
        "(label, predicted) exact count + row-normalized share "
        "(operators/textops.py:lang_confusion)",
)
def txt_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import lang_confusion

    docs = load_table(spark, sf_dir, "documents")
    return lang_confusion(docs)


from ..operators.textops import oracle_readability
from ..operators.graph import oracle_assortativity


@register(
    "txt_readability",
    oracle_readability("documents"),
    doc="Flesch-style readability features (words / terminal-punctuation "
        "sentences / vowel-group syllable estimate) + the textbook linear "
        "score with injected literal coefficients — one codegen'd map, no "
        "shuffle (operators/textops.py:readability)",
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import readability

    docs = load_table(spark, sf_dir, "documents")
    return readability(docs)


@register(
    "grf_assortativity",
    oracle_assortativity(_PR_EDGES_SQL),
    doc="degree assortativity (Newman 2002): Pearson r of endpoint "
        "degrees over both edge orientations — exact integer sums, one "
        "fixed-order double combination; the one-number 'will skew "
        "mitigation matter' summary for neighborhood joins "
        "(operators/graph.py:assortativity)",
)
def grf_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import assortativity

    edges = _pr_edges(spark, sf_dir)
    return assortativity(edges)


from ..operators.similarity import oracle_matryoshka_recall
from ..operators.textops import oracle_tokenizer_fertility


@register(
    "sim_matryoshka_recall",
    oracle_matryoshka_recall(
        "embeddings", "vec_id % 50 = 0", prefix_dims=(8, 16, 32), k=5
    ),
    doc="Matryoshka prefix-dimension recall curve (Kusupati et al. 2022): "
        "recall@5 of cosine search over only the first 8/16/32 coordinates "
        "vs full-64-dim ground truth — the how-far-can-you-truncate audit "
        "for MRL-style embeddings; truth computed once, slices stay inside "
        "the codegen'd fold (operators/similarity.py:matryoshka_recall)",
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import matryoshka_recall

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return matryoshka_recall(emb, qs, prefix_dims=(8, 16, 32), k=5)


@register(
    "txt_fertility",
    oracle_tokenizer_fertility("documents"),
    doc="tokenizer fertility per language (subword tokens per word, the "
        "standard tokenizer-quality metric): trains the 6-merge BPE on "
        "the corpus, applies it via the memoized distinct-vocabulary "
        "path, rolls up per lang — exposes which languages pay context-"
        "window tax under a majority-language tokenizer "
        "(operators/textops.py:tokenizer_fertility)",
)
def txt_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import tokenizer_fertility

    docs = load_table(spark, sf_dir, "documents")
    return tokenizer_fertility(docs)


from ..functions import WS, WS_SQL
from ..operators.profile import oracle_rater_agreement
from ..operators.temporal import oracle_acf_hourly

_RATER_STOPS = "'the', 'and', 'of', 'to', 'in', 'is', 'a', 'that'"
_RATER_A = "n_chars BETWEEN 200 AND 5000"
_RATER_B_SPARK = (
    f"size(filter(split(trim(text), '{WS_SQL}'),"
    f" t -> t in ({_RATER_STOPS}))) >= 2"
)
_RATER_B_DUCK = (
    f"len(list_filter(regexp_split_to_array(trim(text), '{WS}'),"
    f" t -> t IN ({_RATER_STOPS}))) >= 2"
)


@register(
    "prof_rater_agreement",
    oracle_rater_agreement("documents", _RATER_A, _RATER_B_DUCK, "len_vs_stop"),
    doc="Cohen's kappa between two independent quality raters (length "
        "gate vs stopword gate) over documents — the inter-annotator-"
        "agreement check every labeling/filter pipeline needs: exact 2x2 "
        "contingency counts in ONE pass, chance-corrected kappa as a "
        "fixed-order double chain (operators/profile.py:rater_agreement)",
)
def prof_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import rater_agreement

    docs = load_table(spark, sf_dir, "documents")
    return rater_agreement(docs, _RATER_A, _RATER_B_SPARK, "len_vs_stop")


@register(
    "tmp_acf",
    oracle_acf_hourly("events", max_lag=3),
    doc="autocorrelation of the hourly bucket-sum series per event type "
        "(lags 1-3): the seasonality/persistence detector — exact cents "
        "bucket sums, one mean division, deviation products decimal-"
        "rounded then exactly summed; lag join runs on the calendar-scale "
        "bucket frame (operators/temporal.py:acf_hourly)",
)
def tmp_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import acf_hourly

    ev = load_table(spark, sf_dir, "events")
    return acf_hourly(ev, max_lag=3)


from ..operators.aggregates import oracle_gini_lorenz
from ..operators.association import oracle_assoc_rules
from ..operators.profile import oracle_roc_auc
from ..operators.temporal import oracle_ccf_hourly
from ..operators.textops import oracle_keyness_g2

_SPEND_SQL = (
    "SELECT o_custkey AS k, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x "
    "FROM orders GROUP BY 1"
)


@register(
    "agg_gini_lorenz",
    oracle_gini_lorenz(_SPEND_SQL),
    doc="Gini coefficient + Lorenz decile curve of per-customer spend — "
        "the inequality profile of a contribution distribution: exact "
        "rank identity over two-phase global ranks (never a data-sized "
        "global window), Σ rank·cents as DECIMAL(38,0), integer decile "
        "bucketing (operators/aggregates.py:gini_lorenz)",
)
def agg_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import gini_lorenz

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("bigint")
        .alias("x")
    )
    return gini_lorenz(spend, "k", "x")


@register(
    "prof_auc",
    oracle_roc_auc(
        "documents", "n_chars", f"{_RATER_B_DUCK}", "len_predicts_stop"
    ),
    doc="exact ROC-AUC (tie-corrected Mann-Whitney rank statistic) of the "
        "document length score against the stopword quality gate — the "
        "does-this-signal-predict-the-label model-eval readout: distinct-"
        "score frame + two-phase prefix ranks, all-BIGINT midrank sums, "
        "one final division (operators/profile.py:roc_auc)",
)
def prof_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import roc_auc

    docs = load_table(spark, sf_dir, "documents")
    return roc_auc(docs, "n_chars", _RATER_B_SPARK, "len_predicts_stop")


@register(
    "txt_keyness",
    oracle_keyness_g2("documents"),
    doc="Dunning log-likelihood G² keyness: top-5 overrepresented tokens "
        "per language from the exact 2x2 contingency — one (lang, token) "
        "wordcount shuffle, broadcast lang totals, integer "
        "overrepresentation filter, fixed-order double G² chain rounded "
        "6dp (operators/textops.py:keyness_g2)",
)
def txt_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import keyness_g2

    docs = load_table(spark, sf_dir, "documents")
    return keyness_g2(docs)


@register(
    "tmp_ccf",
    oracle_ccf_hourly("events", "click", "purchase", max_lag=3),
    doc="cross-correlation of the click vs purchase hourly series at lags "
        "-3..+3 — the lead/lag detector between two event streams: same "
        "exact-cents + decimal-rounded-product discipline as tmp_acf, lag "
        "join on the calendar-scale bucket frames "
        "(operators/temporal.py:ccf_hourly)",
)
def tmp_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import ccf_hourly

    ev = load_table(spark, sf_dir, "events")
    return ccf_hourly(ev, "click", "purchase", max_lag=3)


@register(
    "evt_assoc_rules",
    oracle_assoc_rules("SELECT l_orderkey AS b, l_partkey AS i FROM lineitem"),
    doc="market-basket association rules over order baskets: top-20 part "
        "pairs by lift (support/confidence/lift from exact BIGINT counts, "
        "single 6dp division each) — bounded Σ basket² within-order self-"
        "join, TakeOrderedAndProject top-k "
        "(operators/association.py:assoc_rules)",
)
def evt_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.association import assoc_rules

    li = load_table(spark, sf_dir, "lineitem")
    return assoc_rules(li, "l_orderkey", "l_partkey")


from ..operators.aggregates import oracle_group_moments
from ..operators.funnel import oracle_ab_chisq
from ..operators.profile import oracle_calibration_bins
from ..operators.similarity import oracle_knn_hubness
from ..operators.textops import oracle_zipf_fit

_CAL_BIN = "n_chars div 500"
_CAL_BIN_DUCK = "n_chars // 500"
_CAL_PROB = "1.0 / (1.0 + exp(-((cast(n_chars as double) - 2500.0) / 1000.0)))"
_CAL_PROB_DUCK = "1.0 / (1.0 + exp(-((CAST(n_chars AS DOUBLE) - 2500.0) / 1000.0)))"


@register(
    "agg_moments",
    oracle_group_moments(
        "lineitem", "l_returnflag", "CAST(round(l_extendedprice) AS BIGINT)"
    ),
    doc="exact per-group skewness / excess kurtosis of line amounts from "
        "DECIMAL(38,0) integer power sums (Spark's built-in "
        "skewness()/kurtosis() are order-dependent running doubles) — one "
        "partial+final HashAggregate, sqrt-based fixed-order double chain "
        "(operators/aggregates.py:group_moments)",
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import group_moments

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("cast(round(l_extendedprice) as bigint)").alias("amt"),
    )
    return group_moments(li, "l_returnflag", "amt")


@register(
    "prof_calibration",
    oracle_calibration_bins(
        "documents", "n_chars", _RATER_B_DUCK, _CAL_BIN_DUCK, _CAL_PROB_DUCK
    ),
    doc="reliability diagram + per-bin Brier score of a fixed logistic "
        "length scorer against the stopword gate — integer-exact score "
        "binning (never float thresholds), 6dp-rounded probabilities "
        "accumulated as DECIMAL(38,6) "
        "(operators/profile.py:calibration_bins)",
)
def prof_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import calibration_bins

    docs = load_table(spark, sf_dir, "documents")
    return calibration_bins(docs, "n_chars", _RATER_B_SPARK, _CAL_BIN, _CAL_PROB)


@register(
    "sim_hubness",
    oracle_knn_hubness("embeddings", k=5, bucket_dims=None),
    doc="hubness audit of the ANN graph: k-occurrence (in-degree) "
        "distribution of the bucketed big-to-big kNN join, zero-degree "
        "vectors included — the high-dimensionality pathology check before "
        "shipping an embedding space; bucket dims are SIZE-DERIVED "
        "(ceil(log2(ceil(N/40))), similarity.derive_bucket_dims, mirrored "
        "in the oracle) so the Σ bucket² pair bill stays linear in N "
        "(operators/similarity.py:knn_hubness)",
)
def sim_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_hubness

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_hubness(emb, k=5, bucket_dims=None)


@register(
    "evt_chisq",
    oracle_ab_chisq("events"),
    doc="Pearson chi-square independence test on the conversion 2x2 "
        "(user_id%2 variants, same assignment as evt_ab_test) — exact "
        "integer cells, one fixed-order double chain, significance vs the "
        "df=1 critical constant (operators/funnel.py:ab_chisq)",
)
def evt_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import ab_chisq

    ev = load_table(spark, sf_dir, "events")
    return ab_chisq(ev)


@register(
    "txt_zipf",
    oracle_zipf_fit("documents", size=1000),
    doc="Zipf slope/intercept: log-log OLS over the top-1000 token "
        "frequency-rank curve — 6dp-rounded ln points, exact decimal OLS "
        "sums, vocabulary-scale fit frame "
        "(operators/textops.py:zipf_fit)",
)
def txt_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, size=1000)


from ..operators.dedup import oracle_contamination_report
from ..operators.funnel import oracle_ab_power
from ..operators.profile import oracle_gains_lift
from ..operators.similarity import oracle_mmr_topk, oracle_rrf_fusion


@register(
    "sim_mmr",
    oracle_mmr_topk("embeddings", "vec_id = 0", k=5, pool=50, lam=0.7),
    doc="Maximal Marginal Relevance diversified top-5 for an anchor query "
        "— greedy λ-tradeoff between relevance and redundancy over a "
        "50-row TakeOrdered shortlist; each round a broadcast 1-row array "
        "crossJoin + JVM higher-order dot products, 6dp rounding before "
        "every argmax; oracle replays the greedy trajectory as chained "
        "CTEs (operators/similarity.py:mmr_topk)",
)
def sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_topk(emb, "vec_id = 0", k=5, pool=50, lam=0.7)


@register(
    "sim_rrf",
    oracle_rrf_fusion("embeddings", "vec_id = 0", k=20),
    doc="Reciprocal Rank Fusion of the cosine and L2 rankings for one "
        "query — the no-tuning hybrid-search combiner; 1/(60+rank) exact "
        "integer divisions summed in fixed order "
        "(operators/similarity.py:rrf_fusion)",
)
def sim_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import rrf_fusion

    emb = load_table(spark, sf_dir, "embeddings")
    return rrf_fusion(emb, "vec_id = 0", k=20)


@register(
    "cur_contamination",
    oracle_contamination_report("documents", "doc_id", "text", "source = 'src0'"),
    doc="train/eval contamination audit: per held-out doc (source src0), "
        "the fraction of its distinct 3-gram shingles present anywhere in "
        "the train split — one shingle explosion, train side collapsed to "
        "a distinct inverted-index key set, pure equi-join "
        "(operators/dedup.py:contamination_report)",
)
def cur_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    return contamination_report(docs, "source = 'src0'")


@register(
    "evt_power",
    oracle_ab_power("events"),
    doc="A/B experiment-design readout: observed per-variant conversion, "
        "minimum detectable effect at current n, required per-arm n for "
        "the observed delta (two-proportion normal approximation, public "
        "z constants repr-injected) (operators/funnel.py:ab_power)",
)
def evt_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import ab_power

    ev = load_table(spark, sf_dir, "events")
    return ab_power(ev)


@register(
    "prof_gainlift",
    oracle_gains_lift("documents", "doc_id", "n_chars", _RATER_B_DUCK),
    doc="cumulative gains/lift table of the length score against the "
        "stopword gate — decile capture rates and lift over random "
        "targeting, two-phase global ranks, exact integer counts "
        "(operators/profile.py:gains_lift)",
)
def prof_gainlift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import gains_lift

    docs = load_table(spark, sf_dir, "documents")
    return gains_lift(docs, "doc_id", "n_chars", _RATER_B_SPARK)


from ..operators.funnel import oracle_srm_check
from ..operators.graph import oracle_clustering_coefficients
from ..operators.temporal import oracle_interarrival_stats, oracle_sla_report
from ..operators.textops import oracle_char_entropy_rate


@register(
    "grf_clustering",
    oracle_clustering_coefficients(_TRI_EDGES_SQL),
    doc="local clustering coefficient histogram over the parts-in-same-"
        "order graph: per-node triangle counts from degree-oriented wedge "
        "enumeration, exact integer floor(cc*10) buckets, zero-triangle "
        "nodes kept (operators/graph.py:clustering_coefficients)",
)
def grf_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import clustering_coefficients

    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = a.join(b, "ok").filter(F.col("src") != F.col("dst")).select("src", "dst")
    return clustering_coefficients(edges)


@register(
    "evt_interarrival",
    oracle_interarrival_stats("events"),
    doc="inter-arrival gap moments per event type (mean/stddev/skew/"
        "kurtosis/CV) — the Poisson-ness check that sizes streaming state: "
        "exact integer-second gaps from one keyed lag window, DECIMAL(38,0) "
        "power-sum moments (operators/temporal.py:interarrival_stats)",
)
def evt_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import interarrival_stats

    ev = load_table(spark, sf_dir, "events")
    return interarrival_stats(ev)


@register(
    "tmp_sla",
    oracle_sla_report("events"),
    doc="availability/SLA report per event type: active hours over the "
        "observed span, availability percentage, max silent gap — all "
        "integer arithmetic from one keyed agg + one keyed lag window "
        "(operators/temporal.py:sla_report)",
)
def tmp_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import sla_report

    ev = load_table(spark, sf_dir, "events")
    return sla_report(ev)


@register(
    "evt_srm",
    oracle_srm_check("events"),
    doc="sample-ratio-mismatch guardrail: chi-square goodness-of-fit of "
        "the observed user_id%2 split vs designed 50/50 — "
        "(n_a-n_b)^2/(n_a+n_b) on exact integers, the validity check that "
        "precedes every A/B readout (operators/funnel.py:srm_check)",
)
def evt_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import srm_check

    ev = load_table(spark, sf_dir, "events")
    return srm_check(ev)


@register(
    "txt_entropy_rate",
    oracle_char_entropy_rate("documents"),
    doc="character-bigram conditional entropy per language H(c2|c1) in "
        "nats — the LM-free entropy-rate quality signal (low = template, "
        "high = junk); exact bigram counts, 6dp-rounded ln terms summed "
        "as DECIMAL(38,6) (operators/textops.py:char_entropy_rate)",
)
def txt_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import char_entropy_rate

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy_rate(docs)


from ..operators.aggregates import oracle_iqr_outliers
from ..operators.funnel import oracle_stickiness
from ..operators.similarity import oracle_label_centroid_drift
from ..operators.temporal import oracle_theil_sen_hourly
from ..operators.textops import oracle_lexical_diversity


@register(
    "txt_lexical_diversity",
    oracle_lexical_diversity("documents"),
    doc="per-language lexical diversity: mean TTR, root-TTR (Guiraud), "
        "Maas a^2 over docs — vocabulary-richness quality band; exact "
        "type/token counts, 6dp per-doc metrics summed as DECIMAL(38,6) "
        "(operators/textops.py:lexical_diversity)",
)
def txt_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import lexical_diversity

    docs = load_table(spark, sf_dir, "documents")
    return lexical_diversity(docs)


@register(
    "prof_outlier_iqr",
    oracle_iqr_outliers(
        "lineitem", "l_returnflag", "CAST(round(l_extendedprice * 100) AS BIGINT)"
    ),
    doc="Tukey-fence outlier counts per group: nearest-rank q1/q3 (the "
        "group_quantiles selection), 1.5*IQR fences on exact integer "
        "quantiles, one conditional recount "
        "(operators/aggregates.py:iqr_outliers)",
)
def prof_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import iqr_outliers

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("cents"),
    )
    return iqr_outliers(li, "l_returnflag", "cents")


@register(
    "tmp_theil_sen",
    oracle_theil_sen_hourly("events"),
    doc="Theil-Sen robust trend per event type: median of all pairwise "
        "hourly-bucket slopes — outlier-immune trend on the calendar-"
        "scale bucket frame (B^2 pairs bounded by span, not volume), "
        "nearest-rank median of 6dp slopes "
        "(operators/temporal.py:theil_sen_hourly)",
)
def tmp_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import theil_sen_hourly

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_hourly(ev)


@register(
    "evt_stickiness",
    oracle_stickiness("events"),
    doc="DAU/MAU stickiness per calendar month — avg daily actives over "
        "monthly actives, two distinct-count aggregates + month-frame "
        "join, exact integer ratios (operators/funnel.py:stickiness)",
)
def evt_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import stickiness

    ev = load_table(spark, sf_dir, "events")
    return stickiness(ev)


@register(
    "sim_centroid_drift",
    oracle_label_centroid_drift("embeddings"),
    doc="per-label embedding centroid drift: cosine of each label "
        "centroid to the global centroid on exact 1e9-quantized component "
        "sums (scale-invariant, so sums suffice) — the slice-skew "
        "detector (operators/similarity.py:label_centroid_drift)",
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import label_centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_drift(emb)


from ..operators.aggregates import oracle_group_mode
from ..operators.funnel import oracle_bot_flags
from ..operators.similarity import oracle_kcenter_select
from ..operators.textops import oracle_boilerplate_prefixes


@register(
    "sim_kcenter",
    oracle_kcenter_select("embeddings", k=5, pool=50),
    doc="greedy k-center (farthest-point-first) coreset selection: "
        "maximally-spread 5 representatives from a deterministic 50-row "
        "pool — broadcast selected-set rounds, array_min over JVM L2 "
        "distances, 6dp rounding before every argmax; oracle replays the "
        "greedy trajectory as chained CTEs "
        "(operators/similarity.py:kcenter_select)",
)
def sim_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kcenter_select

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=5, pool=50)


@register(
    "agg_group_mode",
    oracle_group_mode("orders", "o_orderstatus", "o_orderpriority"),
    doc="exact per-group modal value with deterministic tie-break (max "
        "count then min value) — the categorical-imputation primitive "
        "Spark's mode() leaves tie-ambiguous; two keyed aggregations, no "
        "window (operators/aggregates.py:group_mode)",
)
def agg_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import group_mode

    orders = load_table(spark, sf_dir, "orders")
    return group_mode(orders, "o_orderstatus", "o_orderpriority")


@register(
    "txt_boilerplate",
    oracle_boilerplate_prefixes("documents"),
    doc="boilerplate-prefix mining: top token prefixes opening a "
        "disproportionate share of each source's docs (header/template "
        "detector) — one (source, prefix) shuffle, exact integer share "
        "gate, keyed rank window over survivors "
        "(operators/textops.py:boilerplate_prefixes)",
)
def txt_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import boilerplate_prefixes

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_prefixes(docs)


@register(
    "evt_bot_flags",
    oracle_bot_flags("events"),
    doc="bot/abuse screening per user: peak events-per-minute + "
        "sub-second consecutive-gap count, integer-threshold flag — the "
        "automated-traffic filter before engagement metrics "
        "(operators/funnel.py:bot_flags)",
)
def evt_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import bot_flags

    ev = load_table(spark, sf_dir, "events")
    return bot_flags(ev)


from ..operators.dedup import oracle_shingle_profile
from ..operators.funnel import oracle_ratio_metric_ci
from ..operators.packing import oracle_water_filling_budget
from ..operators.sampling import oracle_rebalance_classes

_SRC_CHARS_SQL = (
    "SELECT source AS k, CAST(sum(n_chars) AS BIGINT) AS t "
    "FROM documents GROUP BY 1"
)


@register(
    "smp_rebalance",
    oracle_rebalance_classes("documents", "lang", "doc_id"),
    doc="deterministic class-rebalance plan: downsample every language to "
        "the minority size by smallest (content hash, id) — EXACT target "
        "counts (thresholds only hit them in expectation), selection "
        "proven by kept_id_sum (operators/sampling.py:rebalance_classes)",
)
def smp_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import rebalance_classes

    docs = load_table(spark, sf_dir, "documents")
    return rebalance_classes(docs, "lang", "doc_id")


@register(
    "evt_ratio_ci",
    oracle_ratio_metric_ci("events"),
    doc="delta-method CI for the revenue-per-event ratio metric per "
        "variant — users are the randomization unit, so naive per-user "
        "CIs are wrong; exact integer (r, s) per user, DECIMAL(38,0) "
        "second moments, fixed-order closed form "
        "(operators/funnel.py:ratio_metric_ci)",
)
def evt_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import ratio_metric_ci

    ev = load_table(spark, sf_dir, "events")
    return ratio_metric_ci(ev)


@register(
    "cur_water_filling",
    oracle_water_filling_budget(_SRC_CHARS_SQL, budget_num=1, budget_den=2),
    doc="water-filling token-budget allocation: cap the giant sources at "
        "the common level that spends exactly half the corpus budget, "
        "keep small sources whole — pure integer arithmetic on the "
        "mixture-scale source frame "
        "(operators/packing.py:water_filling_budget)",
)
def cur_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import water_filling_budget

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy(F.col("source").alias("k")).agg(
        F.sum("n_chars").cast("bigint").alias("t")
    )
    return water_filling_budget(per_src, "k", "t", budget_num=1, budget_den=2)


@register(
    "dd_shingle_profile",
    oracle_shingle_profile("documents", "doc_id", "text"),
    doc="shingle-repetitiveness profile per source: total/distinct 3-gram "
        "shingles, repetition ratio, most duplicated shingle — the "
        "where-is-near-dup-pressure readout before the full dedup passes "
        "(operators/dedup.py:shingle_profile)",
)
def dd_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_profile

    docs = load_table(spark, sf_dir, "documents")
    return shingle_profile(docs)


from ..operators.dedup import oracle_decontaminate_train
from ..operators.temporal import oracle_backtest_wape
from ..operators.textops import oracle_js_divergence_by_source


@register(
    "cur_decontam_plan",
    oracle_decontaminate_train("documents", "doc_id", "text", "source = 'src0'"),
    doc="decontamination pass: drop-plan for train docs sharing >2 "
        "distinct 3-gram shingles with the held-out split (src0) — the "
        "GPT-3/C4 benchmark-hygiene step; eval side collapses to a "
        "distinct key set, one equi-join, exact integer hit counts "
        "(operators/dedup.py:decontaminate_train)",
)
def cur_decontam_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import decontaminate_train

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_train(docs, "source = 'src0'")


@register(
    "tmp_backtest",
    oracle_backtest_wape("events"),
    doc="forecast backtest: hold out each key's last day, predict hourly "
        "totals with hour-of-day means from earlier days, score WAPE — "
        "exact cents integers end-to-end, one final division "
        "(operators/temporal.py:backtest_wape)",
)
def tmp_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import backtest_wape

    ev = load_table(spark, sf_dir, "events")
    return backtest_wape(ev)


@register(
    "txt_js_divergence",
    oracle_js_divergence_by_source("documents"),
    doc="Jensen-Shannon divergence of each source's unigram distribution "
        "vs the rest of the corpus (bounded symmetric vocabulary drift) — "
        "absent tokens reduce to a closed-form q*ln2 missing-mass term, "
        "so the sum runs on the source's own token frame; 12dp decimal "
        "summands (operators/textops.py:js_divergence_by_source)",
)
def txt_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import js_divergence_by_source

    docs = load_table(spark, sf_dir, "documents")
    return js_divergence_by_source(docs)


from ..operators.profile import oracle_freshness_report
from ..operators.sampling import oracle_uncertainty_sample


@register(
    "prof_freshness",
    oracle_freshness_report("events"),
    doc="feed-freshness audit: per event type, lag of its newest record "
        "behind the table's newest (no wall-clock now() — replayable); "
        "one keyed max + broadcast global max "
        "(operators/profile.py:freshness_report)",
)
def prof_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import freshness_report

    ev = load_table(spark, sf_dir, "events")
    return freshness_report(ev)


@register(
    "cur_uncertainty_sample",
    oracle_uncertainty_sample("documents", "doc_id", "n_chars", 2500, k=20),
    doc="uncertainty sampling for the annotation queue: 20 docs whose "
        "length score sits closest to the logistic gate's pivot — pure "
        "integer |score-pivot| ordering (monotone scorer ⇒ identical to "
        "|p-0.5|), TakeOrderedAndProject "
        "(operators/sampling.py:uncertainty_sample)",
)
def cur_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import uncertainty_sample

    docs = load_table(spark, sf_dir, "documents")
    return uncertainty_sample(docs, "doc_id", "n_chars", 2500, k=20)


from ..operators.sampling import oracle_group_split
from ..operators.temporal import oracle_p_chart


@register(
    "smp_group_split",
    oracle_group_split("events", "user_id", n_folds=5),
    doc="leakage-safe k-fold assignment at the USER level: fold = "
        "content-stable hash of the group key, so correlated rows never "
        "straddle train/test (row-hash kfold leaks); one keyed aggregate "
        "(operators/sampling.py:group_split)",
)
def smp_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import group_split

    ev = load_table(spark, sf_dir, "events")
    return group_split(ev, "user_id", n_folds=5)


@register(
    "tmp_p_chart",
    oracle_p_chart("events", "event_type = 'error'"),
    doc="Shewhart p-chart: hourly error share vs 3-sigma binomial control "
        "limits from the overall rate — the SPC monitor complementing "
        "CUSUM; exact hourly integers, one global division, fixed sqrt "
        "chain per calendar-scale bucket (operators/temporal.py:p_chart)",
)
def tmp_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import p_chart

    ev = load_table(spark, sf_dir, "events")
    return p_chart(ev, "event_type = 'error'")


def _attach_group_quantiles_oracle() -> None:
    from ..operators.aggregates import oracle_group_quantiles
    from . import REGISTRY, QuerySpec

    spec = REGISTRY["agg_group_quantiles"]
    REGISTRY["agg_group_quantiles"] = QuerySpec(
        spec.name,
        spec.fn,
        oracle_group_quantiles("lineitem", "l_returnflag", "l_extendedprice"),
        spec.doc,
    )


_attach_group_quantiles_oracle()


from ..operators.graph import oracle_identity_stitch
from ..operators.temporal import oracle_changepoint_sse, oracle_holt_linear
from ..sources.pqstats import oracle_rowgroup_stats


@register(
    "tmp_holt_linear",
    oracle_holt_linear("events"),
    doc="Holt double exponential smoothing (level+trend) per event type "
        "over daily sums: fixed-point BIGINT state, alpha=3/10 beta=1/10 "
        "as integer rationals, truncating div identical in both engines — "
        "one keyed shuffle then a calendar-scale in-row fold; oracle "
        "replays the exact recurrence as a recursive CTE "
        "(operators/temporal.py:holt_linear)",
)
def tmp_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import holt_linear

    ev = load_table(spark, sf_dir, "events")
    return holt_linear(ev)


@register(
    "tmp_changepoint",
    oracle_changepoint_sse("events"),
    doc="offline single change-point per event type: the daily-series "
        "split minimizing within-segment SSE (one binary-segmentation "
        "step — the retrospective complement to evt_cusum); prefix sums "
        "of exact cents, V(i) as one fixed double expression, argmax "
        "tie-broken by smallest t; gain emitted as an exact digit STRING "
        "(decimal-38 is not hash-surface portable — r7 driver red) "
        "(operators/temporal.py:changepoint_sse)",
)
def tmp_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import changepoint_sse

    ev = load_table(spark, sf_dir, "events")
    return changepoint_sse(ev)


@register(
    "evt_identity_stitch",
    oracle_identity_stitch("events"),
    doc="cross-device identity resolution: users sharing a device signal "
        "(props.k, support >= 4) stitched into entities via connected "
        "components over the bipartite user<->device graph (device nodes "
        "encoded -(k+1), collision-free); the entity-resolution step "
        "before a person-level forget-users cascade "
        "(operators/graph.py:identity_stitch)",
)
def evt_identity_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import identity_stitch

    ev = load_table(spark, sf_dir, "events")
    return identity_stitch(ev)


@register(
    "src_parquet_stats",
    oracle_rowgroup_stats(
        "lineitem", "h271_rgstats.parquet", "l_orderkey", "l_linenumber",
        8192, skip_pred_min=12000,
    ),
    doc="parquet footer row-group stats audit (sources/pqstats.py): "
        "distributed pyarrow footer scan (one metadata-only task per "
        "file, pages never read) over a deterministic fixture — rows "
        "total-ordered by (l_orderkey, l_linenumber), exact 8192-row "
        "groups — reporting per-group min/max/nulls and whether the "
        "l_orderkey >= 12000 predicate can skip the group; oracle "
        "reconstructs the groups logically via row_number chunking",
)
def src_parquet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..sources.pqstats import parquet_rowgroup_stats, write_fixture_distributed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    root = scratch_dir(spark, "rgstats", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "h271_rgstats.parquet")
    # fixture WRITER is test scaffolding (single deterministic file, like
    # clustered_fixture / gensort) but still single-writer DISTRIBUTED —
    # rows stream through one executor task's ParquetWriter, never the
    # driver; the OPERATOR under audit is the distributed footer scan below
    write_fixture_distributed(li, path, ["l_orderkey", "l_linenumber"], 8192)
    stats = parquet_rowgroup_stats(spark, [path], "l_orderkey")
    return stats.withColumn("can_skip", F.col("max_v") < F.lit(12000))


@register(
    "src_snapshot_compact",
    """
    SELECT l_returnflag, CAST(4 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="snapshot-table compaction (sources/snaptable.py:snap_compact): "
        "three appended commits bin-packed into one file as a NEW "
        "data-identical version via coalesce (no shuffle — compaction "
        "narrows partitions, never redistributes); oracle checks content "
        "identity against the raw table, pytest pins the file-count drop "
        "and prior-version time travel",
)
def src_snapshot_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..sources import snaptable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    root = f"/tmp/h271_snapcompact_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    for r in (0, 1, 2):
        snaptable.snap_commit(li.filter(F.col("l_orderkey") % 3 == r), root, "append")
    v = snaptable.snap_compact(spark, root, target_files=1)
    return (
        snaptable.snap_read(spark, root)
        .groupBy("l_returnflag")
        .agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.expr("cast(round(l_extendedprice * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
    )


from ..operators.sampling import oracle_sequential_poisson
from ..operators.similarity import oracle_threshold_join
from ..operators.temporal import oracle_rolling_features
from ..operators.textops import oracle_feature_hashing


@register(
    "tmp_rolling_features",
    oracle_rolling_features("events"),
    doc="trailing 7-day rolling feature block (sum/min/max/count via a "
        "RANGE frame on the day index, so calendar gaps shrink the "
        "window) + lag-1/lag-7 per event type — the supervised-forecast "
        "feature matrix; exact cents, -1 lag sentinel (NULL bigints "
        "round-trip as different pandas dtypes per engine) "
        "(operators/temporal.py:rolling_features)",
)
def tmp_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import rolling_features

    ev = load_table(spark, sf_dir, "events")
    return rolling_features(ev)


@register(
    "smp_sequential_poisson",
    oracle_sequential_poisson("documents", "doc_id", "n_chars", k=25),
    doc="weighted sampling without replacement via sequential Poisson "
        "priorities (Ohlsson 1998): priority = content-stable-u / weight "
        "— two divisions of exact integers, bit-identical doubles, no "
        "RNG stream and no transcendental portability tax; narrow map + "
        "TakeOrderedAndProject "
        "(operators/sampling.py:sequential_poisson_sample)",
)
def smp_sequential_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sequential_poisson_sample

    docs = load_table(spark, sf_dir, "documents")
    return sequential_poisson_sample(docs, "doc_id", "n_chars", k=25)


@register(
    "sim_threshold_join",
    oracle_threshold_join("embeddings", threshold=0.3, bucket_dims=None),
    doc="similarity RANGE self-join (cos >= 0.3): sign-bucket + "
        "Hamming-1 multiprobe equi-join, (dims+1) * sum(bucket^2) cost "
        "— never |V|^2; bucket dims are SIZE-DERIVED "
        "(ceil(log2(ceil(N/40))), similarity.derive_bucket_dims, mirrored "
        "in the oracle) so per-bucket size and the per-row pair bill stay "
        "constant as N grows; each pair meets at exactly one probe, id_a < "
        "id_b keeps it once; the range sibling of sim_knn_join for "
        "near-dup mining / contrastive pairs "
        "(operators/similarity.py:threshold_join)",
)
def sim_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import threshold_join

    emb = load_table(spark, sf_dir, "embeddings")
    return threshold_join(emb, threshold=0.3, bucket_dims=None)


@register(
    "sim_rerank_linear",
    similarity.oracle_rerank_linear(
        "embeddings", "vec_id % 50 = 0", pool=20, k=5, n_iter=6, label_top=5
    ),
    doc="cross-encoder-style rerank capstone: retrieve an exact-cosine "
        "top-20 shortlist per query, train a linear scorer IN-ENGINE on "
        "cheap retriever features (full cosine, norm contrast, leading-8 "
        "truncated cosine) distilled against the exact-L2 top-5 label, "
        "rerank the shortlist with the learned logit (6dp-rounded, "
        "vec_id ties) and keep top-5 — completes retrieve->rerank->select "
        "over the rrf/mmr/pq family; GD is the scaled-integer "
        "textops.train_linear_weights fold (bit-identical weights both "
        "engines, oracle_gd_chain_sql replay) "
        "(operators/similarity.py:rerank_linear)",
)
def sim_rerank_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.rerank_linear(
        emb, "vec_id % 50 = 0", pool=20, k=5, n_iter=6, label_top=5
    )


@register(
    "txt_feature_hashing",
    oracle_feature_hashing("documents"),
    doc="hashing-trick featurizer (Weinberger 2009): tokens -> "
        "hash32 % 1024 count vector in long form — the "
        "dictionary-free featurizer a 100 TB linear model trains on "
        "(txt_train_lr's input layout); narrow JVM map + one keyed "
        "aggregate (operators/textops.py:feature_hashing)",
)
def txt_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import feature_hashing

    docs = load_table(spark, sf_dir, "documents")
    return feature_hashing(docs)


from ..operators.temporal import oracle_decompose_hourly


@register(
    "tmp_decompose",
    oracle_decompose_hourly("events"),
    doc="classical seasonal decomposition per event type: trend = "
        "centered +/-12h moving average (RANGE frame), seasonal = "
        "hour-of-day mean of the detrended series (DECIMAL(38,6) "
        "order-free accumulation), residual = rest; one keyed shuffle "
        "then calendar-scale windows "
        "(operators/temporal.py:decompose_hourly)",
)
def tmp_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import decompose_hourly

    ev = load_table(spark, sf_dir, "events")
    return decompose_hourly(ev)


@register(
    "src_nested_json",
    """
    SELECT CAST(l_orderkey AS BIGINT) AS o_key,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_cents
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="nested-JSON round trip: per-order documents built with "
        "to_json(struct(key, array<struct> items)) then re-parsed with "
        "an explicit from_json schema and exploded back to long form — "
        "the document-ETL path (schema-on-read of nested arrays) proven "
        "lossless end-to-end; quantities travel as exact integer cents "
        "inside the JSON so parse parity is exact",
)
def src_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("q_cents"),
    )
    docs = li.groupBy("l_orderkey").agg(
        F.to_json(
            F.struct(
                F.col("l_orderkey").alias("key"),
                F.expr(
                    "array_sort(collect_list(struct(l_linenumber as line,"
                    " q_cents as qty)))"
                ).alias("items"),
            )
        ).alias("js")
    )
    schema = StructType(
        [
            StructField("key", LongType()),
            StructField(
                "items",
                ArrayType(
                    StructType(
                        [
                            StructField("line", LongType()),
                            StructField("qty", LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    parsed = docs.select(F.from_json("js", schema).alias("o"))
    flat = parsed.select(
        F.col("o.key").alias("o_key"), F.explode("o.items").alias("it")
    )
    return flat.groupBy("o_key").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum("it.qty").cast("bigint").alias("qty_cents"),
    )


from ..operators.dedup import oracle_tfidf_cosine_pairs


@register(
    "dd_tfidf_cosine",
    oracle_tfidf_cosine_pairs("documents"),
    doc="sparse TF-IDF cosine pairwise similarity (Elsayed/Lin/Oard 2008 "
        "shape): df-capped inverted index self-joined on TERM — cost "
        "sum(df^2) <= |terms| * df_max^2, never |D|^2; idf and every "
        "pair/norm contribution rounded through DECIMAL(38,6) so the "
        "decimal sums are order-free "
        "(operators/dedup.py:tfidf_cosine_pairs)",
)
def dd_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs)


@register(
    "src_copybook",
    """
    SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY l_returnflag
    """,
    doc="mainframe fixed-record ingest (sources/copybook.py): EBCDIC "
        "IBM037 text + COMP-3 packed-decimal fields decoded entirely in "
        "JVM expressions (binary substring records, hex() nibble parse, "
        "decode(bin,'IBM037')) — zero Python per record; fixture written "
        "from lineitem by the DISTRIBUTED JVM-expression encoder "
        "(copybook_record_expr + foreachPartition part files — record "
        "data never reaches the driver), read back and aggregated; "
        "oracle computes straight from the table",
)
def src_copybook(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.copybook import (
        read_copybook_records,
        write_copybook_distributed,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select(
            F.col("l_returnflag").alias("flag"),
            F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("cents"),
        )
    )
    layout = [("flag", "X", 1), ("cents", "P", 6)]
    root = scratch_dir(spark, "copybook", sf_dir)
    path = os.path.join(root, "extract")
    # fixture writer = test scaffolding (like pqstats.write_fixture), but
    # distributed: rows encode JVM-side and each partition stages its own
    # part file, published by sources.commit; the operator under audit is
    # the JVM reader
    write_copybook_distributed(li, path, layout)
    recs = read_copybook_records(spark, path, layout)
    return recs.groupBy(F.col("flag")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


from ..operators.graph import oracle_betweenness_sampled


@register(
    "grf_betweenness",
    oracle_betweenness_sampled(_PR_EDGES_SQL, ["s1", "s2", "s3", "s4"], depth=4),
    doc="sampled depth-bounded betweenness centrality (Brandes 2001, "
        "Brandes/Pich 2007 pivots): forward BFS path counts (exact "
        "BIGINT sigma via discovery-level anti-joins) + backward "
        "dependency accumulation (per-edge contribution rounded through "
        "DECIMAL(38,6) before the exact per-node sum) from 4 pivot "
        "suppliers over the supplier-part graph, 4 hops — the broker "
        "detector volume-based PageRank/HITS cannot express; all "
        "equi-keyed shuffles (operators/graph.py:betweenness_sampled)",
)
def grf_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import betweenness_sampled

    edges = _pr_edges(spark, sf_dir)
    return betweenness_sampled(edges, ["s1", "s2", "s3", "s4"], depth=4)


from ..operators.temporal import oracle_periodogram, oracle_seasonal_anomaly


@register(
    "tmp_periodogram",
    oracle_periodogram("events"),
    doc="DFT seasonality strength at the daily/weekly periods: fitted "
        "sinusoid amplitude per event type from exact hourly cents — "
        "trig tables are Python-evaluated literals indexed by t mod P "
        "(the ewma weight-table trick; engine cos() is not portable), "
        "contributions DECIMAL(38,6)-rounded, x*x not pow(x,2) "
        "(operators/temporal.py:periodogram)",
)
def tmp_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import periodogram

    ev = load_table(spark, sf_dir, "events")
    return periodogram(ev)


@register(
    "tmp_seasonal_anomaly",
    oracle_seasonal_anomaly("events"),
    doc="seasonality-aware anomaly monitor: decompose (trend + hour-of-"
        "day seasonal), then flag buckets whose RESIDUAL exceeds 3 "
        "robust sigmas (1.4826*MAD, exact nearest-rank order statistics "
        "on 6dp residuals) from the per-key residual median — fires only "
        "on deviations the seasonal model cannot explain "
        "(operators/temporal.py:seasonal_anomaly)",
)
def tmp_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import seasonal_anomaly

    ev = load_table(spark, sf_dir, "events")
    return seasonal_anomaly(ev)


from ..operators.funnel import oracle_match_pattern, oracle_time_weighted_avg

_CEP_CHARS = {"view": "v", "click": "c", "purchase": "p", "signup": "s",
              "error": "e"}


@register(
    "evt_match_pattern",
    oracle_match_pattern("events", "v[^ep]*p", _CEP_CHARS),
    doc="MATCH_RECOGNIZE-lite CEP: per-user time-ordered history as a "
        "one-char-per-event string (deterministic in-row sorted fold), "
        "regex 'view reaching a purchase with no error between' counted "
        "per user — lookaround-free so Java regex and RE2 find identical "
        "greedy spans; ONE user-keyed aggregate "
        "(operators/funnel.py:match_pattern)",
)
def evt_match_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(ev, "v[^ep]*p", _CEP_CHARS)


@register(
    "evt_twap",
    oracle_time_weighted_avg("events"),
    doc="time-weighted average (TWAP/LOCF semantics): each observation "
        "holds until the next, weighted by exact BIGINT holding seconds, "
        "v*dt summed as DECIMAL(38,0), one division — the correct mean "
        "for irregular sampling where the plain mean over-counts bursts "
        "(operators/funnel.py:time_weighted_avg)",
)
def evt_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev)


from ..operators.profile import oracle_key_candidates

_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@register(
    "prof_key_candidates",
    oracle_key_candidates("orders", _ORDER_COLS),
    doc="primary-key discovery: distinct/null counts per audited column "
        "in ONE shared scan (multi-distinct rides a single Expand "
        "aggregate), is_key iff unique and non-null — the first "
        "schema-on-read question; the FD audit's sibling "
        "(operators/profile.py:key_candidates)",
)
def prof_key_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import key_candidates

    orders = load_table(spark, sf_dir, "orders")
    return key_candidates(orders, _ORDER_COLS)


@register(
    "cur_contrastive_pairs",
    dedup.oracle_contrastive_pairs("documents"),
    doc="contrastive-pair mining for embedding training: LSH candidate "
        "pairs labeled POSITIVE when MinHash signatures agree on >= 8/16 "
        "permutations (estimated Jaccard >= 0.5), else HARD negative — "
        "pairs the index considered similar but aren't, the negatives a "
        "contrastive loss needs; ONE signature pass shared by candidate "
        "generation and labeling (operators/dedup.py:contrastive_pairs)",
)
def cur_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.contrastive_pairs(docs)


@register(
    "mm_patch_grid",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 251 AS s
      FROM documents WHERE doc_id % 20 = 0
    ),
    px AS (
      SELECT d.doc_id, CAST(u.y AS INT) AS y, CAST(v.x AS INT) AS x,
             (v.x * 7 + d.s) % 256 AS r,
             (u.y * 11 + d.s * 3) % 256 AS g,
             (v.x + u.y + d.s * 5) % 256 AS b
      FROM d, UNNEST(range(0, 16)) AS u(y), UNNEST(range(0, 16)) AS v(x)
    )
    SELECT doc_id, CAST(y // 8 AS BIGINT) AS patch_row,
           CAST(x // 8 AS BIGINT) AS patch_col,
           CAST(sum(r) AS BIGINT) AS r_sum,
           CAST(sum(g) AS BIGINT) AS g_sum,
           CAST(sum(b) AS BIGINT) AS b_sum
    FROM px GROUP BY doc_id, y // 8, x // 8
    """,
    doc="ViT-style patch tiling: deterministic 16x16 gradient PNGs "
        "decoded for real (stdlib zlib PNG path), tiled into 8x8 patches, "
        "per-patch per-channel exact integer sums — the patch-embedding "
        "front half of any vision transformer ingest; Spark earns the "
        "numbers by decoding bytes, the oracle replays the gradient "
        "arithmetic (the mm_resize_pixels discipline)",
)
def mm_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).select("doc_id")

    def build_decode_tile(batches):
        P = 8
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                blob = multimodal.make_png_with_pixels(16, 16, int(doc_id) % 251)
                w, h, ch, px = multimodal.png_decode(blob)
                for pr in range(h // P):
                    for pc in range(w // P):
                        rs = gs = bs = 0
                        for y in range(pr * P, (pr + 1) * P):
                            for x in range(pc * P, (pc + 1) * P):
                                o = (y * w + x) * ch
                                rs += px[o]
                                gs += px[o + 1]
                                bs += px[o + 2]
                        rows.append(
                            (int(doc_id), pr, pc, rs, gs, bs)
                        )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "patch_row", "patch_col",
                         "r_sum", "g_sum", "b_sum"],
            )

    return docs.mapInPandas(
        build_decode_tile,
        "doc_id long, patch_row long, patch_col long,"
        " r_sum long, g_sum long, b_sum long",
    )


from ..operators.graph import oracle_edge_betweenness_sampled
from ..operators.sampling import oracle_time_split_purged


@register(
    "grf_edge_betweenness",
    oracle_edge_betweenness_sampled(_PR_EDGES_SQL, ["s1", "s2", "s3", "s4"],
                                    depth=4),
    doc="edge betweenness (Girvan-Newman): the same sampled depth-bounded "
        "Brandes pass as grf_betweenness accumulating per-DAG-EDGE flow "
        "(sigma_v/sigma_w)*(1+delta_w) — the quantity whose iterative "
        "max-cut yields communities; exact sigma, decimal-rounded "
        "contributions (operators/graph.py:edge_betweenness_sampled)",
)
def grf_edge_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import edge_betweenness_sampled

    edges = _pr_edges(spark, sf_dir)
    return edge_betweenness_sampled(edges, ["s1", "s2", "s3", "s4"], depth=4)


@register(
    "smp_time_split",
    oracle_time_split_purged("events", "ts", "2024-01-25 00:00:00",
                             "2024-01-29 00:00:00", embargo_days=1),
    doc="purged temporal split (Lopez de Prado): train strictly before "
        "test_start - 1-day embargo, embargo rows EXCLUDED, test in the "
        "window — kills the temporal leakage that rolling/lag features "
        "smuggle across a naive boundary (smp_group_split kills entity "
        "leakage; this is its time axis); pure pushed scan filters "
        "(operators/sampling.py:time_split_purged)",
)
def smp_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import time_split_purged

    ev = load_table(spark, sf_dir, "events")
    return time_split_purged(
        ev, "ts", "2024-01-25 00:00:00", "2024-01-29 00:00:00", embargo_days=1
    )


from ..operators.profile import oracle_corr_matrix

_CORR_COLS = {
    "qty": "cast(l_quantity as bigint)",
    "price_c": "cast(round(l_extendedprice * 100) as bigint)",
    "disc_bp": "cast(round(l_discount * 10000) as bigint)",
    "tax_bp": "cast(round(l_tax * 10000) as bigint)",
}


@register(
    "prof_corr_matrix",
    oracle_corr_matrix("lineitem", _CORR_COLS),
    doc="pairwise Pearson correlation matrix over integer-quantized "
        "lineitem measures in ONE shared scan: every power/cross sum is "
        "an exact DECIMAL(38,0) accumulation, num/den combine exactly in "
        "decimal (cancellation-free n*Sxy - Sx*Sy form), double only for "
        "the final divide/sqrt — the EDA staple and leakage hunt "
        "(operators/profile.py:corr_matrix)",
)
def prof_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(li, _CORR_COLS)
