"""The documents contract of ``operators/dedup.py`` and its shared parts
(``_shingles``, ``_overlaps``, ``_gram_hashes``, ``_lsh_pairs``) on
hand-built frames, and the checkpoints its loops release."""

from __future__ import annotations

from hadoop_2_7_1_spark.operators import dedup

BASE = "the quick brown fox jumps over the lazy dog again and again"
EMPTY_MD5 = "d41d8cd98f00b204e9800998ecf8427e"


def _docs(spark):
    # empty text, whitespace-only text (trim() keeps the tab), one token,
    # two tokens (fewer than shingle_n = 3), two identical texts, and a
    # text that contains them
    return spark.createDataFrame(
        [
            (1, ""),
            (2, " \t  "),
            (3, "solo"),
            (4, "one two"),
            (5, BASE),
            (6, BASE),
            (7, "so it began: " + BASE + " until night fell"),
        ],
        "doc_id bigint, text string",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shared_dedup_parts_keep_their_results(spark):
    """Results before the shared parts existed, written in as literals."""
    docs = _docs(spark)
    # texts without a token have no signature
    assert _rows(dedup.simhash(docs)) == [
        (3, 1448330929),
        (4, 3089650945),
        (5, 265574644),
        (6, 265574644),
        (7, 798230580),
    ]
    assert _rows(dedup.lsh_candidate_pairs(docs)) == [(5, 6), (5, 7), (6, 7)]
    assert _rows(dedup.ngram_jaccard_pairs(docs, threshold=0.0)) == [
        (5, 6, 1.0),
        (5, 7, 0.625),
        (6, 7, 0.625),
    ]
    # 7 contains 5 and 6, not the other way round
    assert _rows(dedup.ngram_containment_pairs(docs)) == [
        (5, 6, 1.0),
        (5, 7, 1.0),
        (6, 5, 1.0),
        (6, 7, 1.0),
    ]
    assert _rows(dedup.chunk_dedup(docs, chunk_tokens=4)) == [
        (3, 1, 0, 1),
        (4, 1, 0, 2),
        (5, 3, 0, 12),
        (6, 3, 3, 0),
        (7, 5, 0, 18),
    ]
    assert _rows(dedup.dup_span_stats(docs, n=4)) == [
        (1, 0, 0, 0, 0.0),
        (2, 0, 0, 0, 0.0),
        (3, 0, 0, 0, 0.0),
        (4, 0, 0, 0, 0.0),
        (5, 9, 9, 1, 1.0),
        (6, 9, 9, 1, 1.0),
        (7, 15, 9, 1, 0.6),
    ]
    assert _rows(dedup.remove_dup_spans(docs, n=4)) == [
        (1, 0, 0, EMPTY_MD5),
        (2, 0, 0, EMPTY_MD5),
        (3, 1, 1, "5653c6b1f51852a6351ec69c8452abc6"),
        (4, 2, 2, "aae2c33a105ad3f28f39402d67a24b20"),
        (5, 12, 12, "287500119dbb6d9e4c94ed45d0b1c781"),
        (6, 12, 0, EMPTY_MD5),
        (7, 18, 6, "5e8fb65d71e9aba12ec8273e118e1e96"),
    ]


def test_dedup_loops_release_their_checkpoints(spark):
    """connected_components keeps only its result's own checkpoint, and
    the signature-sharing audits persist nothing, once collected."""
    jsc = spark.sparkContext._jsc

    def left(build):
        # count new ids only: the ContextCleaner may drop older RDDs meanwhile
        before = set(jsc.getPersistentRDDs().keySet())
        build().collect()
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    # a chain needs several label rounds, each one checkpointed
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a bigint, id_b bigint"
    )
    assert left(lambda: dedup.connected_components(chain)) <= 1
    docs = _docs(spark)
    assert left(lambda: dedup.minhash_accuracy(docs)) <= 0
    assert left(lambda: dedup.lsh_band_sweep(docs, bands_list=(4,))) <= 0
