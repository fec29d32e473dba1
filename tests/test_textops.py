"""The documents contract of ``operators/textops.py`` and its shared token
parts (``_tokens``, ``_bigrams``, the BPE loop) on hand-built frames."""

from __future__ import annotations

from hadoop_2_7_1_spark.operators import textops
from hadoop_2_7_1_spark.queries import REGISTRY

from .conftest import SF_DIR


def _docs(spark):
    # empty text, whitespace-only text (trim() keeps the tab), one token,
    # a repeated bigram ("to be" twice), and a plain text
    return spark.createDataFrame(
        [
            (1, ""),
            (2, " \t  "),
            (3, "solo"),
            (4, "to be or not to be"),
            (5, "ab ab ba ab"),
        ],
        "doc_id bigint, text string",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shared_token_parts_keep_their_results(spark):
    """Results before the shared parts existed, written in as literals."""
    docs = _docs(spark)
    assert _rows(textops.token_stats(docs)) == [
        (1, 0, 0, 0),
        (2, 4, 0, 0),
        (3, 4, 1, 1),
        (4, 18, 6, 6),
        (5, 11, 4, 4),
    ]
    # texts with fewer than two tokens have no bigrams and drop out
    assert _rows(textops.bigram_logprob(docs)) == [
        (4, 5, -0.4276322),
        (5, 3, -0.9151933333333333),
    ]
    assert _rows(textops.kneser_ney_logprob(docs)) == [
        (4, 5, -0.7728778000000001),
        (5, 3, -1.1028566666666666),
    ]
    # merges learned here: (a, b) 3, (b, e) 2, (t, o) 2
    assert _rows(textops.bpe_encode(docs, n_merges=3)) == [
        (3, 1, 4, 4, 1.0),
        (4, 6, 13, 9, 0.6923076923076923),
        (5, 4, 8, 5, 0.625),
    ]
    assert _rows(textops.bpe_merges(docs, n_merges=3)) == [
        (0, "a", "b", 3),
        (1, "b", "e", 2),
        (2, "t", "o", 2),
    ]


def test_bpe_queries_leave_no_persistent_rdd(spark):
    """The BPE loop persists its word table once and releases it: after
    collect, none of the three BPE queries leaves a persistent RDD."""
    jsc = spark.sparkContext._jsc
    for name in ("txt_bpe_merges", "txt_bpe_encode", "txt_fertility"):
        before = jsc.getPersistentRDDs().size()
        REGISTRY[name].fn(spark, SF_DIR).collect()
        left = jsc.getPersistentRDDs().size() - before
        assert left <= 0, f"{name} left {left} persistent RDDs"
