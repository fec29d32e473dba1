"""Structured Streaming layer (SURVEY.md §2.9 / §7 phase E).

The reference is pure batch — no event-time windows, watermarks, or state
exist anywhere in Hadoop 2.7.1. This layer is the north-star addition over
the ``events`` table: tumbling/sliding windows with watermarked late-data
handling, session windows, and stateful streaming dedup.

Design: every streaming transform is the SAME declarative expression as its
batch twin in queries/extras.py (date_trunc bucket ≡ window('1 hour'),
lag-gap sessionize ≡ session_window), so correctness is established by the
batch oracle and the tests only need to show stream/batch parity.

At scale: file-source streaming reads incrementally (maxFilesPerTrigger);
watermarks bound state; session/window state lives in the state store
(RocksDB provider on a real cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import scratch_dir


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (schema from the batch read).

    The file streaming source wants a *directory*; expose the single file
    through a symlinked staging dir (at scale the source would already be a
    directory of arriving files).
    """
    import os

    # Raw schema (ts stays INT64-nanos -> bigint under nanosAsLong); the
    # converted schema from load_table would mismatch the parquet file.
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stage = scratch_dir(spark, "stream_events", sf_dir)
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    sdf = spark.readStream.schema(raw.schema).format("parquet").load(stage)
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return sdf


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event_type (batch twin:
    evt_tumbling_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            # decimal accumulation, same as the batch twin evt_tumbling_window
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (batch twin: evt_sessionize).

    session_window merges events whose gaps are <= gap; a strictly larger gap
    opens a new session — identical semantics to the lag-based batch form.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("win.start").alias("t_start"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def enrich_stream(events: DataFrame, dim: DataFrame, key: str = "event_type") -> DataFrame:
    """Stream-static dimension enrichment: broadcast hash join against a
    batch table, re-planned per micro-batch (so a refreshed dim parquet is
    picked up without restarting the query). No streaming state at all —
    the 100 TB/day shape for lookup joins."""
    return events.join(F.broadcast(dim), key, "left")


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream event-time join: pair each left event with right events
    of the same ``key`` occurring in ``[left.ts, left.ts + within]``.

    Both sides are watermarked, and the time-range predicate bounds the join
    state on BOTH sides (rows age out of the state store once the watermark
    passes their join horizon) — without the range condition a stream-stream
    join buffers forever. Works identically on batch inputs (withWatermark
    is a no-op there), which is how the oracle checks it (evt_correlate).
    """
    l = left.select(
        F.col(key).alias("k"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("rk"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    ).withWatermark("r_ts", watermark)
    return l.join(
        r,
        F.expr(
            f"k = rk AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
    ).select(
        F.col("k").cast("bigint").alias("user_id"),
        F.col("l_id").cast("bigint").alias("left_id"),
        F.col("r_id").cast("bigint").alias("right_id"),
    )


def curate_sessions(
    events: DataFrame,
    dim: DataFrame,
    gap: str = "30 minutes",
    min_cents: int = 100,
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental-curation capstone: ONE streaming query chaining the
    pipeline stages — stateful dedup (duplicate deliveries dropped within
    the watermark horizon) → broadcast stream-static dimension enrichment →
    quality gate (exact integer cents) → native session-window rollup with
    an engagement-weighted value.

    The SAME expression runs on a batch frame (dropDuplicatesWithinWatermark
    degrades to dropDuplicates, session_window is identical), which is how
    the registered batch twin ``cur_pipeline_stream`` carries a DuckDB
    oracle; pytest pins stream ≡ batch on the doubled events feed.

    At scale: dedup state and session state are both watermark-bounded; the
    dim join ships only the (tiny) dimension; everything else is the one
    user-keyed shuffle the session rollup needs.
    """
    if events.isStreaming:
        deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    else:  # batch twin: Spark rejects the watermark form on batch frames
        deduped = events.dropDuplicates(["event_id"])
    enriched = deduped.join(F.broadcast(dim), "event_type", "inner")
    kept = enriched.withColumn(
        "cents", F.expr("cast(round(value * 100) as bigint)")
    ).filter(F.col("cents") >= min_cents)
    return (
        kept.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum(F.col("cents") * F.col("type_weight"))
            .cast("bigint")
            .alias("weighted_cents"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("win.start").alias("t_start"),
            "n_events",
            "cents",
            "weighted_cents",
        )
    )


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming query on all currently-available input
    (availableNow trigger) into an in-memory table; returns the result as a
    batch DataFrame. Used by tests to prove stream/batch parity."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = sdf.sparkSession
    return spark.table(name)


def running_user_totals(events: DataFrame, timeout_minutes: int = 60) -> DataFrame:
    """Custom stateful operator: per-user running (n_events, sum_value)
    maintained in the state store via applyInPandasWithState.

    This is the escape hatch for operators Structured Streaming lacks
    (reference analogue: arbitrary Reducer state across groups). State is one
    small tuple per user. On a production stream add a state timeout
    (ProcessingTimeTimeout + setTimeoutDuration) to evict idle users; with
    the availableNow batch-replay trigger used in tests, timeouts force one
    microbatch per timeout check, so the operator defaults to NoTimeout.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("s", DoubleType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        events.select(F.col("user_id").cast("bigint").alias("user_id"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def exactly_once_sink(stream_df: DataFrame, path: str, checkpoint: str):
    """Idempotent micro-batch sink: each batch lands in its own
    ``batch_id=N`` directory with ``overwrite`` mode, so a replayed batch
    (failure between write and checkpoint commit) overwrites its own output
    instead of duplicating it — end-to-end exactly-once onto plain parquet,
    the same write-then-commit discipline as the reference's
    FileOutputCommitter temp-dir/rename protocol
    (MRC/mapreduce/lib/output/FileOutputCommitter.java).

    Returns the started StreamingQuery; caller awaits/stops it.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_count_stream(events: DataFrame, key_col: str = "props") -> DataFrame:
    """First-seen filter + duplicate counter on applyInPandasWithState:
    one GroupState cell per content hash holding (first_event_id, n_seen);
    each update emits the key's current standing, so downstream sees both
    the keeper and the live dup count.

    This is the streaming twin of the batch exact-dedup groups
    (operators/dedup.py exact_dup_groups). State is two longs per
    distinct content hash, partitioned by the state store; at production
    scale a TTL config (state store cleanup) bounds it to the dedup
    horizon. The content hash — not the blob — is the shuffle key. The
    GroupState API needs no protobuf in the Python worker, unlike
    transformWithStateInPandas."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        keep_id, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            ids = pdf["event_id"].astype("int64")
            batch_min = int(ids.min())
            keep_id = batch_min if keep_id is None else min(keep_id, batch_min)
            n += len(pdf)
        state.update((keep_id, n))
        yield pd.DataFrame({"fp": [key[0]], "keep_id": [keep_id], "n_seen": [n]})

    hashed = events.select(
        F.md5(F.col(key_col)).alias("fp"),
        F.col("event_id").cast("bigint").alias("event_id"),
    )
    return hashed.groupBy("fp").applyInPandasWithState(
        update,
        outputStructType="fp string, keep_id bigint, n_seen bigint",
        stateStructType="keep_id bigint, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
