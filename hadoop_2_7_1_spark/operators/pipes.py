"""Hadoop Streaming analogue: external-process UDFs (SURVEY.md §2.10).

PipeMapper/PipeReducer (hadoop-streaming PipeMapper.java:38, PipeReducer.java:40)
fork a user executable per task and speak a tab-separated line protocol over
stdin/stdout (separators configurable, HadoopStreaming.md.vm:232-239).

``pipe_transform`` reproduces that contract on Spark: one subprocess per
*partition* (not per row), fed through ``mapInPandas`` so rows move
driver-free in Arrow batches; a writer thread streams stdin while the main
thread consumes stdout, mirroring the reference's pump threads
(PipeMapRed.java). Output lines are split at the first separator into
(key, value) — exactly the streaming default of
``stream.map.output.field.separator`` + num.key.fields=1.
"""

from __future__ import annotations

import os
import subprocess
import threading
from collections.abc import Callable, Iterator
from contextlib import suppress
from typing import IO, Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

PIPE_OUTPUT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)


def pump(
    cmd: list[str],
    chunks: Iterator,
    records: Callable[[IO], Iterator[tuple[Any, Any]]],
    env: dict[str, str] | None = None,
    cwd: str | None = None,
    text: bool = False,
) -> Iterator[pd.DataFrame]:
    """One partition's streaming child (PipeMapRed.java's pump threads): a
    feeder thread writes ``chunks`` to its stdin while ``records`` parses
    its stdout into (key, value) frames. A feeder error is re-raised once
    the feeder ends, a reader error kills the child, and a non-zero exit
    raises. A ``BrokenPipeError`` on stdin alone means the child stopped
    reading; its exit code decides."""
    proc = subprocess.Popen(
        cmd,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=text,
        bufsize=1 << 20 if text else -1,
        env={**os.environ, **env} if env else None,
        cwd=cwd,
    )
    failed: list[BaseException] = []

    def feed() -> None:
        try:
            with suppress(BrokenPipeError), proc.stdin:
                for chunk in chunks:
                    proc.stdin.write(chunk)
        except BaseException as e:  # re-raised on the task thread below
            failed.append(e)

    writer = threading.Thread(target=feed, daemon=True)
    writer.start()

    keys: list[Any] = []
    vals: list[Any] = []
    try:
        for k, v in records(proc.stdout):
            keys.append(k)
            vals.append(v)
            if len(keys) >= 10_000:
                yield pd.DataFrame({"key": keys, "value": vals})
                keys, vals = [], []
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    writer.join()
    rc = proc.wait()
    if failed:
        raise failed[0]
    if rc != 0:
        raise RuntimeError(f"pipe command {cmd!r} exited with {rc}")
    if keys:
        yield pd.DataFrame({"key": keys, "value": vals})


def pipe_transform(
    df: DataFrame,
    cmd: list[str],
    input_cols: list[str] | None = None,
    sep: str = "\t",
    out_sep: str | None = None,
    num_key_fields: int = 1,
    env: dict[str, str] | None = None,
    cwd: str | None = None,
) -> DataFrame:
    """Pipe each partition's rows through ``cmd`` (argv list), one line per
    row (columns joined by ``sep``); parse stdout lines into (key, value).

    Streaming separator semantics (HadoopStreaming.md.vm:232-239 /
    PipeMapRed.java:303): output lines split at ``out_sep`` (defaults to
    ``sep``); the first ``num_key_fields`` fields join back into the key
    (``stream.num.map.output.key.fields``), the rest is the value. Lines
    with fewer fields get value "" (whole line becomes the key,
    KeyValueLineRecordReader.java:39).

    ``env`` entries overlay ``os.environ`` for the subprocess (streaming's
    ``-cmdenv``); ``cwd`` sets its working directory (where ``-files``
    shipped artifacts land, StreamJob.java's file-packaging contract).
    """
    cols = input_cols or df.columns
    osep = sep if out_sep is None else out_sep
    lines_df = df.select(
        F.concat_ws(sep, *[F.col(c).cast("string") for c in cols]).alias("line")
    )

    def records(stdout) -> Iterator[tuple[str, str]]:
        for out_line in stdout:
            out_line = out_line.rstrip("\n")
            if num_key_fields == 1:
                k, s, v = out_line.partition(osep)
                yield k, (v if s else "")
            else:
                parts = out_line.split(osep)
                yield osep.join(parts[:num_key_fields]), osep.join(parts[num_key_fields:])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lines = (line + "\n" for pdf in batches for line in pdf["line"])
        return pump(cmd, lines, records, env, cwd, text=True)

    return lines_df.mapInPandas(run, PIPE_OUTPUT_SCHEMA)


# ---------------------------------------------------------------------------
# Python UDTF surface (SURVEY §2.10): the 1→N "Mapper as table function"
# shape as a first-class SQL-callable, complementing the mapInPandas
# wrappers (which cover whole-partition transforms).
# ---------------------------------------------------------------------------

def word_ngrams_udtf():
    """A lazily-built UDTF class: (text, n) → (pos, gram) rows.

    Lateral-joins against a corpus exactly like the reference's
    flatMap-style Mapper emitting multiple records per input
    (MRC/mapreduce/Mapper.java:1 contract). Python-side row generation —
    registered in the plan-audit whitelist; the JVM twin for hot paths is
    the transform(sequence(...)) expression used by dd_span_dedup.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, gram string")
    class WordNgrams:
        def eval(self, text: str, n: int):
            toks = [t for t in (text or "").split() if t]
            for i in range(max(len(toks) - n + 1, 0)):
                yield i, " ".join(toks[i : i + n])

    return WordNgrams


def register_udtfs(spark) -> None:
    """Register the UDTF surface on a session (idempotent)."""
    spark.udtf.register("word_ngrams", word_ngrams_udtf())
