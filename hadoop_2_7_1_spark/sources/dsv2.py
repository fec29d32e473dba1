"""SequenceFile as a Spark Python DataSource (the DataSource V2 Python API).

The reference reads SequenceFiles through an InputFormat whose ``getSplits``
enumerates file ranges and whose RecordReader decodes framed Writables
(``MRC/mapreduce/lib/input/SequenceFileInputFormat.java:1``,
``IO/SequenceFile.java:197``). This module re-expresses that contract in
Spark's native extension point, so the format plugs into the normal reader
pipeline::

    spark.dataSource.register(SequenceFileDataSource)
    df = spark.read.format("pyseqfile").load(dir)          # key/value strings
    df.write.format("pyseqfile").mode("append").save(dir)  # Text/Text records

Split model: one ``InputPartition`` per part file — the
CombineFileInputFormat-style granularity that fits SequenceFile's
many-part-files layout. Finer sync-marker splits (FileInputFormat's
byte-range ``getSplits``) are possible with the same partition class carrying
(file, start, end); at file granularity each task decodes a whole stream, so
the framing never has to resynchronize mid-task.

The decode path is the pure-Python parser from :mod:`.seqfile` (all three
compression layouts); the write path emits standard v6 streams that stock
Hadoop readers accept (JVM round-trip pinned in tests/test_sources.py) and
commits them through :mod:`.commit`, the protocol the function sinks share.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from . import commit
from .seqfile import _decode_writable, _enc_text, _parse_seq_stream, _SeqWriter


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _SeqFileReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyseqfile: path option/load(path) required")

    def partitions(self):
        if os.path.isdir(self.path):
            files = sorted(
                f
                for f in glob.glob(os.path.join(self.path, "*"))
                if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
            )
        else:
            files = [self.path]
        # one split per part file; empty dirs yield an empty scan, matching
        # FileInputFormat on an empty input
        return [_FilePartition(f) for f in files] or [_FilePartition("")]

    def read(self, partition: "_FilePartition"):
        if not partition.path:
            return
        with open(partition.path, "rb") as fh:
            buf = fh.read()
        for key_b, val_b, key_cls, val_cls in _parse_seq_stream(buf):
            yield (
                str(_decode_writable(key_cls, key_b)),
                str(_decode_writable(val_cls, val_b)),
            )


class _SeqFileCommit(WriterCommitMessage):
    def __init__(self, staged: str):
        self.staged = staged


class _SeqFileWriter(DataSourceWriter):
    """FileOutputCommitter-shaped write protocol (reference:
    ``MRC/lib/output/FileOutputCommitter.java:1``), shared with the function
    sinks in :mod:`.commit`: every task attempt writes under a job-unique
    staging directory in the target, the driver's ``commit`` promotes
    exactly the attempt files named in the commit messages (so a
    speculative or retried attempt can never leave a duplicate part), and
    ``mode("overwrite")`` clears pre-existing part files at commit time —
    never before, so a failed job leaves the old data intact. ``abort``
    removes the staging directory and nothing else."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pyseqfile: path option/save(path) required")
        self.overwrite = overwrite
        self.job_id = uuid.uuid4().hex[:8]
        self.staging = commit.new_staging(self.path, self.job_id)

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # final names carry the job id so append-mode jobs never clobber a
        # prior job's parts (Hadoop: per-job task attempt ids in filenames)
        staged = commit.attempt_part(self.staging, f"part-{pid:05d}-{self.job_id}")
        with open(staged, "wb") as fh:
            w = _SeqWriter(
                fh,
                "org.apache.hadoop.io.Text",
                "org.apache.hadoop.io.Text",
                f"pyseqfile:{pid}",
            )
            for row in iterator:
                w.append(_enc_text(str(row[0])), _enc_text(str(row[1])))
        return _SeqFileCommit(staged)

    def commit(self, messages):
        commit.promote(self.staging, [m.staged for m in messages], self.overwrite)

    def abort(self, messages):
        commit.abort(self.staging)


class SequenceFileDataSource(DataSource):
    """``format("pyseqfile")``: SequenceFile read/write via the Python
    DataSource API. Read schema is (key string, value string) with Writables
    decoded by class name; writes emit Text/Text records."""

    @classmethod
    def name(cls) -> str:
        return "pyseqfile"

    def schema(self) -> str:
        return "key string, value string"

    def reader(self, schema) -> DataSourceReader:
        return _SeqFileReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _SeqFileWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotently register the data source on a session."""
    try:
        spark.dataSource.register(SequenceFileDataSource)
    except Exception:
        pass  # already registered on this session
