"""SequenceFile source/sink.

Reference: ``IO/SequenceFile.java`` (layouts NONE/RECORD/BLOCK at :197,
writer factory :259) is the reference's binary KV container;
``SequenceFileInputFormat`` / ``...AsText`` / ``...AsBinary``
(MRC/mapreduce/lib/input/SequenceFileInputFormat.java:41,
SequenceFileAsTextInputFormat.java:37) read it back as native types,
strings, or raw bytes. ``IO/MapWritable.java`` / ``IO/ObjectWritable.java``
are the tagged-union value types (class-id byte + payload; UTF class name +
payload).

Spark-first stance (SURVEY.md §1.3): our *intermediates* are Parquet —
columnar, pruned, pushdown-friendly. This module exists for interchange with
data that already lives in SequenceFiles: reads go through Spark's Hadoop
input-format path, so files are block-splittable exactly as in the reference
(one task per block-aligned split — scales to many-TB inputs the same way
the reference's ``getSplits`` does).

The DEFAULT write path is an Arrow-batched ``mapInPandas`` writer that
serializes the SequenceFile v6 format (header, Writable encodings, sync
markers every SYNC_INTERVAL bytes so files stay splittable) directly from
pandas batches — no ``df.rdd`` Pyrolite row-at-a-time hop. Correctness is
pinned by round-tripping through the JVM Hadoop reader in
tests/test_sources.py. Compressed output still delegates to
``saveAsSequenceFile`` (the JVM owns the codec implementations). Both paths
stage their parts and publish them through :mod:`.commit`, so a write
replaces the target's parts only once the job has succeeded.
"""

from __future__ import annotations

import glob
import hashlib
import os
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from . import commit

CODECS = {
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "deflate": "org.apache.hadoop.io.compress.DefaultCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
    # IO/compress/SnappyCodec.java, Lz4Codec.java — the cluster defaults for
    # SequenceFile interchange. Hadoop 3.3+ (bundled with Spark) backs these
    # with pure-Java snappy-java / lz4-java, so no native libhadoop needed.
    "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
    "lz4": "org.apache.hadoop.io.compress.Lz4Codec",
}

# ---------------------------------------------------------------------------
# Writable wire encodings (IO/WritableUtils.java:271 vlong;
# IO/Text.java:286 vint+utf8; IO/BytesWritable.java:187 int+raw;
# primitives are big-endian DataOutput).
# ---------------------------------------------------------------------------

SYNC_INTERVAL = 100 * (4 + 16)  # SequenceFile.java SYNC_INTERVAL


def write_vlong(i: int) -> bytes:
    """Hadoop zero-compressed vlong (WritableUtils.writeVLong:271)."""
    if -112 <= i <= 127:
        return bytes([i & 0xFF])
    length = -112
    if i < 0:
        i = ~i
        length = -120
    tmp = i
    while tmp != 0:
        tmp >>= 8
        length -= 1
    out = [length & 0xFF]
    nbytes = -(length + 120) if length < -120 else -(length + 112)
    for idx in range(nbytes - 1, -1, -1):
        out.append((i >> (8 * idx)) & 0xFF)
    return bytes(out)


def read_vlong(buf: bytes, pos: int) -> tuple[int, int]:
    """Inverse of write_vlong → (value, new_pos)."""
    first = struct.unpack_from("b", buf, pos)[0]
    pos += 1
    if first >= -112:
        return first, pos
    negative = first < -120
    nbytes = (-120 - first) if negative else (-112 - first)
    val = 0
    for _ in range(nbytes):
        val = (val << 8) | buf[pos]
        pos += 1
    return (~val if negative else val), pos


def _enc_text(s: str) -> bytes:
    b = s.encode("utf-8")
    return write_vlong(len(b)) + b


def _enc_long(v: int) -> bytes:
    return struct.pack(">q", int(v))


def _enc_int(v: int) -> bytes:
    return struct.pack(">i", int(v))


def _enc_double(v: float) -> bytes:
    return struct.pack(">d", float(v))


def _enc_float(v: float) -> bytes:
    return struct.pack(">f", float(v))


def _enc_bool(v: bool) -> bytes:
    return struct.pack(">?", bool(v))


def _enc_bytes(v: bytes) -> bytes:
    v = bytes(v)
    return struct.pack(">i", len(v)) + v


#: Spark SQL dtype → (Writable class, record encoder)
_WRITABLE_FOR_DTYPE = {
    "string": ("org.apache.hadoop.io.Text", _enc_text),
    "bigint": ("org.apache.hadoop.io.LongWritable", _enc_long),
    "int": ("org.apache.hadoop.io.IntWritable", _enc_int),
    "smallint": ("org.apache.hadoop.io.IntWritable", _enc_int),
    "double": ("org.apache.hadoop.io.DoubleWritable", _enc_double),
    "float": ("org.apache.hadoop.io.FloatWritable", _enc_float),
    "boolean": ("org.apache.hadoop.io.BooleanWritable", _enc_bool),
    "binary": ("org.apache.hadoop.io.BytesWritable", _enc_bytes),
}

#: AbstractMapWritable's pre-registered class ids (AbstractMapWritable.java:47
#: constructor) — these never appear in the per-file newClasses table.
_MAPW_CLASS_IDS = {
    "org.apache.hadoop.io.BooleanWritable": -126,
    "org.apache.hadoop.io.BytesWritable": -125,
    "org.apache.hadoop.io.FloatWritable": -124,
    "org.apache.hadoop.io.IntWritable": -123,
    "org.apache.hadoop.io.LongWritable": -122,
    "org.apache.hadoop.io.NullWritable": -119,
    "org.apache.hadoop.io.Text": -116,
}


def _enc_map_text_text(d: dict) -> bytes:
    """MapWritable with Text keys and Text values (MapWritable.java:154
    write(): super.write = newClasses byte (0, all ids pre-known), then
    entry count int, then per entry id-byte + payload for key and value."""
    out = [struct.pack("b", 0), struct.pack(">i", len(d))]
    tid = struct.pack("b", _MAPW_CLASS_IDS["org.apache.hadoop.io.Text"])
    for k, v in d.items():
        out.append(tid)
        out.append(_enc_text(str(k)))
        out.append(tid)
        out.append(_enc_text(str(v)))
    return b"".join(out)


def _enc_object_writable(v) -> bytes:
    """ObjectWritable.java:133 writeObject: UTF declared-class name +
    payload. Java primitives write their boxed wire form; String writes UTF.
    (DataOutput.writeUTF = 2-byte BE length + modified-utf8; plain utf-8 is
    byte-identical for the class names and BMP text we emit.)"""
    # pandas hands numpy scalars (np.int64/np.bool_/np.float64), which fail
    # plain isinstance checks against int/bool — unwrap to Python first so
    # numeric columns don't get mis-tagged as java.lang.String
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, bool):
        name, payload = "boolean", struct.pack(">?", v)
    elif isinstance(v, int):
        name, payload = "long", struct.pack(">q", v)
    elif isinstance(v, float):
        name, payload = "double", struct.pack(">d", v)
    elif isinstance(v, (bytes, bytearray)):
        # Writable branch (ObjectWritable.java:133 region): the declared
        # class name is followed by the INSTANCE class name before the
        # payload — stock readFields reads both; one name would misparse.
        name = "org.apache.hadoop.io.BytesWritable"
        return _utf(name) + _utf(name) + _enc_bytes(bytes(v))
    else:
        name, payload = "java.lang.String", _utf(str(v))
    return _utf(name) + payload


def _utf(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _read_utf(buf: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    return buf[pos : pos + n].decode("utf-8"), pos + n


class _SeqWriter:
    """One SequenceFile v6 stream: header + framed records + periodic sync
    (SequenceFile.java Writer.append:1338 / sync:1250)."""

    def __init__(self, fh, key_class: str, value_class: str, sync_seed: str):
        self.fh = fh
        self.sync = hashlib.md5(sync_seed.encode()).digest()
        self.since_sync = 0
        fh.write(b"SEQ\x06")
        fh.write(_enc_text(key_class))
        fh.write(_enc_text(value_class))
        fh.write(struct.pack(">??", False, False))  # compressed, block
        fh.write(struct.pack(">i", 0))  # empty metadata
        fh.write(self.sync)

    def append(self, key_bytes: bytes, value_bytes: bytes) -> None:
        if self.since_sync >= SYNC_INTERVAL:
            self.fh.write(struct.pack(">i", -1))
            self.fh.write(self.sync)
            self.since_sync = 0
        rec = (
            struct.pack(">ii", len(key_bytes) + len(value_bytes), len(key_bytes))
            + key_bytes
            + value_bytes
        )
        self.fh.write(rec)
        self.since_sync += len(rec)


def write_sequence_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    codec: str | None = None,
    value_kind: str = "auto",
) -> None:
    """SequenceFileOutputFormat analogue: write (key, value) columns as a
    SequenceFile; Writable classes are inferred from the column types.

    Default path: Arrow-batched ``mapInPandas`` writer — each partition
    serializes its batches to ``path/part-NNNNN`` in SequenceFile v6 format
    (sync markers every SYNC_INTERVAL bytes keep the files splittable for
    any Hadoop reader). No ``df.rdd``/Pyrolite hop. The write replaces the
    target's parts through :func:`.commit.write_parts`; a failed job leaves
    them as they were.

    ``value_kind``:
      - ``auto``: Writable from the column dtype (Text/LongWritable/...)
      - ``map``: value column is ``map<string,string>`` → MapWritable
      - ``object``: tagged ObjectWritable (class name + payload) from the
        runtime type

    ``codec`` enables compression (SequenceFile.java:228) with one of
    CODECS' short names or a fully-qualified codec class; that path
    delegates to the JVM's ``saveAsSequenceFile`` (interchange niche — the
    codecs live JVM-side).
    """
    if codec:
        with commit.job(path) as staging:
            out = os.path.join(staging, "jvm")
            pairs = df.select(key_col, value_col).rdd.map(tuple)
            pairs.saveAsSequenceFile(out, compressionCodecClass=CODECS.get(codec, codec))
            commit.promote(staging, sorted(glob.glob(os.path.join(out, "part-*"))))
        return

    dtypes = dict(df.dtypes)
    key_class, enc_key = _WRITABLE_FOR_DTYPE[dtypes[key_col]]
    if value_kind == "map":
        value_class, enc_value = "org.apache.hadoop.io.MapWritable", _enc_map_text_text
    elif value_kind == "object":
        value_class, enc_value = "org.apache.hadoop.io.ObjectWritable", _enc_object_writable
    else:
        value_class, enc_value = _WRITABLE_FOR_DTYPE[dtypes[value_col]]

    def encode(batches: Iterator["pd.DataFrame"], part: str, pid: int) -> int:
        n = 0
        with open(part, "wb") as fh:
            writer = _SeqWriter(fh, key_class, value_class, f"hadoop_2_7_1_spark:{pid}")
            for pdf in batches:
                for k, v in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                    writer.append(enc_key(k), enc_value(v))
                    n += 1
        return n

    commit.write_parts(df.select(key_col, value_col), path, encode)


_SPARK_TYPE_FOR_WRITABLE = {
    "org.apache.hadoop.io.Text": "string",
    "org.apache.hadoop.io.LongWritable": "bigint",
    "org.apache.hadoop.io.IntWritable": "int",
    "org.apache.hadoop.io.DoubleWritable": "double",
    "org.apache.hadoop.io.FloatWritable": "float",
    "org.apache.hadoop.io.BooleanWritable": "boolean",
    "org.apache.hadoop.io.BytesWritable": "binary",
    "org.apache.hadoop.io.MapWritable": "map<string,string>",
}


def read_sequence_file(
    spark: SparkSession,
    path: str,
    key_name: str = "key",
    value_name: str = "value",
    min_splits: int | None = None,
) -> DataFrame:
    """SequenceFileInputFormat analogue: (key, value) DataFrame with native
    types (Writables auto-converted; MapWritable → dict → MapType).

    Empty files are handled: no schema can be inferred from zero rows,
    so the Writable class names are read from the file header and mapped to
    Spark types instead."""
    rdd = spark.sparkContext.sequenceFile(path, minSplits=min_splits)
    try:
        # not rdd.toDF: pyspark binds that to the newest session
        return spark.createDataFrame(rdd, [key_name, value_name])
    except ValueError:
        # raised both for empty RDDs and for undeterminable types (e.g.
        # NullWritable values). Only the EMPTY case may fall back to a
        # header-derived schema — anything else must surface.
        if not rdd.isEmpty():
            raise
        local = path[5:] if path.startswith("file:") else path
        parts = sorted(glob.glob(os.path.join(local, "part-*"))) or [local]
        with open(parts[0], "rb") as fh:
            head = fh.read(4096)
        key_class, value_class, _ = _read_seq_header(head)
        schema = (
            f"{key_name} {_SPARK_TYPE_FOR_WRITABLE.get(key_class, 'string')}, "
            f"{value_name} {_SPARK_TYPE_FOR_WRITABLE.get(value_class, 'string')}"
        )
        return spark.createDataFrame([], schema)


def read_sequence_file_as_text(
    spark: SparkSession, path: str, key_name: str = "key", value_name: str = "value"
) -> DataFrame:
    """SequenceFileAsTextInputFormat: both sides stringified
    (SequenceFileAsTextRecordReader calls toString on each Writable)."""
    from pyspark.sql import functions as F

    df = read_sequence_file(spark, path, key_name, value_name)
    return df.select(
        F.col(key_name).cast("string").alias(key_name),
        F.col(value_name).cast("string").alias(value_name),
    )


# ---------------------------------------------------------------------------
# Python-side SequenceFile parser: needed for value classes the JVM
# converter can't hand to Python (ObjectWritable's tagged union), and as the
# format's second, independent implementation for round-trip tests.
# ---------------------------------------------------------------------------

def _read_seq_header(buf: bytes) -> tuple[str, str, int]:
    """(key_class, value_class, pos_after_classnames) from a v6 stream."""
    if buf[:4] != b"SEQ\x06":
        raise ValueError("not a SequenceFile v6 stream")
    pos = 4
    klen, pos = read_vlong(buf, pos)
    key_class = buf[pos : pos + klen].decode()
    pos += klen
    vlen, pos = read_vlong(buf, pos)
    value_class = buf[pos : pos + vlen].decode()
    return key_class, value_class, pos + vlen


#: Codec class → decompress callable for the Python parser's compressed path
#: (SequenceFile.java:197-228 RECORD/BLOCK layouts; codec classes from CODECS).
def _decompressor_for(codec_class: str):
    import bz2
    import gzip as _gzip

    if codec_class.endswith(".DefaultCodec"):
        return zlib.decompress
    if codec_class.endswith(".GzipCodec"):
        return _gzip.decompress
    if codec_class.endswith(".BZip2Codec"):
        return bz2.decompress
    raise ValueError(f"python parser: unsupported codec {codec_class}")


def _parse_seq_stream(buf: bytes):
    """Yield (key_bytes, value_bytes, key_class, value_class) records.

    Handles all three layouts of ``IO/SequenceFile.java:197-228``:
    NONE, RECORD (per-value codec stream after the standard framing), and
    BLOCK (sync + vint record count + four compressed sub-blocks:
    key-lengths, keys, value-lengths, values). Truncated streams stop
    cleanly at the last complete record instead of raising mid-slice
    (crawl-robustness contract shared with the other parsers)."""
    key_class, value_class, pos = _read_seq_header(buf)
    compressed, block = struct.unpack_from(">??", buf, pos)
    pos += 2
    decompress = None
    if compressed or block:
        clen, pos = read_vlong(buf, pos)
        codec_class = buf[pos : pos + clen].decode()
        pos += clen
        decompress = _decompressor_for(codec_class)
    (n_meta,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    for _ in range(n_meta * 2):
        slen, pos = read_vlong(buf, pos)
        pos += slen
    pos += 16  # sync

    if block:
        while pos + 4 <= len(buf):
            (esc,) = struct.unpack_from(">i", buf, pos)
            if esc != -1:
                break  # trailing garbage / truncation — stop cleanly
            pos += 4 + 16  # sync escape + sync marker
            try:
                n_rec, pos = read_vlong(buf, pos)
                blobs = []
                for _ in range(4):
                    blen, pos = read_vlong(buf, pos)
                    if pos + blen > len(buf):
                        return  # truncated block
                    blobs.append(decompress(bytes(buf[pos : pos + blen])))
                    pos += blen
            except (struct.error, IndexError, OSError, zlib.error, ValueError):
                return
            key_lens_b, keys_b, val_lens_b, vals_b = blobs
            kp = vp = 0
            klp = vlp = 0
            for _ in range(n_rec):
                klen, klp = read_vlong(key_lens_b, klp)
                vlen, vlp = read_vlong(val_lens_b, vlp)
                yield (
                    keys_b[kp : kp + klen],
                    vals_b[vp : vp + vlen],
                    key_class,
                    value_class,
                )
                kp += klen
                vp += vlen
        return

    while pos + 4 <= len(buf):
        (rec_len,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        if rec_len == -1:  # sync escape
            pos += 16
            continue
        if pos + 4 > len(buf):
            return  # truncated: no room for key_len
        (key_len,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        if rec_len < key_len or key_len < 0 or pos + rec_len > len(buf):
            return  # truncated / corrupt framing: stop at last full record
        kb = buf[pos : pos + key_len]
        pos += key_len
        vb = buf[pos : pos + rec_len - key_len]
        pos += rec_len - key_len
        if compressed:
            try:
                vb = decompress(bytes(vb))
            except (OSError, zlib.error, ValueError):
                return
        yield kb, vb, key_class, value_class


def _decode_writable(cls: str, b: bytes):
    if cls == "org.apache.hadoop.io.Text":
        n, p = read_vlong(b, 0)
        return b[p : p + n].decode("utf-8")
    if cls == "org.apache.hadoop.io.LongWritable":
        return struct.unpack(">q", b)[0]
    if cls == "org.apache.hadoop.io.IntWritable":
        return struct.unpack(">i", b)[0]
    if cls == "org.apache.hadoop.io.DoubleWritable":
        return struct.unpack(">d", b)[0]
    if cls == "org.apache.hadoop.io.BooleanWritable":
        return struct.unpack(">?", b)[0]
    if cls == "org.apache.hadoop.io.BytesWritable":
        (n,) = struct.unpack(">i", b[:4])
        return b[4 : 4 + n]
    if cls == "org.apache.hadoop.io.FloatWritable":
        return struct.unpack(">f", b)[0]
    if cls == "org.apache.hadoop.io.NullWritable":
        return None  # zero serialized bytes (SetFile values)
    raise ValueError(f"unsupported writable {cls}")


def _decode_object_writable(b: bytes) -> tuple[str, str]:
    """(declared class, value as string) from ObjectWritable bytes."""
    name, pos = _read_utf(b, 0)
    if name == "long":
        return name, str(struct.unpack_from(">q", b, pos)[0])
    if name == "double":
        return name, repr(struct.unpack_from(">d", b, pos)[0])
    if name == "boolean":
        return name, str(struct.unpack_from(">?", b, pos)[0]).lower()
    if name == "java.lang.String":
        s, _ = _read_utf(b, pos)
        return name, s
    if name == "org.apache.hadoop.io.BytesWritable":
        # Writable branch: instance class name follows the declared name.
        _, pos = _read_utf(b, pos)
        (n,) = struct.unpack_from(">i", b, pos)
        return name, bytes(b[pos + 4 : pos + 4 + n]).hex()
    raise ValueError(f"unsupported ObjectWritable class {name}")


def read_sequence_file_object_values(
    spark: SparkSession, path: str, key_name: str = "key"
) -> DataFrame:
    """ObjectWritable-valued SequenceFile → (key, value_class, value) rows,
    the tagged-struct representation of SURVEY §1.2.

    Runs over ``binaryFile`` (one task per file — SequenceFiles written for
    object interchange are many small files, not one giant one; for the
    monolithic case convert JVM-side first)."""
    from pyspark.sql import functions as F  # noqa: F401

    files = spark.read.format("binaryFile").load(os.path.join(path, "part-*"))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            keys, classes, values = [], [], []
            for content in pdf["content"]:
                for kb, vb, kcls, _ in _parse_seq_stream(bytes(content)):
                    keys.append(str(_decode_writable(kcls, kb)))
                    cls, sval = _decode_object_writable(vb)
                    classes.append(cls)
                    values.append(sval)
            yield pd.DataFrame(
                {key_name: keys, "value_class": classes, "value": values}
            )

    return files.select("content").mapInPandas(
        run, f"{key_name} string, value_class string, value string"
    )
