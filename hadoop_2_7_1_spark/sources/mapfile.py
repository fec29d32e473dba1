"""MapFile source/sink — the reference's sorted, indexed KV container.

Reference: ``IO/MapFile.java:59`` — a directory holding two SequenceFiles:
``data`` (records in key-sorted order) and ``index`` (every
INDEX_INTERVAL-th key -> LongWritable byte position of that record in
``data``; MapFile.Writer.append region). ``MapFile.Reader.get`` loads the
tiny index, binary-searches it, seeks ``data`` and scans at most one
interval. ``MapFileOutputFormat`` (MRC/mapreduce/lib/output/
MapFileOutputFormat.java) writes ONE MapFile per reducer partition.

Spark-first shape: the write is a range-repartition + within-partition sort
(one shuffle — the same sort the reference's reduce phase performs), then an
Arrow-batched ``mapInPandas`` writer emits ``part-NNNNN/{data,index}`` per
partition, staged and published by :mod:`.commit` (a failed rewrite leaves
the old MapFile as it was). At 100 TB the data files stay distributed and
block-splittable; only index entries (1 per 128 records) and the returned
part manifest are small. Point lookup reads ONE index file and ONE bounded
slice of one data file — never a scan.

Format compatibility is pinned by a stock ``org.apache.hadoop.io.MapFile
.Reader`` round-trip in tests/test_sources.py.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit
from .seqfile import (
    _SeqWriter,
    _WRITABLE_FOR_DTYPE,
    _decode_writable,
    _parse_seq_stream,
    _read_seq_header,
    read_vlong,
)

#: io.map.index.interval default (MapFile.Writer)
INDEX_INTERVAL = 128

_LONG_WRITABLE = "org.apache.hadoop.io.LongWritable"


def write_map_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
    value_writable: tuple[str, object] | None = None,
    bloom: bool = False,
    bloom_num_keys: int = 1024 * 1024,
    bloom_error_rate: float = 0.005,
) -> int:
    """Write ``df`` as ``path/part-NNNNN/{data,index}`` MapFile directories
    (MapFileOutputFormat layout: one MapFile per partition, keys sorted
    within each). Returns the number of records written.

    Keys are range-partitioned so each part owns a contiguous key range —
    a point lookup then touches exactly one part (the reference's
    TotalOrderPartitioner + MapFileOutputFormat composition; plain
    MapFileOutputFormat hash-partitions, which also works but makes every
    reader check one part per hash bucket).
    """
    dtypes = dict(df.dtypes)
    key_class, enc_key = _WRITABLE_FOR_DTYPE[dtypes[key_col]]
    if value_writable is not None:
        value_class, enc_value = value_writable
    else:
        value_class, enc_value = _WRITABLE_FOR_DTYPE[dtypes[value_col]]

    sel = (
        df.select(key_col, value_col)
        .repartitionByRange(num_parts, F.col(key_col))
        .sortWithinPartitions(key_col)
    )

    def encode(batches: Iterator["pd.DataFrame"], part: str, pid: int) -> int:
        from .bloomfilter import DynamicBloom, vector_size_for

        os.mkdir(part)
        bf = (
            DynamicBloom(
                vector_size_for(bloom_num_keys, bloom_error_rate),
                nr=bloom_num_keys,
            )
            if bloom
            else None
        )
        n = 0
        with open(os.path.join(part, "data"), "wb") as data_fh, open(
            os.path.join(part, "index"), "wb"
        ) as index_fh:
            data = _SeqWriter(data_fh, key_class, value_class, f"mapfile-data:{pid}")
            index = _SeqWriter(
                index_fh, key_class, _LONG_WRITABLE, f"mapfile-index:{pid}"
            )
            for pdf in batches:
                for k, v in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                    kb = enc_key(k)
                    if n % index_interval == 0:
                        # record position BEFORE this append (MapFile.Writer:
                        # position.set(data.getLength()))
                        index.append(kb, struct.pack(">q", data_fh.tell()))
                    data.append(kb, enc_value(v))
                    if bf is not None:
                        bf.add(kb)  # raw serialized key bytes, like bloomKey.set
                    n += 1
        if bf is not None:
            with open(os.path.join(part, "bloom"), "wb") as fh:
                fh.write(bf.to_bytes())
        return n

    return commit.write_parts(sel, path, encode)


def read_map_file(
    spark: SparkSession, path: str, key_name: str = "key", value_name: str = "value"
) -> DataFrame:
    """Full scan: the ``data`` SequenceFiles read through Spark's Hadoop
    input path (block-splittable, same as any SequenceFile scan)."""
    from .seqfile import read_sequence_file

    return read_sequence_file(
        spark, os.path.join(path, "part-*", "data"), key_name, value_name
    )


def _norm(key):
    """Comparable form matching WritableComparable order: Text compares raw
    utf8 bytes, numeric Writables compare numerically."""
    return key.encode("utf-8") if isinstance(key, str) else key


def map_file_lookup(path: str, key, index_interval: int = INDEX_INTERVAL):
    """Index-aware point lookup (MapFile.Reader.get): binary-search the
    in-memory index, seek ``data`` at the indexed position, scan forward at
    most one interval. Reads O(index) + one bounded data slice — never a
    full data file. Returns the value or None.

    Driver-side utility by design: a point lookup is metadata-scale; batch
    lookups belong in a join against :func:`read_map_file`.
    """
    hit = _map_file_probe(path, key, index_interval)
    return hit[1] if hit is not None else None


def _map_file_probe(path: str, key, index_interval: int = INDEX_INTERVAL):
    """Index-aware probe returning ``(True, value)`` on a hit, else None —
    the hit/value split lets NullWritable-valued containers (SetFile)
    distinguish "present with null value" from "absent"."""
    import glob

    target = _norm(key)
    for part_dir in sorted(glob.glob(os.path.join(path, "part-*"))):
        hit = _probe_part(part_dir, target, index_interval)
        if hit is not None:
            return hit
    return None


def _probe_part(part_dir: str, target, index_interval: int = INDEX_INTERVAL):
    """Probe ONE MapFile dir: binary-search its index, scan one interval."""
    index_path = os.path.join(part_dir, "index")
    with open(index_path, "rb") as fh:
        idx_buf = fh.read()  # 1 entry per 128 records: tiny by design
    entries = []
    for kb, vb, kcls, _ in _parse_seq_stream(idx_buf):
        entries.append(
            (_norm(_decode_writable(kcls, kb)), struct.unpack(">q", vb)[0])
        )
    if not entries or target < entries[0][0]:
        return None
    # rightmost indexed key <= target (entries are in key order)
    lo, hi = 0, len(entries) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if entries[mid][0] <= target:
            lo = mid
        else:
            hi = mid - 1
    pos = entries[lo][1]
    return _scan_data_from(
        os.path.join(part_dir, "data"), pos, target, index_interval
    )


def _scan_data_from(data_path: str, pos: int, target, max_records: int):
    """Scan up to ``max_records`` framed records starting at ``pos`` for
    ``target``; reads the file incrementally (64 KiB chunks), not whole.

    Handles NONE and RECORD compression (a stock MapFile.Writer defaults to
    RECORD: keys stay plain in the framing, each value is its own codec
    stream). BLOCK-compressed data files have no per-record seek positions —
    the index points at block starts — so they route to the full-stream
    parser path instead of this interval scan."""
    with open(data_path, "rb") as fh:
        head = fh.read(4096)
        key_class, value_class, hpos = _read_seq_header(head)
        val_compressed, block = struct.unpack_from(">??", head, hpos)
        decompress = None
        if val_compressed or block:
            from .seqfile import _decompressor_for

            clen, cpos = read_vlong(head, hpos + 2)
            decompress = _decompressor_for(head[cpos : cpos + clen].decode())
        if block:
            return _scan_block_data(
                data_path, pos, target, key_class, value_class
            )
        fh.seek(pos)
        state = {"buf": b"", "off": 0}

        def ensure(n: int) -> bool:
            while len(state["buf"]) - state["off"] < n:
                chunk = fh.read(65536)
                if not chunk:
                    return False
                state["buf"] = state["buf"][state["off"] :] + chunk
                state["off"] = 0
            return True

        seen = 0
        while seen <= max_records:
            if not ensure(4):
                return None
            (rec_len,) = struct.unpack_from(">i", state["buf"], state["off"])
            if rec_len == -1:  # sync escape
                if not ensure(20):
                    return None
                state["off"] += 20
                continue
            if not ensure(8 + rec_len):
                return None
            off = state["off"]
            (key_len,) = struct.unpack_from(">i", state["buf"], off + 4)
            kb = state["buf"][off + 8 : off + 8 + key_len]
            vb = state["buf"][off + 8 + key_len : off + 8 + rec_len]
            state["off"] = off + 8 + rec_len
            seen += 1
            k = _norm(_decode_writable(key_class, kb))
            if k == target:
                if decompress is not None:
                    vb = decompress(bytes(vb))
                return (True, _decode_writable(value_class, vb))
            if k > target:  # sorted data: overshot
                return None
    return None


def _scan_block_data(data_path: str, pos: int, target, key_class, value_class):
    """BLOCK-compressed interval scan: the index position is a block start
    (sync escape); decode blocks from there until the target key is found or
    overshot. Blocks are read incrementally in 64 KiB chunks, so a lookup
    touches one or two blocks of I/O — not the whole file tail."""
    from .seqfile import _decompressor_for

    with open(data_path, "rb") as fh:
        head = fh.read(4096)
        _, _, hpos = _read_seq_header(head)
        compressed, block = struct.unpack_from(">??", head, hpos)
        decompress = None
        if compressed or block:
            clen, cpos = read_vlong(head, hpos + 2)
            decompress = _decompressor_for(head[cpos : cpos + clen].decode())
        fh.seek(pos)
        buf = b""
        off = 0

        def ensure(n: int) -> bool:
            nonlocal buf, off
            while len(buf) - off < n:
                chunk = fh.read(65536)
                if not chunk:
                    return False
                buf = buf[off:] + chunk
                off = 0
            return True

        while True:
            if not ensure(4):
                return None
            (esc,) = struct.unpack_from(">i", buf, off)
            if esc != -1:
                return None  # trailing garbage / truncation
            off += 4
            if not ensure(16):
                return None
            off += 16  # sync marker
            try:
                ensure(10)  # a vlong is at most 9 bytes
                n_rec, off = read_vlong(buf, off)
                blobs = []
                for _ in range(4):
                    ensure(10)
                    blen, off = read_vlong(buf, off)
                    if not ensure(blen):
                        return None  # truncated block
                    blobs.append(decompress(buf[off : off + blen]))
                    off += blen
            except (struct.error, IndexError, OSError, ValueError):
                return None
            key_lens_b, keys_b, val_lens_b, vals_b = blobs
            kp = vp = klp = vlp = 0
            for _ in range(n_rec):
                klen, klp = read_vlong(key_lens_b, klp)
                vlen, vlp = read_vlong(val_lens_b, vlp)
                k = _norm(_decode_writable(key_class, keys_b[kp : kp + klen]))
                if k == target:
                    return (
                        True,
                        _decode_writable(value_class, vals_b[vp : vp + vlen]),
                    )
                if k > target:  # sorted data: overshot — stop reading
                    return None
                kp += klen
                vp += vlen


# ---------------------------------------------------------------------------
# SetFile / ArrayFile — the reference's two MapFile specializations
# ---------------------------------------------------------------------------

_NULL_WRITABLE = "org.apache.hadoop.io.NullWritable"


def write_set_file(
    df: DataFrame,
    path: str,
    key_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
) -> int:
    """SetFile (``IO/SetFile.java:33``): a MapFile of keys with NullWritable
    values — a sorted on-disk set. Duplicate keys are collapsed (a set), and
    NullWritable serializes to ZERO bytes, so each data record is just the
    framed key. Stock ``SetFile.Reader`` round-trip pinned in tests."""
    keys = df.select(key_col).distinct()
    return write_map_file(
        keys.withColumn("__null", F.col(key_col)),
        path,
        key_col,
        "__null",
        num_parts=num_parts,
        index_interval=index_interval,
        value_writable=(_NULL_WRITABLE, lambda _v: b""),
    )


def set_file_contains(path: str, key) -> bool:
    """SetFile.Reader.seek(key) semantics: True iff the key is a member.
    Same O(index + one interval) cost as a MapFile point lookup."""
    return _map_file_probe(path, key) is not None


def read_set_file(spark: SparkSession, path: str, key_name: str = "key") -> DataFrame:
    """Distributed scan of the member keys (data files are ordinary
    SequenceFiles; NullWritable values are dropped)."""
    rdd = spark.sparkContext.sequenceFile(os.path.join(path, "part-*", "data"))
    return spark.createDataFrame(rdd.keys().map(lambda k: (k,)), [key_name])


def write_array_file(
    df: DataFrame,
    path: str,
    value_col: str,
    order_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
) -> int:
    """ArrayFile (``IO/ArrayFile.java:33``): a MapFile whose keys are the
    LongWritable append position 0..n-1. The reference's single Writer
    assigns positions by stream order; the distributed analogue assigns them
    by the total order of ``order_col`` (must be unique) via the two-phase
    prefix-rank — no global window, one range shuffle. Each part then owns a
    contiguous index range, so ``get(n)`` touches exactly one part."""
    from ..operators.partitioning import two_phase_prefix

    idx = (
        two_phase_prefix(
            df.select(order_col, value_col),
            [F.col(order_col)],
            F.lit(1),
            "__rank",
            num_partitions=num_parts,
        )
        .withColumn("__idx", (F.col("__rank") - 1).cast("bigint"))
        .select("__idx", value_col)
    )
    return write_map_file(
        idx, path, "__idx", value_col,
        num_parts=num_parts, index_interval=index_interval,
    )


def array_file_get(path: str, n: int):
    """ArrayFile.Reader.get(n): positional point lookup."""
    return map_file_lookup(path, int(n))


def read_array_file(
    spark: SparkSession, path: str, value_name: str = "value"
) -> DataFrame:
    """Distributed scan as (idx bigint, value) — the array with explicit
    positions, so downstream order never depends on file listing order."""
    return read_map_file(spark, path, key_name="idx", value_name=value_name)


# ---------------------------------------------------------------------------
# BloomMapFile — MapFile + per-dir DynamicBloomFilter (``bloom`` file)
# ---------------------------------------------------------------------------


def write_bloom_map_file(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    num_parts: int = 4,
    index_interval: int = INDEX_INTERVAL,
    bloom_num_keys: int = 1024 * 1024,
    bloom_error_rate: float = 0.005,
) -> int:
    """BloomMapFile (``IO/BloomMapFile.java:49``): each part dir gains a
    ``bloom`` file — a serialized DynamicBloomFilter over the raw key bytes —
    written in the SAME pass as data/index (no second scan). Lookups consult
    it first and skip the part on a negative, the whole point for sparse
    key sets. Stock BloomMapFile.Reader round-trip pinned in tests."""
    return write_map_file(
        df, path, key_col, value_col,
        num_parts=num_parts, index_interval=index_interval,
        bloom=True, bloom_num_keys=bloom_num_keys,
        bloom_error_rate=bloom_error_rate,
    )


def bloom_map_file_lookup(path: str, key, index_interval: int = INDEX_INTERVAL):
    """BloomMapFile.Reader.get: test the per-part bloom before touching
    index/data; a negative costs one small file read and zero data I/O.
    Parts without a ``bloom`` file degrade to the plain probe
    (probablyHasKey returns true when bloomFilter == null)."""
    import glob

    from .bloomfilter import DynamicBloom

    target = _norm(key)
    key_bytes = _serialize_key(key)
    for part_dir in sorted(glob.glob(os.path.join(path, "part-*"))):
        bloom_path = os.path.join(part_dir, "bloom")
        if os.path.exists(bloom_path):
            with open(bloom_path, "rb") as fh:
                bf = DynamicBloom.from_bytes(fh.read())
            if not bf.test(key_bytes):
                continue  # definite miss: skip index+data entirely
        hit = _probe_part(part_dir, target, index_interval)
        if hit is not None:
            return hit[1]
    return None


def _serialize_key(key) -> bytes:
    """Raw Writable bytes of a key — exactly what BloomMapFile.Writer feeds
    ``bloomKey`` (byteArrayForBloomKey: the serialized key, nothing else)."""
    from .seqfile import _enc_long, _enc_text

    if isinstance(key, str):
        return _enc_text(key)
    if isinstance(key, int):
        return _enc_long(key)
    raise TypeError(f"unsupported bloom key type {type(key)}")
