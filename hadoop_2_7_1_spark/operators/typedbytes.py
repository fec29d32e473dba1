"""Typed-bytes codec for the Hadoop-Streaming pipe surface.

The reference's streaming I/O supports a binary "typed bytes" protocol in
addition to the tab-separated text protocol
(``ST/io/TypedBytesInputWriter.java``, ``ST/io/TypedBytesOutputReader.java``;
wire format in ``hadoop-tools/hadoop-streaming``'s typedbytes package): each
value is a 1-byte type code followed by a big-endian payload —

    0 bytes(len,raw)  1 byte  2 bool  3 int  4 long  5 float  6 double
    7 string(len,utf8)  8 vector(count,elems)  9 list(elems...,255)
    10 map(count,k/v pairs)  50..200 app-specific bytes  255 list end

``pipe_transform_typed`` reproduces streaming's ``-io typedbytes`` mode:
each row crosses the subprocess boundary as a typed (key, value) pair, and
the subprocess's typed output pairs come back as DataFrame rows. One
subprocess per partition via ``mapInPandas`` — same process model as
:func:`hadoop_2_7_1_spark.operators.pipes.pipe_transform`.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from io import BufferedReader
from typing import Any, BinaryIO

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipes import pump

# type codes
BYTES, BYTE, BOOL, INT, LONG, FLOAT, DOUBLE, STRING, VECTOR, LIST, MAP = range(11)
MARKER = 255

INT32_MIN, INT32_MAX = -(1 << 31), (1 << 31) - 1


def encode(value: Any) -> bytes:
    """Encode one python value as typed bytes."""
    if isinstance(value, bool):
        return struct.pack(">BB", BOOL, int(value))
    if isinstance(value, bytes):
        return struct.pack(">Bi", BYTES, len(value)) + value
    if isinstance(value, int):
        if INT32_MIN <= value <= INT32_MAX:
            return struct.pack(">Bi", INT, value)
        return struct.pack(">Bq", LONG, value)
    if isinstance(value, float):
        return struct.pack(">Bd", DOUBLE, value)
    if isinstance(value, str):
        raw = value.encode("utf-8")
        return struct.pack(">Bi", STRING, len(raw)) + raw
    if isinstance(value, (list, tuple)):
        return struct.pack(">Bi", VECTOR, len(value)) + b"".join(encode(v) for v in value)
    if isinstance(value, dict):
        return struct.pack(">Bi", MAP, len(value)) + b"".join(
            encode(k) + encode(v) for k, v in value.items()
        )
    raise TypeError(f"typed bytes cannot encode {type(value).__name__}")


def decode(stream: BinaryIO) -> Any:
    """Decode one typed value; raises EOFError at clean end of stream."""
    head = stream.read(1)
    if not head:
        raise EOFError
    code = head[0]
    if code == BYTES:
        (n,) = struct.unpack(">i", stream.read(4))
        return stream.read(n)
    if code == BYTE:
        return struct.unpack(">b", stream.read(1))[0]
    if code == BOOL:
        return bool(stream.read(1)[0])
    if code == INT:
        return struct.unpack(">i", stream.read(4))[0]
    if code == LONG:
        return struct.unpack(">q", stream.read(8))[0]
    if code == FLOAT:
        return struct.unpack(">f", stream.read(4))[0]
    if code == DOUBLE:
        return struct.unpack(">d", stream.read(8))[0]
    if code == STRING:
        (n,) = struct.unpack(">i", stream.read(4))
        return stream.read(n).decode("utf-8")
    if code == VECTOR:
        (n,) = struct.unpack(">i", stream.read(4))
        return [decode(stream) for _ in range(n)]
    if code == LIST:
        out = []
        while True:
            try:
                out.append(decode(stream))
            except _ListEnd:
                return out
    if code == MAP:
        (n,) = struct.unpack(">i", stream.read(4))
        return {_hashable(decode(stream)): decode(stream) for _ in range(n)}
    if code == MARKER:
        raise _ListEnd
    if 50 <= code <= 200:  # application-specific: raw bytes with a length
        (n,) = struct.unpack(">i", stream.read(4))
        return stream.read(n)
    raise ValueError(f"unknown typed bytes code {code}")


class _ListEnd(Exception):
    pass


def _hashable(v: Any) -> Any:
    return tuple(v) if isinstance(v, list) else v


def pipe_transform_typed(
    df: DataFrame,
    cmd: list[str],
    key_col: str | None = None,
    output_schema: str = "key string, value string",
    env: dict[str, str] | None = None,
    cwd: str | None = None,
) -> DataFrame:
    """Streaming ``-io typedbytes``: pipe rows to ``cmd`` as typed (key,
    value) pairs, decode the typed pairs it emits.

    The first column (or ``key_col``) is the key; the remaining columns are
    the value (a single value for one column, a vector for several). The
    subprocess must write alternating typed key/value pairs to stdout; they
    land in the two fields of ``output_schema``. ``env``/``cwd`` mirror
    ``pipe_transform`` (streaming ``-cmdenv`` and the ``-files`` working
    directory).
    """
    key_col = key_col or df.columns[0]
    val_cols = [c for c in df.columns if c != key_col]

    def chunks(batches: Iterator[pd.DataFrame]) -> Iterator[bytes]:
        for pdf in batches:
            buf = bytearray()
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                buf += encode(_py(d[key_col]))
                vals = [_py(d[c]) for c in val_cols]
                buf += encode(vals[0] if len(vals) == 1 else vals)
            yield bytes(buf)

    def records(stdout) -> Iterator[tuple[Any, Any]]:
        out = BufferedReader(stdout)
        while True:
            try:
                k = decode(out)
            except EOFError:
                return
            yield k, decode(out)

    return df.mapInPandas(
        lambda b: pump(cmd, chunks(b), records, env, cwd), output_schema
    )


def _py(v: Any) -> Any:
    """numpy/pandas scalar → plain python for the encoder."""
    return v.item() if hasattr(v, "item") else v


def pipe_transform_raw(
    df: DataFrame,
    cmd: list[str],
    key_col: str | None = None,
    env: dict[str, str] | None = None,
    cwd: str | None = None,
) -> DataFrame:
    """Streaming ``-io rawbytes`` (ST/io/RawBytesInputWriter.java:58,
    RawBytesOutputReader.java:47): each key/value goes to the subprocess as
    ``int32-BE length + bytes``; the subprocess emits alternating framed
    key/value pairs, which land as BytesWritable-shaped ``binary`` columns.

    Framing follows the reference exactly: ``binary`` columns ship their
    raw bytes; any other column ships its Text WRITABLE serialization
    (vint length + utf8) inside the frame — that's what
    ``writable.write(bufferDataOut)`` produces for Text.
    """
    import struct as _struct

    from ..sources.seqfile import _enc_text

    key_col = key_col or df.columns[0]
    val_cols = [c for c in df.columns if c != key_col]
    dtypes = dict(df.dtypes)

    def frame(value: Any, dtype: str) -> bytes:
        if dtype == "binary":
            b = bytes(value)
        else:
            b = _enc_text(str(value))
        return _struct.pack(">i", len(b)) + b

    def chunks(batches: Iterator[pd.DataFrame]) -> Iterator[bytes]:
        for pdf in batches:
            buf = bytearray()
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                buf += frame(d[key_col], dtypes[key_col])
                for c in val_cols:
                    buf += frame(d[c], dtypes[c])
            yield bytes(buf)

    def records(stdout) -> Iterator[tuple[bytes, bytes]]:
        out = BufferedReader(stdout)

        def read_framed() -> bytes | None:
            hdr = out.read(4)
            if len(hdr) < 4:
                return None
            (n,) = _struct.unpack(">i", hdr)
            if n < 0:
                return None
            b = out.read(n)
            if len(b) < n:
                raise EOFError("truncated rawbytes frame")
            return b

        while True:
            k = read_framed()
            if k is None:
                return
            v = read_framed()
            if v is None:
                raise EOFError("rawbytes stream ended after a key")
            yield k, v

    return df.mapInPandas(
        lambda b: pump(cmd, chunks(b), records, env, cwd), "key binary, value binary"
    )
