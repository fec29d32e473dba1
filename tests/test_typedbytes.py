"""Typed-bytes protocol tests: codec round-trip (wire format of
ST/typedbytes/TypedBytesOutput.java — 1-byte code + big-endian payload) and
an end-to-end ``-io typedbytes`` pipe with a subprocess wordcount combiner."""

from __future__ import annotations

import io
import struct
import textwrap

from pyspark.sql import functions as F

from hadoop_2_7_1_spark.operators import typedbytes as tb


def roundtrip(v):
    return tb.decode(io.BytesIO(tb.encode(v)))


def test_codec_roundtrip_scalars():
    for v in [b"\x00raw", True, False, 0, -1, 2**20, 2**40, -(2**40), 1.5, "héllo", ""]:
        assert roundtrip(v) == v


def test_codec_roundtrip_nested():
    v = ["a", 1, 2.5, [b"x", False], {"k": 7, "j": [1, 2]}]
    assert roundtrip(v) == v


def test_wire_format_matches_reference():
    # TypedBytesOutput.writeInt: code 3 + 4-byte big-endian
    assert tb.encode(5) == struct.pack(">Bi", 3, 5)
    # writeLong: code 4 + 8-byte
    assert tb.encode(2**35) == struct.pack(">Bq", 4, 2**35)
    # writeString: code 7 + int length + utf8 (WritableUtils.writeString)
    assert tb.encode("hi") == b"\x07\x00\x00\x00\x02hi"
    # writeBool: code 2 + 1 byte
    assert tb.encode(True) == b"\x02\x01"
    # writeDouble: code 6 + IEEE double
    assert tb.encode(1.0) == b"\x06" + struct.pack(">d", 1.0)
    # vector: code 8 + count + elements
    assert tb.encode([1]) == b"\x08\x00\x00\x00\x01" + tb.encode(1)
    # list terminator decodes (code 9 ... 255)
    assert tb.decode(io.BytesIO(b"\x09" + tb.encode(1) + b"\xff")) == [1]
    # application-specific codes 50..200 decode as raw bytes
    assert tb.decode(io.BytesIO(b"\x90\x00\x00\x00\x02ab")) == b"ab"


def test_pipe_transform_typed_combiner(spark, tmp_path):
    import sys

    script = tmp_path / "tb_combine.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(tb.__file__.rsplit('/hadoop_2_7_1_spark', 1)[0])!r})
            from hadoop_2_7_1_spark.operators import typedbytes as tb

            counts = {{}}
            inp = sys.stdin.buffer
            while True:
                try:
                    k = tb.decode(inp)
                except EOFError:
                    break
                v = tb.decode(inp)
                counts[k] = counts.get(k, 0) + v
            out = sys.stdout.buffer
            for k, v in counts.items():
                out.write(tb.encode(k))
                out.write(tb.encode(v))
            """
        )
    )
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3), ("c", 4), ("b", 5)], "word string, n int"
    )
    out = tb.pipe_transform_typed(
        df.repartition(2, "word"),  # co-locate keys so the combiner totals
        [sys.executable, str(script)],
        output_schema="key string, value long",
    )
    got = {r.key: r.value for r in out.collect()}
    assert got == {"a": 4, "b": 7, "c": 4}


def test_pipe_transform_raw_wire_format(spark, tmp_path):
    """-io rawbytes (ST/io/RawBytesInputWriter.java:58): int32-BE frames;
    string columns ship their Text WRITABLE bytes (vint + utf8) inside the
    frame, binary columns ship raw. Pinned by an identity subprocess (the
    frames we read back ARE the frames we sent) plus a byte-editing one."""
    import struct
    import textwrap

    from hadoop_2_7_1_spark.operators.typedbytes import pipe_transform_raw

    df = spark.createDataFrame([("k1", "hello"), ("k2", "worlds")], ["k", "v"])

    # identity: copy stdin frames to stdout unchanged
    ident = tmp_path / "ident.py"
    ident.write_text(textwrap.dedent("""
        import sys
        b = sys.stdin.buffer.read()
        sys.stdout.buffer.write(b)
    """))
    out = pipe_transform_raw(df, ["python3", str(ident)]).collect()
    got = sorted((bytes(r.key), bytes(r.value)) for r in out)
    # Text writable encoding: vint length (single byte here) + utf8
    assert got == [
        (b"\x02k1", b"\x05hello"),
        (b"\x02k2", b"\x06worlds"),
    ]

    # transforming subprocess: re-frame with value bytes uppercased
    upper = tmp_path / "upper.py"
    upper.write_text(textwrap.dedent("""
        import struct, sys
        data = sys.stdin.buffer.read()
        pos = 0
        frames = []
        while pos < len(data):
            (n,) = struct.unpack_from(">i", data, pos)
            frames.append(data[pos + 4 : pos + 4 + n])
            pos += 4 + n
        o = sys.stdout.buffer
        for i in range(0, len(frames), 2):
            k, v = frames[i], frames[i + 1].upper()
            o.write(struct.pack(">i", len(k)) + k)
            o.write(struct.pack(">i", len(v)) + v)
    """))
    out2 = pipe_transform_raw(df, ["python3", str(upper)]).collect()
    got2 = sorted((bytes(r.key), bytes(r.value)) for r in out2)
    assert got2 == [
        (b"\x02k1", b"\x05HELLO"),
        (b"\x02k2", b"\x06WORLDS"),
    ]


def test_pipe_transform_typed_encoder_error_fails_the_job(spark):
    """A value the typed-bytes encoder cannot write fails the job. The
    encoder runs on the feeder thread; if its error ended only that thread,
    the child would see end of input, exit 0, and the job would return 0 of
    20 rows without an error."""
    import pytest

    df = spark.range(20).selectExpr("id AS k", "CAST(id AS DECIMAL(10,1)) AS v")
    out = tb.pipe_transform_typed(df, ["cat"], output_schema="key bigint, value string")
    with pytest.raises(Exception, match="typed bytes cannot encode Decimal"):
        out.collect()
