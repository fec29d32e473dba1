"""Mainframe fixed-record ingest: EBCDIC text + COMP-3 packed decimal.

The classic legacy-ETL source the reference handles with
FixedLengthInputFormat (MRC/lib/input/FixedLengthInputFormat.java:1) plus a
user-supplied decoder: billing/ledger extracts arrive as fixed-length binary
records whose text fields are EBCDIC (IBM037) and whose numerics are packed
decimal (two digits per byte, sign in the final nibble: C/F positive, D
negative). This module decodes BOTH inside JVM expressions — the record
split is substring-on-binary over an exploded index, the charset decode is
Spark's `decode(bin, 'IBM037')` (a JDK charset, which Spark 4 allows only
under a legacy switch in `session.RESULT_CONF`), and the packed-decimal
parse is hex() + string slicing — so ingest stays in whole-stage codegen
with zero Python in the per-record path.

Scale shape: files parallelize by Spark's binaryFile source (one task per
file; mainframe extracts ship as many volume-sized files); records explode
per file with pure arithmetic offsets. A 100 TB extract ingests exactly
like parquet — scan, narrow map, done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit

# field spec: (name, kind, byte_len) — kind 'X' = EBCDIC text, 'P' = COMP-3
Layout = list[tuple[str, str, int]]


def record_length(layout: Layout) -> int:
    return sum(n for _, _, n in layout)


def packed_decimal_expr(bin_expr: str) -> str:
    """SQL expression decoding a COMP-3 binary field to BIGINT: hex() the
    bytes, digits are every nibble but the last, the last nibble is the
    sign (D or B = negative)."""
    h = f"hex({bin_expr})"
    digits = f"substring({h}, 1, length({h}) - 1)"
    sign = f"substring({h}, length({h}), 1)"
    return (
        f"(case when {sign} in ('D', 'B') then -1 else 1 end)"
        f" * cast({digits} as bigint)"
    )


def read_copybook_records(
    spark: SparkSession, path: str, layout: Layout
) -> DataFrame:
    """Fixed-length binary records at ``path`` decoded per ``layout``.

    One scan of the file bytes; records = explode(sequence) + binary
    substring (1-based); 'X' fields decode via the JVM IBM037 charset and
    rtrim the EBCDIC space padding, 'P' fields parse as packed decimal.
    """
    rec_len = record_length(layout)
    files = spark.read.format("binaryFile").load(path)
    # slice inside ONE transform expression so the file bytes are never
    # duplicated per record row; sequence(1, 0) is DESCENDING in Spark —
    # guard sub-record files
    recs = files.select(
        F.expr(
            f"posexplode(case when length(content) >= {rec_len} then "
            f"transform(sequence(0, cast(length(content) / {rec_len} as int) - 1), "
            f"i -> substring(content, i * {rec_len} + 1, {rec_len})) "
            f"else cast(array() as array<binary>) end)"
        ).alias("rec_no", "rec")
    )
    cols = [F.col("rec_no").cast("bigint")]
    off = 1
    for name, kind, n in layout:
        fld = f"substring(rec, {off}, {n})"
        if kind == "X":
            cols.append(F.expr(f"rtrim(decode({fld}, 'IBM037'))").alias(name))
        elif kind == "P":
            cols.append(F.expr(packed_decimal_expr(fld)).cast("bigint").alias(name))
        else:
            raise ValueError(f"unknown field kind {kind!r} for {name}")
        off += n
    return recs.select(*cols)


def copybook_record_expr(layout: Layout) -> str:
    """SQL expression encoding the layout's columns into ONE fixed-length
    binary record — the JVM mirror of ``write_copybook_fixture``'s Python
    encoder (byte-identical, pinned by test): 'X' fields rpad to width and
    EBCDIC-encode via the JDK IBM037 charset, 'P' fields render the digit
    string, append the sign nibble (C positive, D negative) and unhex to
    COMP-3. A value too wide for its packed field raises (raise_error),
    mirroring pack_comp3's ValueError."""
    parts = []
    for name, kind, n in layout:
        if kind == "X":
            parts.append(
                f"encode(rpad(cast({name} as string), {n}, ' '), 'IBM037')"
            )
        elif kind == "P":
            ndig = 2 * n - 1
            digits = (
                f"if(length(cast(abs({name}) as string)) > {ndig}, "
                f"cast(raise_error('{name} does not fit in {n} packed bytes')"
                f" as string), "
                f"lpad(cast(abs({name}) as string), {ndig}, '0'))"
            )
            parts.append(f"unhex(concat({digits}, if({name} < 0, 'D', 'C')))")
        else:
            raise ValueError(f"unknown field kind {kind!r} for {name}")
    return parts[0] if len(parts) == 1 else "concat(" + ", ".join(parts) + ")"


def write_copybook_distributed(df: DataFrame, path: str, layout: Layout) -> None:
    """Distributed fixture write: rows encode to fixed-length binary records
    entirely in JVM expressions (:func:`copybook_record_expr`), then each
    partition writes its records to one part file under ``path`` (a
    directory), published by :func:`.commit.write_parts` in place of the
    previous parts — record data never reaches the driver. Executor-side
    Python only joins whole record byte strings (no per-field work)."""
    recs = df.select(F.expr(copybook_record_expr(layout)).alias("rec"))

    def encode(batches, part: str, pid: int) -> int:
        n = 0
        with open(part, "wb") as fh:
            for pdf in batches:
                fh.write(b"".join(pdf["rec"]))
                n += len(pdf)
        return n

    commit.write_parts(recs, path, encode, ext=".bin")


def pack_comp3(value: int, byte_len: int) -> bytes:
    """Encode an int as COMP-3 packed decimal in ``byte_len`` bytes
    (2*byte_len - 1 digits + sign nibble). Fixture writer / sink half of
    the round trip."""
    sign = "d" if value < 0 else "c"
    digits = str(abs(value)).rjust(2 * byte_len - 1, "0")
    if len(digits) != 2 * byte_len - 1:
        raise ValueError(f"{value} does not fit in {byte_len} packed bytes")
    return bytes.fromhex(digits + sign)


def write_copybook_fixture(
    rows: list[tuple], path: str, layout: Layout
) -> None:
    """Deterministic fixed-record fixture: 'X' fields EBCDIC(IBM037)-encode
    and space-pad, 'P' fields pack as COMP-3. Test scaffolding (like
    pqstats.write_fixture) — the OPERATOR under test is the JVM-side
    reader."""
    out = bytearray()
    for row in rows:
        for (name, kind, n), v in zip(layout, row):
            if kind == "X":
                out += str(v).ljust(n)[:n].encode("cp037")
            else:
                out += pack_comp3(int(v), n)
    with open(path, "wb") as fh:
        fh.write(bytes(out))
