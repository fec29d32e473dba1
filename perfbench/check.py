"""Output checks: an order-independent content digest computed in the same
Spark job that materializes a step, and an exact frame comparison against
the DuckDB oracle (used once, when the digests are pinned)."""

from __future__ import annotations

import json
import math
import os

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def digest_exprs(df):
    """Aggregate columns for ``DataFrame.observe``: row count and the sum of
    per-row 64-bit hashes (as an exact decimal, so partial sums can merge in
    any order). Map columns hash through their JSON form, which Spark's
    hash functions accept."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return (
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("digest"),
    )


def observed(row: dict) -> dict:
    return {"rows": int(row["rows"]), "digest": str(row["digest"])}


def data_key() -> dict:
    """What the pinned outputs depend on besides the code: the size of every
    input table file and the terasort size."""
    from perfbench import workloads

    sizes = {
        f"{d}/{name}": os.path.getsize(os.path.join(workloads.DATA_ROOT, d, name))
        for d in sorted(os.listdir(workloads.DATA_ROOT))
        for name in sorted(os.listdir(os.path.join(workloads.DATA_ROOT, d)))
    }
    return {"files": sizes, "tera_rows": workloads.TERA_ROWS}


def load_pins() -> dict:
    """The pinned outputs; empty when they were made for other input files,
    so every step then fails its check."""
    with open(PINS_PATH) as fh:
        pins = json.load(fh)
    return pins if pins.get("data") == data_key() else {"steps": {}}


def verify(step: str, got: dict, pins: dict) -> str | None:
    """Return None when ``got`` matches the pinned output, else a reason."""
    want = pins["steps"].get(step)
    if want is None:
        return "no pinned output"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != pinned {want['rows']}"
    if got["digest"] != want["digest"]:
        return f"digest {got['digest']} != pinned {want['digest']}"
    return None


def _canonical(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf) == 0:
        return pdf.reset_index(drop=True)
    return pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(drop=True)


def _same(x, y) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (math.isnan(x) and math.isnan(y))
    return x == y


def frame_mismatch(spark_pdf, oracle_pdf) -> str | None:
    """Exact comparison after sorting columns by name and rows by value;
    returns None on a match, else the first difference found."""
    import numpy as np
    import pandas as pd

    a, b = _canonical(spark_pdf), _canonical(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            af, bf = av.astype(float).to_numpy(), bv.astype(float).to_numpy()
            bad = ~((af == bf) | (np.isnan(af) & np.isnan(bf)))
            if bad.any():
                i = int(np.where(bad)[0][0])
                return f"{col} row {i}: {af[i]!r} vs {bf[i]!r}"
            continue
        av = av.astype(object).where(pd.notna(av), None)
        bv = bv.astype(object).where(pd.notna(bv), None)
        for i, (x, y) in enumerate(zip(av, bv)):
            if not _same(x, y):
                return f"{col} row {i}: {x!r} vs {y!r}"
    return None
