"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the driver's table views pre-registered, and the oracle-parity helper
that mirrors the driver's canonicalization (columns sorted by name, rows
sorted by all columns, floats compared at 1e-9 relative)."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from hadoop_2_7_1_spark.io import TABLES
from hadoop_2_7_1_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf) == 0:
        return pdf.reset_index(drop=True)
    sort_cols = list(pdf.columns)
    return pdf.sort_values(by=sort_cols, na_position="first").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    assert sorted(a.columns) == sorted(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            # EXACT, like the driver's value hash: every float aggregate in
            # the registry is order-independent by construction (money sums
            # accumulate as DECIMAL, ln()-based scores round each row to
            # DECIMAL(38,6) before the sum, iterative float state accumulates
            # as scaled BIGINT), so ulp drift is a real defect, not noise.
            af = av.astype(float).to_numpy()
            bf = bv.astype(float).to_numpy()
            ok = (af == bf) | (np.isnan(af) & np.isnan(bf))
            assert ok.all(), f"{name}.{col}: float mismatch at rows {np.where(~ok)[0][:5]}: {af[~ok][:3]} vs {bf[~ok][:3]}"
        else:
            av = av.astype(object).where(pd.notna(av), None)
            bv = bv.astype(object).where(pd.notna(bv), None)
            mism = [
                (i, x, y)
                for i, (x, y) in enumerate(zip(av, bv))
                if not _eq(x, y)
            ]
            assert not mism, f"{name}.{col}: mismatch {mism[:5]}"


def _eq(x, y) -> bool:
    if x is None and y is None:
        return True
    if isinstance(x, float) and isinstance(y, float):
        # exact, like the driver's value hash (NaN == NaN)
        return x == y or (math.isnan(x) and math.isnan(y))
    return x == y
