"""Scan-time record filters.

Reference: ``SequenceFileInputFilter`` nested classes
(MRC/mapreduce/lib/input/SequenceFileInputFilter.java):
- ``RegexFilter``  (:110) — keep records whose key matches a regex
- ``PercentFilter`` (:153) — keep records where ``hash(key) % f == 0``
- ``MD5Filter``    (:202) — keep records where ``MD5(key) % f == 0``

All three are plain filter predicates in Spark: they push into the scan
(Parquet row-group skipping where stats allow) and never shuffle. The md5
variant is shared with the DuckDB oracle via the same hex-prefix math used
in :mod:`..functions` (``hex_hash32``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hex_hash32


def regex_filter(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """RegexFilter: keep rows whose ``col`` matches ``pattern``."""
    return df.filter(F.col(col).rlike(pattern))


def percent_filter(df: DataFrame, col: str, frequency: int) -> DataFrame:
    """PercentFilter: deterministic 1-in-``frequency`` sample by key hash.

    Uses the md5-derived 32-bit hash (not Spark's ``hash()``) so the choice
    of kept keys is engine-independent and reproducible in the oracle.
    """
    return df.filter(hex_hash32(col) % frequency == 0)


def md5_filter(df: DataFrame, col: str, frequency: int) -> DataFrame:
    """MD5Filter: same contract as the reference (MD5(key) mod f == 0)."""
    return df.filter(hex_hash32(col) % frequency == 0)
