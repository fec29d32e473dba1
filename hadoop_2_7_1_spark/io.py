"""Table loaders and sinks.

Reference semantics covered here (SURVEY.md §2.1):
- ``TextInputFormat`` / ``KeyValueTextInputFormat`` / ``NLineInputFormat`` →
  ``read_text`` / ``read_kv_text`` / ``repartition`` after read.
- ``AutoInputFormat`` (hadoop-streaming AutoInputFormat.java:40 sniffes file
  magic) → ``load_auto`` dispatches on extension.
- ``MultipleOutputFormat`` (mapred/lib/MultipleOutputFormat.java:56 derives the
  output path from the record) → ``write_partitioned`` (column-derived
  directories); ``write_by_filename`` for the old API's arbitrary
  ``generateFileNameForKeyValue`` leaf-name derivation (:144).
- ``MultipleOutputs`` (mapreduce/lib/output/MultipleOutputs.java:307 named side
  outputs) → ``MultiSink``.

Everything is a thin declarative wrapper; Spark's file-source handles split
computation (FileInputFormat.getSplits:380 ≈ maxPartitionBytes), small-file
coalescing (CombineFileInputFormat ≈ openCostInBytes) and commit protocol
(FileOutputCommitter ≈ Spark committer) natively.
"""

from __future__ import annotations

import os
import re
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# JVM view -> its ``Dataset.ofRows`` method. Weak keys, so an entry dies
# with its gateway.
_OF_ROWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# session -> {table path: (st_size, st_mtime_ns, analyzed relation, dtypes)}:
# one live entry per path, so a rewritten file is resolved again. Weak keys,
# so an entry dies with its session.
_RESOLVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def of_rows(session: SparkSession, plan) -> DataFrame:
    """A frame of ``session`` over the JVM logical ``plan``, through the
    internal ``Dataset.ofRows`` (no public API builds a frame from a plan).
    py4j resolves the JVM class name with one round trip per package
    component, about as long as the call itself, so the method is looked
    up once per JVM gateway and reused. Two threads that miss at once both
    look it up; either result is correct, so no lock."""
    jvm = session._jvm
    fn = _OF_ROWS.get(jvm)
    if fn is None:
        fn = _OF_ROWS[jvm] = jvm.org.apache.spark.sql.classic.Dataset.ofRows
    return DataFrame(fn(session._jsparkSession, plan), session)


def _resolve(spark: SparkSession, path: str) -> tuple:
    """The resolved parquet relation at ``path`` and its dtypes, looked up
    once per session and file version: resolving the relation runs a
    schema-inference job, which dominates building a short query's frame.
    Two threads that miss at once both resolve; either entry is correct, so
    no lock."""
    st = os.stat(path)
    entries = _RESOLVED.setdefault(spark, {})
    hit = entries.get(path)
    if hit is None or hit[:2] != (st.st_size, st.st_mtime_ns):
        df = spark.read.parquet(path)
        relation = df._jdf.queryExecution().analyzed()
        hit = entries[path] = (st.st_size, st.st_mtime_ns, relation, dict(df.dtypes))
    return hit[2:]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver's parquet tables.

    ``events.parquet`` stores its ``ts`` column as parquet TIMESTAMP(NANOS),
    which Spark only reads via the nanosAsLong legacy conf (one of
    ``session.RESULT_CONF``, which the session carries); we truncate to
    microseconds exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP cast so both
    engines see identical values.

    The table's relation is resolved once per session (:func:`_resolve`);
    every call wraps a ``newInstance()`` of it, so each returned frame has
    fresh attribute ids, exactly like a new read (two loads of one table
    self-join as two relations). No table contents are cached.
    """
    relation, dtypes = _resolve(spark, os.path.join(sf_dir, f"{name}.parquet"))
    df = of_rows(spark, relation.newInstance())
    if name == "events" and dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Depending on environment confs, parquet TIMESTAMP columns may surface as
    # TIMESTAMP_NTZ, which functions like unix_micros() reject. The reference
    # models all times as zone-less long millis (SURVEY §1.2); with the session
    # pinned to UTC the instant semantics are identical, so normalize every
    # ntz column to plain TIMESTAMP at the source.
    ntz_cols = [c for c, t in dtypes.items() if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def scratch_dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Session-unique scratch path for round-trip queries. Keyed by the
    Spark applicationId as well as the sf tag so two concurrent drivers on
    the same scale factor can never interleave an overwrite-and-read."""
    sf_tag = re.sub(r"\W", "_", os.path.basename(sf_dir.rstrip("/")))
    app = re.sub(r"\W", "_", spark.sparkContext.applicationId)
    return os.path.join(tempfile.gettempdir(), f"h271_{tag}_{sf_tag}_{app}")


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """TextInputFormat: one row per line, column ``value``."""
    return spark.read.text(path)


def read_kv_text(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """KeyValueTextInputFormat: split each line at the first separator.

    Reference: KeyValueLineRecordReader.java:39 — key is the prefix before the
    first separator byte, value the rest (whole line → key, empty value when
    no separator present).
    """
    line = F.col("value")
    has_sep = F.instr(line, sep) > 0
    return spark.read.text(path).select(
        F.when(has_sep, F.substring_index(line, sep, 1)).otherwise(line).alias("key"),
        F.when(has_sep, F.expr(f"substring(value, instr(value, '{sep}') + 1)"))
        .otherwise(F.lit(""))
        .alias("value"),
    )


def load_auto(spark: SparkSession, path: str) -> DataFrame:
    """AutoInputFormat analogue: dispatch reader on file extension."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".parquet", ".pq"):
        return spark.read.parquet(path)
    if ext == ".csv":
        return spark.read.option("header", "true").csv(path)
    if ext in (".json", ".jsonl", ".ndjson"):
        return spark.read.json(path)
    if ext == ".orc":
        return spark.read.orc(path)
    return spark.read.text(path)


def write_partitioned(df: DataFrame, path: str, *cols: str, fmt: str = "parquet") -> None:
    """MultipleOutputFormat.generateFileNameForKeyValue analogue: route each
    record to a directory derived from its own columns."""
    df.write.mode("overwrite").partitionBy(*cols).format(fmt).save(path)


def write_by_filename(df: DataFrame, path: str, filename_expr, sep: str = "\t") -> int:
    """Old-API ``MultipleOutputFormat.generateFileNameForKeyValue``
    (MRC/mapred/lib/MultipleOutputFormat.java:144): derive the leaf FILE
    NAME for each record from an arbitrary function of the record — not
    just a column-valued directory (that case is :func:`write_partitioned`).

    ``filename_expr`` is any Column expression (so any derivation a
    generateFileNameForKeyValue override could compute); remaining columns
    become the ``sep``-joined line. One shuffle partitions records BY the
    derived name, so each file is written by exactly one task — the same
    discipline the reference needs (a name emitted by two reducers would
    collide at commit). Returns the number of files written.

    Scale shape: the shuffle key is the filename — at 100 TB you derive a
    name per (entity, shard) exactly as reference users did; a single hot
    filename is a user error in both systems.
    """
    from pyspark.sql import Column

    fname = filename_expr if isinstance(filename_expr, Column) else F.expr(filename_expr)
    data_cols = [c for c in df.columns]
    sel = df.select(
        fname.cast("string").alias("__fname"),
        F.concat_ws(sep, *[F.col(c).cast("string") for c in data_cols]).alias("__line"),
    )
    import shutil

    shutil.rmtree(path, ignore_errors=True)  # overwrite semantics
    os.makedirs(path, exist_ok=True)

    def run(batches):
        import pandas as pd

        handles: dict[str, object] = {}
        try:
            for pdf in batches:
                for name, line in zip(pdf["__fname"], pdf["__line"]):
                    fh = handles.get(name)
                    if fh is None:
                        if os.sep in name or name.startswith("."):
                            # subdirs via write_partitioned; dotfiles would
                            # vanish as hidden outputs — fail loudly instead
                            raise ValueError(f"bad derived filename {name!r}")
                        fh = handles[name] = open(
                            os.path.join(path, name), "w", encoding="utf-8"
                        )
                    fh.write(line + "\n")
        finally:
            for fh in handles.values():
                fh.close()
        yield pd.DataFrame({"n_files": [len(handles)]})

    counts = (
        sel.repartition(F.col("__fname"))
        .mapInPandas(run, "n_files long")
        .collect()
    )
    return int(sum(r.n_files for r in counts))


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8, sort: bool = True
) -> None:
    """Persist a table pre-partitioned AND pre-sorted on the join key.

    This is the reference's map-side join *precondition* made durable:
    CompositeInputFormat requires all sources to be identically partitioned
    and key-sorted (CompositeInputFormat.java:93-95 — same partitioner, same
    number of reduces). A Spark bucketed+sorted table carries exactly that
    contract in the catalog, so every future join or aggregation on ``key``
    between co-bucketed tables runs with ZERO shuffle exchange — at 100 TB
    this converts the repeated fact-fact join shuffle into a one-time write
    cost. Pair with a ``merge`` join hint to pin sort-merge.
    """
    import os
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    # A fresh session's in-memory catalog doesn't know tables written by a
    # previous run, but their managed locations survive in the warehouse dir
    # and make CREATE fail with LOCATION_ALREADY_EXISTS — clear the leftover.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if warehouse.startswith(prefix):
            warehouse = warehouse[len(prefix):]
    shutil.rmtree(os.path.join(warehouse, table.lower()), ignore_errors=True)

    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)


class MultiSink:
    """MultipleOutputs analogue: fan one cached DataFrame out to N named sinks.

    The reference writes side outputs from inside a single reduce pass
    (MultipleOutputs.java:408 ``write(name, k, v, baseOutputPath)``); on Spark
    the idiomatic equivalent is caching the source once and issuing one
    declarative write per named output so each write still gets full
    pushdown/pruning on its own filter.
    """

    def __init__(self, df: DataFrame):
        self._df = df.cache()
        self._sinks: list[tuple[str, DataFrame, str, str]] = []

    def add(self, name: str, path: str, where: str | None = None, fmt: str = "parquet") -> "MultiSink":
        part = self._df.filter(where) if where else self._df
        self._sinks.append((name, part, path, fmt))
        return self

    def run(self) -> dict[str, str]:
        """Write every sink, then release the cached source (also when a
        write raises)."""
        try:
            for _, part, path, fmt in self._sinks:
                part.write.mode("overwrite").format(fmt).save(path)
        finally:
            self._df.unpersist()
        return {name: path for name, _, path, _ in self._sinks}
