"""SparkSession factory.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the same
settings are what we would ship to a 1000-executor cluster, only the master
and memory sizing change:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast conversion replace Hadoop's static reducer count
  (``mapreduce.job.reduces``, mapred-default.xml:254 in the reference).
- shuffle.partitions: at 100 TB you size this ~2-3x total cores; locally 32.
  AQE coalesces down so oversizing is safe.
- Arrow enabled: every Python-side operator (pipe UDFs, multimodal decode)
  moves data in Arrow record batches, never row-at-a-time pickling.
- UTC session timezone so parquet timestamps compare bit-exact against the
  DuckDB oracle; it and the other settings results depend on are
  ``RESULT_CONF``, the one place they are spelled.
- PySpark's DataFrame call-site capture off: building a frame is driver
  work dominated by py4j round trips, and the capture walks the Python
  stack and sets and clears a JVM origin around every column function,
  about 2/3 of a build's round trips. It changes no result, so it is a
  builder line, not ``RESULT_CONF``; errors keep their class and message
  and lose only the Python file:line.

Frames over the input tables are built by ``io.load_table``, which resolves
each table once per session and file version and hands every caller a fresh
instance of that relation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Runtime SQL settings that query results depend on. ``get_spark`` applies
# them through its builder; ``__spark_entry__`` applies them to a session it
# is handed that did not come from here.
RESULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); read as long + convert in io
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # never surface TIMESTAMP_NTZ from parquet: the reference models time
    # as zone-less long millis, and with the session pinned to UTC plain
    # TIMESTAMP has identical instants while staying compatible with
    # unix_micros()/window() etc. (io.load_table also casts defensively)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # decode()/encode() with non-builtin JVM charsets (IBM037, the copybook
    # source) needs the legacy switch in Spark 4
    "spark.sql.legacy.javaCharsets": "true",
}


def get_spark(
    app_name: str = "hadoop_2_7_1_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=RESULT_CONF)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # call-site capture off: see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
