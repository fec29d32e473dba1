"""Operator library (SURVEY.md §2).

Each module re-expresses one family of the reference's ~90 MapReduce library
operators as declarative DataFrame transformations:

  aggregates     ValueAggregator registry, ValueHistogram, exact median
  fieldsel       FieldSelectionMapper/Helper ("cut"-style field specs)
  keyfield       KeyFieldBasedComparator/Partitioner (Unix sort -k specs)
  partitioning   total-order sort + scalable global rank (TotalOrderPartitioner)
  joins          inner/outer/override/semi/anti + broadcast helpers
  setops         union/intersect/except
  secondary_sort grouping-comparator ≠ sort-comparator semantics
  pipes          Hadoop Streaming pipe UDFs (subprocess line protocol)
  dedup          exact, MinHash-LSH, SimHash, n-gram Jaccard near-dup
  similarity     brute-force + IVF-bucketed cosine top-k over embeddings
  textops        language-ID, quality scoring, token counts, fingerprints
  multimodal     binary column decode/feature plumbing (Arrow-batched)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure CPU-bound downstream work gets cluster-wide parallelism.

    A small parquet file arrives as one input split, which serializes any
    expensive per-row computation (shingling, hashing, Python UDFs) onto one
    core. When the scan has fewer partitions than the cluster has slots,
    round-robin repartition the (small) input; when the input is already
    wide — the 100 TB case — this is a no-op costing one getNumPartitions
    call, so operators can apply it unconditionally.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def release_checkpoint(ckpt: DataFrame) -> None:
    """Drop the blocks of the local checkpoint ``ckpt`` (a frame returned by
    ``localCheckpoint()``) and its persistent-RDD entry. DataFrame.unpersist()
    does not release them: they belong to the RDD under the frame's
    LogicalRDD. Nothing may read ``ckpt`` afterwards. The release goes
    through ``SparkContext.unpersistRDD``: ``RDD.unpersist`` does the same
    but logs a driver WARN for every locally checkpointed RDD."""
    rdd = ckpt._jdf.queryExecution().analyzed().rdd()
    ckpt.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)
