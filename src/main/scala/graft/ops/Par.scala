package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** r6 (guide §2.5 "input skew: one huge unsplittable file … repartition
 *  immediately after the read"): a parquet table written as ONE row
 *  group scans as ONE task no matter how many cores the cluster has, so
 *  any CPU-heavy generator/kernel computed in the scan stage (span
 *  explode + hashing, per-position suffix explode, the MinHash
 *  signature kernel) runs single-threaded — measured 4.1 + 2.8 s
 *  single-task stages inside q82 at sf0.1/local[32].
 *
 *  `spread` redistributes the scan across the cluster's cores ONLY when
 *  the scan itself is under-parallel: a big input already split into
 *  >= defaultParallelism tasks passes through untouched (no shuffle of
 *  payload bytes at scale — the fix targets degenerate few-split
 *  inputs, it must never tax healthy ones). The key is the given
 *  deterministic column, never round-robin (guide §2.5: retried tasks
 *  must reproduce the same row placement).
 *
 *  `df` must be a direct scan (a table read, at most projected or
 *  filtered): the partition probe `df.rdd.getNumPartitions` plans the
 *  query, and over a shuffle AQE executes every stage below it just to
 *  answer. Both callers pass scans. */
object Par {
  def spread(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, col(key))
  }
}
