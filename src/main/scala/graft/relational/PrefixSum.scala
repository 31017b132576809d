package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exclusive prefix sum — the two-pass scan that replaces a
  * single-partition global window at scale (the classic parallel-scan
  * shape; cf. Blelloch's scan, and what every "running total over the
  * whole corpus" stage needs at 100 TB where an unpartitioned window
  * funnels the table through one task):
  *
  *   1. range-partition + sort by the (total) order key, stamp each
  *      row's physical partition id;
  *   2. ONE tiny aggregation gives per-partition subtotals; the driver
  *      turns them into per-partition starting offsets (P values for P
  *      partitions — bounded by the cluster, not the data) broadcast
  *      back as a literal map;
  *   3. a window PARTITIONED BY the stamped id computes the
  *      within-partition running sum in parallel; offset + running −
  *      value is the global exclusive prefix.
  *
  * Every partition's window group is ~|rows|/P — the cumsum
  * parallelizes, at the cost of one extra narrow aggregation pass.
  * This is the implemented form of the scale note on
  * `llm_pack_sequences` (whose per-language windows are fine until one
  * language dominates the corpus).
  */
object PrefixSum {

  /** Adds `outCol` = exclusive prefix sum of `valueCol` in the total
    * order given by `orderCols` (which MUST be a total order — ties
    * split arbitrarily across range-partition boundaries and would
    * make the prefix nondeterministic). `valueCol` must be integral
    * (subtotals are read back as longs; an exact integer chain is also
    * what makes the result order-independent).
    */
  def exclusivePrefixSum(df: DataFrame, orderCols: Seq[Column],
                         valueCol: Column, outCol: String,
                         numPartitions: Int = 0): DataFrame = {
    val p = if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    // Eager local checkpoint, not persist: the stamped __pid must be
    // stable between the subtotal collect and the final window (a
    // recompute could re-sample range boundaries), and a cache entry
    // would leak — library callers never see the frame to unpersist
    // it. Checkpointed partitions are freed by the ContextCleaner once
    // the returned frame (whose lineage pins them) is dropped.
    // The INPUT rides a persist across exactly two jobs (r15): the
    // RangePartitioner's boundary-sampling pass and the eager
    // checkpoint each compute `df` in full, so an expensive child
    // (rel_hdr_quantiles' corpus-scan histogram: measured 3.3 → 18.3
    // executor-CPU-s when this double-compute shipped un-persisted)
    // runs twice. Released the moment the checkpoint materializes —
    // nothing leaks to the caller, and the checkpoint carries all
    // later consumers (guide §5: persist the frame a multi-job
    // operator re-reads, scoped to the operator). A caller that cached
    // `df` itself keeps its entry: `storageLevel` is the CacheManager
    // lookup, and only an entry made here is released here.
    val ownCache = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownCache) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sorted =
      try {
        df
          .repartitionByRange(p, orderCols: _*)
          .sortWithinPartitions(orderCols: _*)
          .withColumn("__pid", spark_partition_id())
          .localCheckpoint(true)
      } finally if (ownCache) df.unpersist(false)
    // P subtotal rows to the driver — bounded by partition count.
    val subtotals = sorted.groupBy(col("__pid"))
      .agg(sum(valueCol).as("__sub"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until p).map { pid =>
        val o = pid -> acc
        acc += subtotals.getOrElse(pid, 0L)
        o
      }.toMap
    }
    val offLit = map(offsets.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    sorted
      .withColumn(outCol,
        element_at(offLit, col("__pid")) + sum(valueCol).over(w) - valueCol)
      .drop("__pid")
  }
}
