package graft.util

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** The engine's one distributed prefix scan — the scale-safe replacement
  * for `Window.orderBy` without a partition key (which Spark plans as ONE
  * task holding the whole input). Every dense id, global rank and ordered
  * running total (doc ids, sequence packing, token budgets, global
  * quantiles, crawl apportionment) is this scan.
  *
  * Contract:
  *  - `sort` MUST be a total order (include a unique tiebreaker): values
  *    within a run of equal keys would otherwise depend on which range
  *    partition the sampler sent them to.
  *  - The output column is the EXCLUSIVE running sum of `weight` (a
  *    non-null, non-negative long) in `sort` order: the first row gets 0,
  *    row i the sum of rows 0..i−1. A weight of 1 makes it the 0-based
  *    rank ([[zipWithRank]]).
  *  - Shape: one range shuffle + in-partition sort; the range partition
  *    id is stamped INTO THE DATA after the exchange and the sorted rows
  *    are persisted. Phase 1 reduces each partition to one (pid, sum) row
  *    with a no-shuffle map — the only driver transit, P rows whatever the
  *    data size. Phase 2 broadcasts the exclusive offsets and re-seeds the
  *    running value at every pid change IN THE DATA, never from
  *    `TaskContext`: a downstream `coalesce` that fuses phase 2 into one
  *    task would see the coalesced partition id and mis-seed every range.
  *  - [[prefixSum]] and [[zipWithRank]] pin the result with an eager
  *    `localCheckpoint` and drop the sorted cache, so an eviction can never
  *    recompute the range partitioning with resampled boundaries under
  *    stale offsets.
  *  - [[scan]] is the unpinned form, only for [[graft.index.IndexBuild]]:
  *    a `BuiltIndex` owns its cache lifetime (`release()` drops every RDD
  *    it pinned), so it takes the lazy result plus the persisted sorted
  *    input and persists what it keeps itself.
  */
object GlobalRank {

  /** An unpinned scan: the lazy `result` (input columns + the prefix
    * column), the persisted range-sorted input it streams, and the total
    * weight. */
  private[graft] final case class Scan(result: DataFrame, sorted: DataFrame, total: Long)

  /** Append a 0-based global `rankCol` to `df` ordered by `sort`. */
  def zipWithRank(df: DataFrame, sort: Seq[Column], rankCol: String = "rank",
                  parts: Int = 0): DataFrame =
    prefixSum(df, sort, lit(1L), rankCol, parts)

  /** Append `outCol` = the exclusive running sum of `weight` in `sort`
    * order; the result is pinned. `parts` range partitions (0 = the
    * default parallelism). */
  def prefixSum(df: DataFrame, sort: Seq[Column], weight: Column, outCol: String,
                parts: Int = 0): DataFrame = {
    val s = scan(df, sort, weight, outCol, parts)
    val pinned = s.result.localCheckpoint()
    s.sorted.unpersist()
    pinned
  }

  private[graft] def scan(df: DataFrame, sort: Seq[Column], weight: Column,
                          outCol: String, parts: Int): Scan = {
    val spark = df.sparkSession
    import spark.implicits._
    require(!df.columns.contains(outCol), s"column $outCol already exists")
    val p = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val n = df.columns.length
    // weight and pid are stamped AFTER the exchange: the shuffle moves
    // only the input's own columns
    val sorted = df
      .repartitionByRange(p, sort: _*)
      .sortWithinPartitions(sort: _*)
      .select(col("*"), weight.cast("long").as("__w"), spark_partition_id().as("__pid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // phase 1: one (pid, weight sum) row per partition; range partition
    // ids are ordered by key range, so pid order IS sort order
    val sums = sorted.select($"__pid", $"__w").as[(Int, Long)].mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var cur = -1; var s = 0L
      for ((pid, w) <- it) {
        require(w >= 0, s"prefix-scan weight must be non-negative, got $w")
        if (pid != cur) { if (cur >= 0) out += ((cur, s)); cur = pid; s = 0L }
        s += w
      }
      if (cur >= 0) out += ((cur, s))
      out.iterator
    }.collect().sortBy(_._1)
    val offsets = new Array[Long](p)
    var total = 0L
    for ((pid, s) <- sums) { offsets(pid) = total; total += s }
    val ob = spark.sparkContext.broadcast(offsets)
    // phase 2: the running value re-seeds at every pid change in the data
    val outSchema = df.schema.add(outCol, LongType, nullable = false)
    val result = sorted.mapPartitions { it =>
      var cur = -1; var run = 0L
      it.map { r =>
        val pid = r.getInt(n + 1)
        if (pid != cur) { cur = pid; run = ob.value(pid) }
        val vals = new Array[Any](n + 1)
        var i = 0
        while (i < n) { vals(i) = r.get(i); i += 1 }
        vals(n) = run
        run += r.getLong(n)
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }(Encoders.row(outSchema))
    Scan(result, sorted, total)
  }
}
