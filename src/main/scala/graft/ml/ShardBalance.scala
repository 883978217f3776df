package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Size-balanced training-shard assignment — the data-loader side of
  * sequence packing: N documents with wildly skewed token counts must
  * split into S shards whose token totals are close enough that no
  * data-parallel worker starves. Deterministic round-robin by size rank
  * (the sorted variant of LPT scheduling): rows ranked by (weight desc,
  * id asc), shard = (rank−1) mod S — consecutive heavy rows land on
  * different shards, and the per-shard total is within one maximum item
  * of the mean for the classic adversarial inputs.
  *
  * Scale shape: the global size rank is [[graft.util.GlobalRank]] —
  * never a single-partition Window.orderBy — and the assignment is a
  * narrow map over it.
  */
object ShardBalance {

  /** Assign every row a shard in [0, shards). Returns
    * (idCol, weight, shard). */
  def assign(df: DataFrame, idCol: String, weight: Column,
             shards: Int, parts: Int = 0): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val narrow = df.select(col(idCol).cast("long").as("id"),
      weight.cast("long").as("weight"))
    graft.util.GlobalRank
      .zipWithRank(narrow, Seq(col("weight").desc, col("id").asc),
        rankCol = "rank", parts = parts)
      .select(col("id").as(idCol), col("weight"),
        (col("rank") % shards).cast("int").as("shard"))
  }

  /** Per-shard load report: (shard, n_rows, total_weight). */
  def summary(assigned: DataFrame): DataFrame =
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col("weight")).as("total_weight"))
}
