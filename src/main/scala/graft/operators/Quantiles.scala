package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact grouped quantiles (percentile_cont semantics: linear interpolation
  * at rank `p·(n-1)+1`) as a distributed sort + rank-targeted interpolation.
  *
  * Why not Spark's built-in `percentile`: it is an ImperativeAggregate that
  * accumulates a value→count OpenHashMap per group on the reduce side —
  * memory ∝ distinct values per group, which on an open domain (prices,
  * latencies, doc lengths over 10^12 rows) is the whole column in one heap.
  * This implementation is the sort-based exact path instead: ONE shuffle
  * (window partition by group), a spillable per-group sort, and then only
  * the ≤2 rank-adjacent rows per (group, p) survive into a tiny final
  * aggregate — the per-executor state is bounded by the sort buffer, never
  * by group cardinality. For quick approximate monitoring at scale prefer
  * `approx_percentile` (t-digest, no sort); this is the exact twin an
  * offline eval needs.
  *
  * The interpolation is written as the explicit expression
  * `lo + (hi - lo) * (pos - floor(pos))` with `pos = p·(n-1)+1` so an
  * independent engine evaluating the same IEEE ops bit-matches it (the
  * DuckDB oracle does exactly that — no rounding slop needed).
  */
object Quantiles {

  /** One row per (group, p): columns (groupCol, p, q). */
  def exact(df: DataFrame, groupCol: String, valueCol: String,
            ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile fractions must be in [0,1]: $ps")
    val byGroup = Window.partitionBy("_g")
    val ranked = df
      .filter(col(valueCol).isNotNull) // percentile_cont ignores NULLs
      .select(col(groupCol).as("_g"), col(valueCol).cast("double").as("_v"))
      .withColumn("_rn", row_number().over(byGroup.orderBy(col("_v").asc)))
      .withColumn("_n", count(lit(1)).over(byGroup))
    interpolate(ranked, ps, col("_g")).withColumnRenamed("_g", groupCol)
  }

  /** (keys…, p, q) from rows carrying the value `_v`, its 1-based rank
    * `_rn` and the count `_n` within `keys`. Explodes the (tiny, literal)
    * p-list against each ranked row and keeps only the ≤2 rank-adjacent
    * rows per (keys, p) — the explode+filter fuses into one codegen stage,
    * so the intermediate is never materialized at |rows|·|ps|. */
  private def interpolate(ranked: DataFrame, ps: Seq[Double], keys: Column*): DataFrame =
    ranked
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("_pos", col("p") * (col("_n") - 1) + 1)
      .filter(col("_rn") === floor(col("_pos")) ||
        col("_rn") === ceil(col("_pos")))
      .groupBy(keys :+ col("p"): _*)
      .agg(
        max(when(col("_rn") === floor(col("_pos")), col("_v"))).as("_lo"),
        max(when(col("_rn") === ceil(col("_pos")), col("_v"))).as("_hi"),
        max(col("_pos")).as("_pos"))
      .select(keys :+ col("p") :+ (col("_lo") + (col("_hi") - col("_lo")) *
        (col("_pos") - floor(col("_pos")))).as("q"): _*)

  /** GLOBAL exact quantiles — the single-group case [[exact]] must not be
    * used for: `exact` sorts each group inside one window partition, so one
    * group = one task sorting the whole column. This variant takes global
    * ranks from [[graft.util.GlobalRank]] (ties among equal values rank in
    * any order: they interpolate to the same q) and rank-targets the
    * interpolation rows exactly as `exact` does. Returns one row per p:
    * (p, q). */
  def exactGlobal(df: DataFrame, valueCol: String,
                  ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile fractions must be in [0,1]: $ps")
    val spark = df.sparkSession
    val ranked = graft.util.GlobalRank.zipWithRank(
      df.filter(col(valueCol).isNotNull) // percentile_cont ignores NULLs
        .select(col(valueCol).cast("double").as("_v")),
      Seq(col("_v").asc), "_rk",
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val n = ranked.count()
    require(n > 0, "exactGlobal over an empty input")
    val res = interpolate(
      ranked.withColumn("_rn", col("_rk") + 1).withColumn("_n", lit(n)), ps)
    // a local |ps|-row result: nothing downstream re-reads the pinned ranks
    spark.createDataFrame(res.collect().toSeq.asJava, res.schema)
  }
}
