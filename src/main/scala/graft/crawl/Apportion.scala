package graft.crawl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl-budget apportionment — split a fixed fetch budget across hosts
  * proportionally to their pending-url counts, by the largest-remainder
  * (Hamilton) method: every host gets floor(n·B/total), and the leftover
  * seats go to the largest remainders (host-asc on ties, so the result is
  * deterministic). Exactly-integer arithmetic throughout — the allocation
  * sums to the budget BY CONSTRUCTION, not by rounding luck, and the
  * DuckDB oracle replays it bit-for-bit.
  *
  * Shape: the input is the per-host COUNT dimension (one row per host —
  * the frontier itself never enters), so this is one scalar total, one
  * narrow projection, and the remainder rank from [[graft.util.GlobalRank]]
  * (a global window would hold every host in one task). Pairs with
  * [[Frontier]]: apportion decides how much each host may fetch this
  * cycle, Frontier decides which urls those slots go to.
  */
object Apportion {

  /** @param counts (keyCol, nCol) — pending work per key, n ≥ 0
    * @param budget  total slots to hand out
    * @return (key, n, base, extra, allocated) with sum(allocated) == min(budget-feasible) */
  def largestRemainder(counts: DataFrame, keyCol: String, nCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val row = counts.agg(
      coalesce(sum(col(nCol)), lit(0L)).as("t"),
      coalesce(max(col(nCol)), lit(0L)).as("m")).head()
    val total = row.getLong(0)
    val mx = row.getLong(1)
    if (total == 0L)
      return counts.select(col(keyCol), col(nCol).as("n"),
        lit(0L).as("base"), lit(0L).as("extra"), lit(0L).as("allocated"))
    // n·budget runs through Long — guard the overflow loudly rather than
    // silently mis-allocating (decimal is the escape hatch past ~10^18)
    require(mx <= Long.MaxValue / math.max(budget, 1L),
      s"n*budget overflows Long (max n = $mx, budget = $budget): use a decimal variant")
    // Column `/` is DOUBLE division even on longs — `div` is the integer one
    val withBase = counts.select(col(keyCol), col(nCol).as("n"))
      .withColumn("base", expr(s"(n * ${budget}L) div ${total}L"))
      .withColumn("rem", expr(s"(n * ${budget}L) % ${total}L"))
    val leftover = budget - withBase.agg(sum(col("base"))).head().getLong(0)
    graft.util.GlobalRank
      .zipWithRank(withBase, Seq(col("rem").desc, col(keyCol).asc), "_rk")
      .withColumn("extra", when(col("_rk") < leftover, 1L).otherwise(0L))
      .withColumn("allocated", col("base") + col("extra"))
      .select(col(keyCol), col("n"), col("base"), col("extra"), col("allocated"))
  }
}
