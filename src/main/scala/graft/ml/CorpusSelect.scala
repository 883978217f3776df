package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.GlobalRank

/** Token-budget corpus selection — the data-mixing primitive that turns
  * "train on the best N-billion tokens" into a deterministic job: rank
  * documents by a quality score (best first, id-asc ties) and keep the
  * maximal PREFIX whose cumulative token count stays within the budget.
  * Cumulative sums are monotone (token counts are non-negative), so
  * "prefix under budget" and "rows with inclusive cumsum ≤ budget" are the
  * same set — which is what makes the result expressible as one SQL window
  * for the oracle while the engine runs it distributed.
  *
  * Scale shape: the inclusive cumsum is [[graft.util.GlobalRank]]'s
  * exclusive prefix sum plus the row's own tokens, then a narrow filter —
  * never a global Window.orderBy, which would funnel the corpus through
  * ONE partition.
  */
object CorpusSelect {

  /** Select the best-quality prefix of `df` within `budget` total tokens.
    * Returns (idCol, quality, n_tokens, cum_tokens) for the selected rows,
    * cum_tokens inclusive. */
  def selectByBudget(df: DataFrame, idCol: String, quality: Column,
                     tokens: Column, budget: Long, parts: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val narrow = df.select(col(idCol).cast("long").as("id"),
      quality.cast("double").as("quality"),
      tokens.cast("long").as("n_tokens"))
    GlobalRank.prefixSum(narrow, Seq(col("quality").desc, col("id").asc),
        col("n_tokens"), "before", parts)
      .select(col("id").as(idCol), col("quality"), col("n_tokens"),
        (col("before") + col("n_tokens")).as("cum_tokens"))
      .filter(col("cum_tokens") <= budget)
  }
}
