package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, log}

/** The ONE BM25 definition (k1 = 1.2, b = 0.75, BM25+ non-negative idf)
  * every single-field BM25 scorer in this package evaluates: the driver
  * tiers ([[Searcher.bm25TopK]], [[DirectSearcher.bm25TopK]]), the batch
  * twins ([[QueryOps.batchBm25TopK]], [[BlockMaxWand]]), [[Rocchio]] and
  * [[FederatedSearch]].
  *
  * Block-max early termination is exact only if the bound and the scored
  * contributions come from bit-identical arithmetic, so the scalar and its
  * Column twin keep one operation order; driver-side idf uses `math.log`,
  * Spark-side idf Spark's `log` (StrictMath), which may differ in the last
  * ulp — a scorer takes its idf from one side only. */
object Bm25 {
  final val K1 = 1.2
  final val B = 0.75

  def idf(numDocs: Long, df: Long): Double =
    math.log((numDocs - df + 0.5) / (df + 0.5) + 1.0)

  def contribution(idf: Double, tf: Int, dl: Long, avgdl: Double): Double =
    idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))

  /** [[idf]] as a Spark expression over a `df` column. */
  def idfCol(numDocs: Column): Column =
    log((numDocs - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))

  /** [[contribution]] as a Spark expression over `tf` and `dl` columns. */
  def contribCol(avgdl: Column, idf: Column = col("idf")): Column =
    idf * (col("tf") * lit(K1 + 1)) /
      (col("tf") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl") / avgdl))
}
