package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics law fits — the two classic power laws an index
  * capacity-planner reads off a crawl before sizing anything:
  *
  *   Zipf:  cf(rank) ≈ C · rank^(−s)   — fit s over the top-R terms
  *   Heaps: V(n)     ≈ K · n^β         — vocabulary growth over doc prefixes
  *
  * both by ordinary least squares in log-log space (slope = Zipf's −s /
  * Heaps' β, intercept = ln C / ln K). Zipf's slope prices the posting-list
  * skew the block-max and salted-join paths defend against; Heaps' β says
  * how fast the term dictionary (and the open-vocabulary id space) grows
  * with the crawl. The Heaps points use the DOC-PREFIX variant (docs in
  * pinned url order, vocabulary size after each D/cp prefix) — the
  * token-stream variant at 100 TB would serialize on a single token
  * order; the doc variant is embarrassingly parallel and fits the same β.
  *
  * Determinism contract: term ranks are pinned (cf desc, term asc); doc
  * indices come from [[graft.util.GlobalRank]] (url is the
  * unique total order); OLS uses the computational formula
  * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) with the identical literal shape in
  * the oracle, unordered double sums absorbed by round-even 6dp.
  *
  * Scale shape: cf is one map-side-combined agg; top-R is TakeOrdered
  * (the row_number window runs over R rows, never the lexicon); doc
  * indexing is the [[graft.util.GlobalRank]] rank;
  * first-occurrence is a min agg; checkpoint vocabulary counts shuffle
  * (term, first) longs against a broadcast checkpoint list. Nothing
  * data-sized transits the driver and there is no single-task sort.
  */
object CorpusLaws {

  private def olsFit(points: DataFrame, law: String): DataFrame = {
    val s = points.agg(
      count(lit(1)).cast("long").as("np"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val nD = col("np").cast("double")
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    val icept = (col("sy") - slope * col("sx")) / nD
    s.select(lit(law).as("law"), col("np").as("n_points"),
      (bround(slope * 1e6, 0) / 1e6).as("slope"),
      (bround(icept * 1e6, 0) / 1e6).as("intercept"))
  }

  /** Zipf log-log OLS over the top-R terms by collection frequency. */
  def zipfFit(triples: DataFrame, topR: Int): DataFrame = {
    require(topR >= 2, s"topR must be >= 2: $topR")
    val cfs = triples.groupBy(col("term"))
      .agg(sum(col("tf")).cast("long").as("cf"))
      .orderBy(col("cf").desc, col("term").asc).limit(topR)
    // row_number over ≤ topR rows (constant-bounded), not the lexicon
    val ranked = cfs.withColumn("rnk",
      row_number().over(Window.orderBy(col("cf").desc, col("term").asc)))
    olsFit(ranked.select(log(col("rnk").cast("double")).as("x"),
      log(col("cf").cast("double")).as("y")), "zipf")
  }

  /** Heaps log-log OLS over `cp` doc-prefix checkpoints (docs in url
    * order, checkpoint j at ⌊j·D/cp⌋ docs). */
  def heapsFit(spark: SparkSession, triples: DataFrame, cp: Int): DataFrame = {
    require(cp >= 2, s"need at least 2 checkpoints: $cp")
    import spark.implicits._
    val docs = graft.util.GlobalRank.zipWithRank(
      triples.select(col("url")).distinct(), Seq(col("url").asc), "rank0")
      .select(col("url"), (col("rank0") + 1L).as("idx"))
    val d = docs.count()
    require(d >= 1, "empty corpus")
    val cps = (1 to cp).map(j => j.toLong * d / cp).distinct.filter(_ >= 1L)
    val firsts = triples.join(docs, Seq("url"))
      .groupBy(col("term")).agg(min(col("idx")).cast("long").as("first"))
    val vAt = firsts.join(broadcast(cps.toDF("n")), col("first") <= col("n"))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("v"))
    olsFit(vAt.select(log(col("n").cast("double")).as("x"),
      log(col("v").cast("double")).as("y")), "heaps")
  }

  /** Both fits as one (law, n_points, slope, intercept) table. */
  def fits(spark: SparkSession, triples: DataFrame,
           zipfTopR: Int, heapsCp: Int): DataFrame =
    zipfFit(triples, zipfTopR)
      .unionAll(heapsFit(spark, triples, heapsCp))
      .orderBy(col("law"))
}
