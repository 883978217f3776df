package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PMI query expansion — the data-driven synonym feed for the serving
  * tiers ([[SpellCorrect]] fixes typos, [[Reformulations]] mines behavior;
  * this mines the CORPUS): for each surface query term, the co-occurring
  * vocabulary term with the highest pointwise mutual information joins
  * the query at a discounted weight, and the expanded weight set runs
  * through the standard reference scorer.
  *
  * Determinism across engines: candidates are RANKED by the exact
  * rational n_pairs / (df₁·df₂) — PMI = ln(n·x) is monotone in that
  * ratio, and integer-derived IEEE division is bit-identical in Spark and
  * the SQL oracle, where ranking by the ln itself could flip an argmax on
  * a 1-ulp transcendental difference.
  *
  * Scale shape: co-occurrence joins QUERY-TERM presence rows (tiny side)
  * against the presence table on url — a broadcast of ≤ |query| · df
  * rows is wrong at head-term df, so the join stays a shuffle and AQE
  * picks the strategy; counts map-side combine; only the per-surface-term
  * picks (≤ |query| rows) transit the driver, as a stats-service lookup.
  */
object ExpandedSearch {

  /** Expanded reference-scored top-k: base weights from
    * [[RefScore.termWeights]], plus per surface term its top PMI
    * co-occurring term (n_pairs ≥ minPairs, not already in the query) at
    * `expandFactor`, qidx continuing after the base weights in surface
    * order, first pick wins on duplicates. Returns (url, score) ranked. */
  def topK(spark: SparkSession, triples: DataFrame, numDocs: Long,
           query: String, minPairs: Long = 5, expandFactor: Double = 0.5,
           k: Int = 200): DataFrame = {
    import spark.implicits._
    val base = RefScore.termWeights(query)
    if (base.isEmpty)
      return spark.emptyDataset[(String, Double)].toDF("url", "score")
    val surface = graft.text.Text.parseQuery(query).distinct.filter(_.nonEmpty)
    val baseTerms = base.map(_._1).toSet

    val presence = triples.select(col("url"), col("term"))
    val dfs = triples.groupBy("term").agg(count(lit(1)).as("df"))
    val qpres = presence.where(col("term").isin(surface: _*))
      .select(col("url"), col("term").as("qterm"))
    val picks = qpres.join(presence, "url")
      .where(col("term") =!= col("qterm") && !col("term").isin(baseTerms.toSeq: _*))
      .groupBy(col("qterm"), col("term"))
      .agg(count(lit(1)).as("n_pairs"))
      .where(col("n_pairs") >= minPairs)
      .join(dfs.select(col("term").as("qterm"), col("df").as("c1")), "qterm")
      .join(dfs.select(col("term"), col("df").as("c2")), "term")
      .withColumn("ratio",
        col("n_pairs").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qterm")
          .orderBy(col("ratio").desc, col("term").asc)))
      .where(col("rnk") === 1)
      .select("qterm", "term")
      .collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // expansion terms in surface order, first pick wins on duplicates
    val seen = collection.mutable.LinkedHashSet.empty[String]
    surface.foreach(t => picks.get(t).foreach(seen.add))
    val weights = base ++ seen.toSeq.map(t => (t, expandFactor))

    val terms = weights.map(_._1)
    ShardedSearch.scoreCandidates(triples.where(col("term").isin(terms: _*)),
      ShardedSearch.statsOf(triples, terms), weights, numDocs, k)
  }
}
