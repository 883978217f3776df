package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rocchio pseudo-relevance feedback (Rocchio 1971, as used in classic
  * PRF pipelines): run the base BM25 query, treat the top-N results as
  * pseudo-relevant, mine expansion terms from them, and rescore the
  * corpus with the expanded weighted query —
  *
  *   w'(t) = α·qtf(t)                      for original terms
  *   w'(t) = β · (idf_t · Σ_{d∈top-N} tf(t,d)) / N   for expansion terms
  *   score'(q,d) = Σ_t w'(t) · bm25(t,d)
  *
  * with the top-E expansion terms by (weight desc, term asc), original
  * terms excluded from the expansion pool. [[graft.ml.Pmi]] (q114) is the
  * co-occurrence-statistics expansion; this is the feedback-document one.
  *
  * Determinism contract: feedback-doc selection ranks by the 6dp
  * round-even BM25 score with a url-asc tiebreak (raw-double near-ties
  * must not flip the feedback set between engines); each expansion
  * weight is (β·idf)·Σtf/N — the Σtf is an exact integer sum, so the
  * weight is three ordered fp ops the oracle replays literally; final
  * scores round 6dp per the shared convention.
  *
  * Scale shape: collection stats are map-side aggs; phase-1 scoring
  * touches only the query's postings (pushed-down term filter); the
  * expansion mine is one semi-join against N urls plus a lexicon-bounded
  * agg; the driver sees N urls and |q|+E weighted terms, never data; the
  * rescore touches only the expanded term set's postings; both top-ks
  * are TakeOrdered, never a global sort.
  */
object Rocchio {

  /** PRF-expanded BM25 top-k over (url, term, tf) posting triples.
    * Returns (rank, url, score) — score rounded 6dp round-even, order
    * (score desc, url asc). Also exposes the chosen expansion terms via
    * the second return value (weight 6dp-rounded) for oracle replay. */
  def prfTopK(spark: SparkSession, triples: DataFrame,
              terms: Seq[(String, Int)], alpha: Double, beta: Double,
              nFeedback: Int, nExpand: Int, k: Int): (DataFrame, Seq[(String, Double)]) = {
    require(terms.nonEmpty, "need at least one query term")
    require(nFeedback >= 1 && nExpand >= 0 && k >= 1,
      s"bad sizes: nFeedback=$nFeedback nExpand=$nExpand k=$k")
    import spark.implicits._

    val docs = triples.groupBy(col("url"))
      .agg(sum(col("tf")).cast("long").as("dl")).persist()
    val Array(ndL, dlSum) = docs.agg(count(lit(1)), sum(col("dl")))
      .head.toSeq.map(_.toString.toLong).toArray
    val nd = ndL.toDouble
    val avgdl = dlSum.toDouble / nd

    def idfCol = Bm25.idfCol(lit(nd))
    def bm25c = Bm25.contribCol(lit(avgdl), idfCol)

    /** Weighted BM25 over a (term, w) table: Σ w·c per url, 6dp-rounded
      * rank (desc, url asc), top `n` collected (n rows only). */
    def score(weights: DataFrame, n: Int): Seq[(String, Double)] = {
      val df = triples.join(broadcast(weights.select("term")), Seq("term"))
        .groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
      triples.join(broadcast(weights), Seq("term"))
        .join(broadcast(df), Seq("term"))
        .join(docs, Seq("url"))
        .select(col("url"), (col("w") * bm25c).as("c"))
        .groupBy(col("url")).agg(sum(col("c")).as("s"))
        .select(col("url"), (bround(col("s") * 1e6, 0) / 1e6).as("score"))
        .orderBy(col("score").desc, col("url").asc).limit(n)
        .as[(String, Double)].collect().toIndexedSeq
    }

    val q = terms.map { case (t, m) => (t, m.toDouble) }.toDF("term", "w")
    val feedback = score(q, nFeedback).map(_._1)

    // expansion mine: exact integer Σtf per term over the feedback docs,
    // then (β·idf)·Σtf/N — original terms excluded from the pool
    val fb = spark.createDataset(feedback).toDF("url")
    val pool = triples.join(broadcast(fb), Seq("url"))
      .groupBy(col("term")).agg(sum(col("tf")).cast("long").as("stf"))
      .where(!col("term").isin(terms.map(_._1): _*))
    val dfAll = triples.join(pool.select("term"), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val expansion = pool.join(dfAll, Seq("term"))
      .select(col("term"),
        (lit(beta) * idfCol * col("stf").cast("double") / lit(nFeedback.toDouble))
          .as("w"))
      .orderBy(col("w").desc, col("term").asc).limit(nExpand)
      .as[(String, Double)].collect().toIndexedSeq

    val finalWeights =
      terms.map { case (t, m) => (t, alpha * m) } ++ expansion
    val top = score(finalWeights.toDF("term", "w"), k)
    docs.unpersist()
    val out = spark.createDataset(top.zipWithIndex.map { case ((u, s), i) =>
      (i + 1, u, s)
    }).toDF("rank", "url", "score")
    (out, expansion.map { case (t, w) => (t, math.rint(w * 1e6) / 1e6) })
  }
}
