package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.{RefScore, ShardedSearch}

/** Static index pruning (Carmel et al., SIGIR 2001 shape): keep only the
  * top ⌈frac · |postings(t)|⌉ postings of every term, ordered by the
  * reference scorer's own impact order (tf desc, url asc — the scorer's
  * per-posting score is monotone in tf within a term, so a tf-ordered
  * prefix IS the impact prefix). Serving then runs over an index a
  * constant factor smaller; collection statistics (df, max-tf —
  * [[ShardedSearch.statsOf]]) are FROZEN from the full corpus before
  * pruning, the standard design: pruning must shrink the posting tails,
  * not shift every surviving score by changing IDF. Scores are the
  * [[RefScore]] rule, through [[ShardedSearch.scoreCandidates]].
  *
  * Scale shape: one window shuffle on term (the same key the posting build
  * already shuffles on), counts map-side-combined; no driver transit. At
  * 10¹² docs this is the lever that turns a disk-bound tail-term scan into
  * a cache-resident one — the pruned index is what the latency tier mmaps.
  */
object StaticPrune {

  /** Prune a postings table (url, term, tf) to the per-term impact prefix
    * of fraction `frac` (at least one posting per term survives — ceil). */
  def prune(triples: DataFrame, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1], got $frac")
    withKept(triples, frac).where(col("kept")).select("url", "term", "tf")
  }

  /** `triples` plus `kept`: the posting is in its term's impact prefix of
    * fraction `frac` (tf desc, url asc). */
  private def withKept(triples: DataFrame, frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    triples
      .withColumn("rnk", row_number().over(
        Window.partitionBy("term").orderBy(col("tf").desc, col("url").asc)))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("kept", col("rnk") <= ceil(lit(frac) * col("cnt")))
  }

  /** Reference-scored top-k over the pruned index, with full-corpus stats:
    * candidates come from the pruned posting lists, df/max-tf from the
    * unpruned `triples`. Returns (url, score) in rank order. */
  def topK(spark: SparkSession, triples: DataFrame, numDocs: Long,
           query: String, frac: Double, k: Int = RefScore.Cap): DataFrame = {
    val weights = RefScore.termWeights(query)
    val terms = weights.map(_._1)
    ShardedSearch.scoreCandidates(
      prune(triples.where(col("term").isin(terms: _*)), frac),
      ShardedSearch.statsOf(triples, terms), weights, numDocs, k)
  }

  /** [[topK]] plus a PER-RESULT EXACTNESS CERTIFICATE — the safety rail
    * that makes pruned serving deployable: a document the pruned index
    * never retrieved can score at most B = Σ_t bound(t), where bound(t)
    * is the reference per-posting score of term t's highest-impact
    * PRUNED-AWAY posting (pruning cuts a tf-ordered prefix, so the first
    * dropped posting bounds all dropped ones). A result row with
    * score ≥ B therefore provably belongs to the true top set —
    * `certified = true`; rows under B might be displaced by an unseen
    * document. (Retrieved documents' scores are pruned-index scores by
    * definition — a doc can lose a pruned tail posting of one term; the
    * certificate is about SET membership of unretrieved docs.)
    *
    * B folds in query-term order on the driver from one per-term
    * aggregate row (stats-service-sized), bit-identically to the oracle's
    * qidx-ordered list_reduce. Terms the scorer drops add nothing, and
    * neither does a term with idf −∞ (n < df): its postings can only lower
    * a score, so its bound is that of a doc without the term, 0. Returns
    * (url, score, certified). */
  def certifiedTopK(spark: SparkSession, triples: DataFrame, numDocs: Long,
                    query: String, frac: Double, k: Int = RefScore.Cap): DataFrame = {
    val weights = RefScore.termWeights(query)
    import spark.implicits._
    if (weights.isEmpty)
      return spark.emptyDataset[(String, Double, Boolean)]
        .toDF("url", "score", "certified")
    val terms = weights.map(_._1)
    val tq = triples.where(col("term").isin(terms: _*))
    val dict = ShardedSearch.statsOf(triples, terms)
    // highest tf among DROPPED postings per term (null when nothing
    // dropped), one tiny row per query term
    val dropped = withKept(tq, frac).where(!col("kept"))
      .groupBy("term").agg(max(col("tf")).as("tf_drop"))
    val rows = dict.join(dropped, Seq("term"), "left").collect()
    val stats = ShardedSearch.termStats(rows, numDocs)
    val tfDrop = rows.flatMap(r =>
      Option(r.get(3)).map(td => r.getString(0) -> td.asInstanceOf[Number].intValue())).toMap
    // B: qidx-ordered fold of per-term drop bounds
    var b = 0.0
    for ((t, f) <- weights; (idf, maxTf) <- stats.get(t); td <- tfDrop.get(t)
         if idf > 0.0)
      b += RefScore.base(td, maxTf, idf) * f
    ShardedSearch.scoreCandidates(prune(tq, frac), dict, weights, numDocs, k)
      .withColumn("certified", col("score") >= lit(b))
  }
}
