package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Document-partitioned sharded serving — the way a real engine runs the
  * reference's query path (Backend.java:239-334) once one index stops
  * fitting one machine: the corpus is split into S shards by a url hash,
  * each shard generates its own per-term candidates LOCALLY (top-200 by
  * the reference's posting order, tf desc / url asc), and a merge pass
  * re-ranks the union of shard candidates into the global per-term top-200
  * before scoring. Global collection statistics (df, max-tf per term — the
  * reference scorer's IDF and TF-normalization inputs) are computed once
  * over the whole corpus and broadcast to every shard, exactly like a
  * production stats service: shard-local df would skew IDF per shard and
  * break rank identity.
  *
  * Correctness argument for the two-level candidate cut: the global top-200
  * of a term under a total order is contained in the union of per-shard
  * top-200s under the same order (each shard contributes at most 200 of the
  * global winners), so merge-then-rescore is IDENTICAL to the unsharded
  * scorer — ShardedSearchSpec asserts equality against the in-heap
  * [[Searcher]] and the driver oracle replays the unsharded SQL.
  *
  * Scale shape: the candidate windows shuffle once on (shard, term) and
  * once on term, but only QUERY-TERM postings ever move (the filter on the
  * broadcast term list is pushed into the scan); the dict agg is
  * map-side-combined; weights and stats join via broadcast. Nothing is
  * ever collected to the driver but the final ≤ k result rows.
  */
object ShardedSearch {

  /** Score candidate postings `(url, term, tf)` with the [[RefScore]] rule
    * against per-term stats `dict` `(term, df, max_tf)` computed over the
    * FULL corpus ([[statsOf]]). Applies the global per-term cap (tf desc,
    * url asc), the idf with its idf==0 drop, [[RefScore.baseCol]], the
    * per-query-term factor, and the query-order fold. Returns (url, score)
    * in rank order (score desc, url asc), ≤ k rows, raw double scores;
    * empty `weights` (an empty query) give the empty frame without a job.
    * Shared by [[topK]], [[ExpandedSearch]] and
    * [[graft.index.StaticPrune]].
    *
    * `dict` is QUERY-TERM-sized by contract (≤ a handful of rows — the
    * stats-service lookup of a real serving tier), so it is collected and
    * re-broadcast as per-term LITERALS: idf is computed on the driver by
    * [[RefScore.idf]], never by Spark's `log`. */
  private[graft] def scoreCandidates(candidates: DataFrame, dict: DataFrame,
                                     weights: Seq[(String, Double)],
                                     numDocs: Long, k: Int): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    if (weights.isEmpty)
      return spark.emptyDataset[(String, Double)].toDF("url", "score")
    val stats = termStats(dict.collect(), numDocs)
    val w = weights.zipWithIndex.flatMap { case ((t, f), i) =>
      stats.get(t).map { case (idf, maxTf) => (t, f, i, idf, maxTf) }
    }.toDF("term", "factor", "qidx", "idf", "max_tf")
    import org.apache.spark.sql.expressions.Window
    val perTerm = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("url").asc)
    candidates
      .join(broadcast(w), "term")
      .withColumn("rnk", row_number().over(perTerm))
      .where(col("rnk") <= RefScore.Cap)
      .withColumn("s", RefScore.baseCol * col("factor"))
      // per-url fold in QUERY-TERM order (qidx) — bit-identical to the
      // reference's sequential accumulation, immune to partition
      // reassociation (same shape as QueryOps.bm25TermOrderedFold)
      .groupBy("url")
      .agg(aggregate(sort_array(collect_list(struct(col("qidx"), col("s")))),
        lit(0.0d), (acc, x) => acc + x.getField("s")).as("score"))
      .orderBy(col("score").desc, col("url").asc)
      .limit(k)
  }

  /** Per-term global stats over the full postings table `(url, term, tf)`
    * → `(term, df, max_tf)` — ONE map-side-combined agg, restricted to the
    * query's terms (per-term stats depend only on that term's rows, so the
    * restriction is sound and keeps the scan term-pruned). The single stats
    * query of every triples-based reference tier. */
  private[graft] def statsOf(triples: DataFrame, terms: Seq[String]): DataFrame =
    triples.where(col("term").isin(terms: _*))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"))

  /** Collected [[statsOf]] rows (`term`, `df`, `max_tf` first) → term →
    * ([[RefScore.idf]], max_tf), with dropped terms (idf == 0) left out. */
  private[graft] def termStats(rows: Array[Row], numDocs: Long): Map[String, (Double, Int)] =
    rows.flatMap { r =>
      RefScore.idf(numDocs, r.getLong(1))
        .map(idf => r.getString(0) -> ((idf, r.getAs[Number](2).intValue())))
    }.toMap

  /** Reference-scored top-k over a document-partitioned index of `shards`
    * shards. `triples` is the postings table (url, term, tf); results are
    * rank-identical to the unsharded scorer. */
  def topK(spark: SparkSession, triples: DataFrame, numDocs: Long,
           query: String, shards: Int, k: Int = RefScore.Cap): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val weights = RefScore.termWeights(query)
    val terms = weights.map(_._1)
    import org.apache.spark.sql.expressions.Window
    // shard-local candidate generation: each shard ranks ITS postings of
    // each query term and sends at most the cap upward — the per-shard
    // serving work, modeled by the (shard, term) window partition
    val local = Window.partitionBy("shard", "term")
      .orderBy(col("tf").desc, col("url").asc)
    val candidates = triples
      .where(col("term").isin(terms: _*))
      .withColumn("shard", pmod(xxhash64(col("url")), lit(shards)))
      .withColumn("lrnk", row_number().over(local))
      .where(col("lrnk") <= RefScore.Cap)
      .select("url", "term", "tf")
    // merge + score: scoreCandidates re-applies the GLOBAL per-term cap
    // over the ≤ shards×cap merged candidates, then scores with the
    // broadcast global stats
    scoreCandidates(candidates, statsOf(triples, terms), weights, numDocs, k)
  }
}
