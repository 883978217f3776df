package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Uncooperative federated search (CORI merge, Callan 1995/2000) — the
  * OTHER sharded serving model, complementing [[ShardedSearch]] (q104):
  * there, one owner computes global statistics and shard results are
  * rank-identical to an unsharded index; here, shards are independent
  * collections that publish NO global stats (the metasearch scenario),
  * so each selected shard scores with its own local BM25 statistics and
  * the broker merges by belief-weighted scores,
  *
  *   final(q, d, c) = belief(q, c) · bm25_c(q, d)
  *
  * with belief from [[ShardSelect]]'s CORI resource selection over the
  * top-R shards only. Shard-local idf genuinely differs from global idf
  * — that skew is the model's defining property, and the belief weight
  * is the standard correction.
  *
  * Determinism contract: beliefs are [[ShardSelect.cori]]'s 6dp-rounded
  * outputs (selection ranked on the raw fold, as there); the BM25
  * algebra is [[Bm25]]'s Column form (q142's) with shard-local
  * (nd, avgdl, df);
  * per-(query, shard, url) sums absorb association slack at the shared
  * 6dp rounding; final order (score desc, url asc) per query.
  *
  * Scale shape: shard-local stats are map-side-combined aggs keyed by
  * (shard[, term]); only QUERY-TERM postings of SELECTED shards join
  * anything; the merge window is per-query over ≤ R·|candidates| rows.
  * Statistics never leave their shard grouping — no global stats job
  * exists in this model at all.
  */
object FederatedSearch {

  /** @param triples (url, term, tf) posting triples
    * @param shardOf expression mapping `url` to its shard id
    * @param queries (query_id, terms)
    * @param topR    shards consulted per query (CORI-selected)
    * @param k       results per query
    * @return (query_id, shard, rank, url, score) — score 6dp round-even */
  def topK(spark: SparkSession, triples: DataFrame, shardOf: Column,
           queries: Seq[(Int, Seq[String])], topR: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import spark.implicits._

    val sel = ShardSelect.cori(spark, triples, shardOf, queries, topR)
      .select(col("query_id"), col("shard"), col("score").as("belief"))
    val p = triples.select(shardOf.as("shard"), col("url"), col("term"),
      col("tf"))

    val docs = p.groupBy(col("shard"), col("url"))
      .agg(sum(col("tf")).cast("long").as("dl"))
    val sstats = docs.groupBy(col("shard"))
      .agg(count(lit(1)).cast("double").as("nd"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val sdict = p.groupBy(col("shard"), col("term"))
      .agg(count(lit(1)).cast("long").as("df"))

    val qterms = queries.flatMap { case (qid, ts) =>
      ts.distinct.map(t => (qid, t))
    }.toDF("query_id", "term")
    val cand = p.join(broadcast(qterms), Seq("term"))
      .join(sel, Seq("query_id", "shard"))
      .join(sdict, Seq("shard", "term"))
      .join(docs, Seq("shard", "url"))
      .join(broadcast(sstats), Seq("shard"))

    val c = Bm25.contribCol(col("avgdl"), Bm25.idfCol(col("nd")))
    val fin = cand.select(col("query_id"), col("shard"), col("url"),
        col("belief"), c.as("c"))
      .groupBy(col("query_id"), col("shard"), col("url"), col("belief"))
      .agg(sum(col("c")).as("s"))
      .select(col("query_id"), col("shard"), col("url"),
        (col("belief") * col("s")).as("f"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("f").desc, col("url").asc)
    fin.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("shard"), col("rank"), col("url"),
        (bround(col("f") * 1e6, 0) / 1e6).as("score"))
  }
}
