package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
  * 1998) — similarity-based result diversification, the complement of the
  * host-collapse pass ([[Diversify]], q105): greedily re-rank a query's
  * candidate set so each pick trades relevance against redundancy with
  * what is already picked,
  *
  *   next = argmax_{d ∉ S} [ λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) ]
  *
  * (max over the empty set = 0, so the first pick is the relevance
  * leader; ties score-desc then doc-id-asc). Near-duplicate results that
  * both match the query get separated — the classic SERP/RAG-context
  * diversity pass.
  *
  * Determinism contract: rel and sim are RAW doubles computed once and
  * dumped; the greedy consumes them verbatim on both sides (engine and
  * oracle), every step score is three fp ops with pinned literal order
  * (λ·rel − (1−λ)·maxsim), and only the EMITTED score is rounded 6dp —
  * selection always compares raw doubles, identically.
  *
  * Scale shape: the greedy is inherently sequential per query but
  * constant-bounded (N candidates, k picks) — it runs inside a cogroup
  * task per query_id, so queries parallelize and no per-query state ever
  * transits the driver; candidate scoring upstream is the codegen'd
  * cosine path (q25's), and the sim matrix is N²-per-query ids and
  * doubles, never vectors.
  */
object Mmr {

  /** Greedy MMR over per-query candidates.
    * @param rel  (query_id, doc_id, rel) — candidate relevance, raw
    * @param sims (query_id, a, b, sim) — pairwise candidate similarity
    *             (either direction; missing pairs count as 0)
    * @return (query_id, pos, doc_id, mmr) — pos 1..k, mmr rounded 6dp */
  def rerank(spark: SparkSession, rel: DataFrame, sims: DataFrame,
             lambda: Double, k: Int): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    require(k >= 1, s"k must be >= 1: $k")
    import spark.implicits._

    val relDs = rel.select(col("query_id").cast("int"),
      col("doc_id").cast("long"), col("rel").cast("double"))
      .as[(Int, Long, Double)].groupByKey(_._1)
    val simDs = sims.select(col("query_id").cast("int"),
      col("a").cast("long"), col("b").cast("long"), col("sim").cast("double"))
      .as[(Int, Long, Long, Double)].groupByKey(_._1)

    relDs.cogroup(simDs) { (qid, rels, simIt) =>
      val cands = rels.map(r => (r._2, r._3)).toArray
      val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]()
      simIt.foreach { s => sim((s._2, s._3)) = s._4; sim((s._3, s._2)) = s._4 }
      val picked = new scala.collection.mutable.ArrayBuffer[Long]()
      val out = new scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Double)]()
      var pos = 1
      while (pos <= k && picked.length < cands.length) {
        var found = false
        var bestDoc = 0L
        var bestScore = Double.NegativeInfinity
        cands.foreach { case (doc, r) =>
          if (!picked.contains(doc)) {
            var maxSim = 0.0
            var seen = false
            picked.foreach { p =>
              sim.get((doc, p)).foreach { v =>
                if (!seen || v > maxSim) { maxSim = v; seen = true }
              }
            }
            if (!seen) maxSim = 0.0
            val score = lambda * r - (1 - lambda) * maxSim
            if (score > bestScore || (score == bestScore && (!found || doc < bestDoc))) {
              bestScore = score; bestDoc = doc; found = true
            }
          }
        }
        // every unpicked candidate scoring NaN (NaN rel reaching the public
        // API) fails both comparisons and nothing is found; stop instead of
        // emitting a phantom row (unreachable from the q146 driver query,
        // which filters NaN rel upstream)
        if (!found) { pos = k + 1 }
        else {
          out += ((qid, pos, bestDoc, math.rint(bestScore * 1e6) / 1e6))
          picked += bestDoc
          pos += 1
        }
      }
      out.iterator
    }.toDF("query_id", "pos", "doc_id", "mmr")
  }
}
