package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Language-model retrieval with Dirichlet prior smoothing (Zhai & Lafferty,
  * SIGIR 2001) — the third classic scoring family next to the reference's
  * TF-normalized cosine scorer ([[Searcher]]) and BM25:
  *
  *   score(q,d) = Σ_t  c(t,q) · ln( (tf(t,d) + μ·cf_t/|C|) / (dl_d + μ) )
  *
  * summed over the query's terms — INCLUDING terms absent from d, whose
  * tf = 0 row still contributes the background probability μ·cf/|C|
  * (that cross-term is what separates an LM scorer from a plain overlap
  * scorer and why the grid below is candidates × query terms, not the
  * matching postings alone). Query terms with zero collection frequency
  * are dropped: they add the same −∞-bound constant to every document
  * and carry no rank signal.
  *
  * Determinism contract: every input count is an exact integer; the only
  * floating-point operations are one division per (term) for the
  * background mass — pinned as (μ·cf)/|C| — one per (doc, term) for the
  * ratio, the ln, and the final sum, which the DuckDB oracle replays with
  * identical literals (`2000e0`, not decimal literals) and absorbs the
  * association-order slack with the shared round_even-6dp convention
  * (q31 precedent).
  *
  * Scale shape: collection statistics are two map-side-combined aggs
  * (cf per query term — lexicon-bounded, |C| — one scalar); candidates
  * come from the filtered postings (predicate pushdown on term); the
  * scored grid is |candidates| × |q| rows of ids and longs, never text;
  * top-k is TakeOrderedAndProject, never a global sort. Nothing here is
  * corpus-sized on the driver.
  */
object LmRetrieval {

  /** Parse a free-text query into (term, multiplicity) pairs with the
    * reference tokenizer's surface forms (no stem expansion — an LM over
    * surface statistics; [[RefScore.termWeights]] owns the stem-expanded
    * family). Order pinned (term asc) so generated oracles enumerate
    * identically. */
  def queryTerms(query: String): Seq[(String, Int)] =
    graft.text.Text.parseQuery(query)
      .groupBy(identity).map { case (t, g) => (t, g.size) }
      .toSeq.sortBy(_._1)

  /** Dirichlet-smoothed query-likelihood top-k over (url, term, tf)
    * posting triples. Returns (rank, url, score) — score rounded 6dp
    * round-even, order (score desc, url asc). */
  def dirichletTopK(spark: SparkSession, triples: DataFrame,
                    terms: Seq[(String, Int)], mu: Double, k: Int): DataFrame = {
    require(mu > 0, s"mu must be positive: $mu")
    require(terms.nonEmpty, "need at least one query term")
    import spark.implicits._

    val q = terms.toDF("term", "qtf")
    // collection stats: |C| is ONE scalar; cf only for the query's terms
    // (broadcast-sized by construction)
    val totalTokens = triples.agg(sum(col("tf")).cast("double")).head.getDouble(0)
    val cf = triples.join(broadcast(q.select("term")), Seq("term"))
      .groupBy(col("term")).agg(sum(col("tf")).cast("long").as("cf"))
    // inner-join against cf drops zero-cf query terms (see scaladoc)
    val qstats = broadcast(q.join(cf, Seq("term")))

    val matching = triples.join(qstats.select("term"), Seq("term"))
      .select(col("url"), col("term"), col("tf"))
    val cand = matching.select(col("url")).distinct()
    val dl = triples.join(cand, Seq("url"), "left_semi")
      .groupBy(col("url")).agg(sum(col("tf")).cast("long").as("dl"))

    val grid = cand.crossJoin(qstats)
      .join(matching, Seq("url", "term"), "left")
      .na.fill(0L, Seq("tf"))
    val contrib = col("qtf").cast("double") *
      log((col("tf").cast("double") +
            lit(mu) * col("cf").cast("double") / lit(totalTokens)) /
          (col("dl").cast("double") + lit(mu)))
    val scored = grid.join(dl, Seq("url"))
      .select(col("url"), contrib.as("c"))
      .groupBy(col("url")).agg(sum(col("c")).as("score"))

    val top = scored.orderBy(col("score").desc, col("url").asc).limit(k)
      .collect().toIndexedSeq
    spark.createDataset(top.zipWithIndex.map { case (r, i) =>
      (i + 1, r.getString(0), math.rint(r.getDouble(1) * 1e6) / 1e6)
    }).toDF("rank", "url", "score")
  }
}
