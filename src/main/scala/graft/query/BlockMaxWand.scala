package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.index.{BuiltIndex, IndexBuild, PostingBlock, Varbyte}

/** Distributed block-max WAND pruning for batch BM25 top-k — the north
  * star's "posting-list intersection with block-max WAND pruning expressed
  * as Dataset operations": the driver tier ([[Searcher.bm25TopK]]) walks
  * blocks in impact order with block-max early termination; THIS is its
  * distributed twin, where the same block-max bound prunes which blocks a
  * batch replay decodes and shuffles at all.
  *
  * Results are EXACT — identical rows AND bit-identical scores to the
  * exhaustive [[QueryOps.batchBm25TopK]] (both fold the shared
  * [[Bm25.contribCol]] values in the shared term-asc order), proved
  * by BlockMaxSpec and the same DuckDB oracle. Rank-safe two-phase scheme:
  *
  *  1. SEED (θ): decode only the single highest-impact block per term
  *     (impact order is free: blocks are stored tf-desc, so the max-`max_tf`
  *     block is the head block of some partition run). Per-query partial
  *     scores from seeds are lower bounds of final scores, so the k-th best
  *     partial is a valid WAND θ.
  *  2. PRUNE + SCORE: a block of term t is decoded for query q only if its
  *     upper bound ub = contrib(idf_t, block max_tf, corpus-min dl) plus the
  *     OTHER query terms' best-block bounds can reach θ(q) — i.e.
  *     ub ≥ ubMin(q,t) = θ(q) − Σ_{t'≠t} maxUb(t'). The per-term decode
  *     threshold is min over the term's queries (a tiny broadcast map), and
  *     the per-query fan-out filter applies the exact ubMin. Kept
  *     contributions fold into per-(query, doc) LOWER-BOUND scores.
  *  3. CANDIDATES + EXACT RESCORE: any doc's missing (pruned) mass for q is
  *     ≤ prunedPotential(q) = Σ_t min(ubMin(q,t), maxUb(t))⁺ — bounded by θ
  *     by construction, so docs with NO kept contribution can never reach
  *     the k-th final score. Visible docs with kept + potential ≥ k-th kept
  *     score form the candidate set (provably ⊇ the true top-k: kept ≥
  *     final − missing). Candidates are rescored from scratch over ALL
  *     their postings with the exhaustive fold — exact scores, exact ranks.
  *
  * FP discipline: kept/final folds add POSITIVE values in identical sorted
  * order, so kept ≤ final holds exactly in IEEE arithmetic (inserting a
  * positive addend never decreases a rounded left fold); the θ and k-th
  * comparisons, which do mix differently-associated sums, are slackened by
  * a 1e-9 relative margin — pruning a hair less, never wrongly.
  *
  * Scale story (the point of the exercise): the exhaustive twin decodes and
  * shuffles EVERY posting of every live term — on a web corpus the head
  * terms alone are billions of postings per query batch. Here phase 2's
  * shuffle is ∝ kept postings (head-term tail blocks die against θ), the
  * block decision needs only dictionary + block METADATA (term, max_tf — a
  * column-pruned scan that never touches the varbyte bytes), and phase 3
  * touches candidate rows only: the doc-id bytes of each block are scanned
  * for candidate membership (candidate ids ride a sorted broadcast array)
  * and tf bytes are decoded only on hit. Remaining seam, documented: block
  * doc-id RANGE metadata (min/max doc id per block) would let phase 3 skip
  * non-overlapping blocks without reading doc-id bytes; the current
  * PostingBlock schema carries no range column, and retrofitting it
  * threads through every tier's layout (DirectIndex shards, StreamIngest,
  * SegmentedIndex merges), so it stays a follow-up.
  */
object BlockMaxWand {

  /** Pruning diagnostics. `decodedBlocks`/`rescoreHitBlocks` are
    * accumulators — read them AFTER materializing the returned frame.
    * `seedBlocks` (= live term count) are decoded in phase 1 and not
    * counted in `decodedBlocks`. */
  final case class Diag(totalBlocks: Long, seedBlocks: Long,
                        decodedBlocks: LongAccumulator,
                        rescoreHitBlocks: LongAccumulator)

  /** Batch BM25 top-k with block-max pruning. Same contract as
    * [[QueryOps.batchBm25TopK]]: (query_id, rank, url, score — UNROUNDED),
    * rank ≤ k by (score desc, url asc), raw stored urls, queries with no
    * live term emit no rows. */
  def batchBm25WandTopK(spark: SparkSession, built: BuiltIndex,
                        queries: Seq[String], k: Int = 10): DataFrame =
    instrumented(spark, built, queries, k)._1

  /** As [[batchBm25WandTopK]] plus the pruning diagnostics (spec hook).
    *
    * `rescoreCollectCap`: the candidate set (O(k) per query by
    * construction) is collected to seed phase 3's broadcast; past this cap
    * the call falls back to the exhaustive twin rather than ship an
    * oversized closure — pruning that weak wasn't going to win anyway. */
  private[graft] def instrumented(spark: SparkSession, built: BuiltIndex,
                                  queries: Seq[String], k: Int = 10,
                                  rescoreCollectCap: Int = 1 << 20,
                                  isinThreshold: Int = 2048): (DataFrame, Diag) = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1: $k")
    val diag = Diag(0L, 0L,
      spark.sparkContext.longAccumulator("wand.decodedBlocks"),
      spark.sparkContext.longAccumulator("wand.rescoreHitBlocks"))
    def empty = (QueryOps.emptyTopK(spark), diag)

    // ---- preamble: the exhaustive twin's own term rule, corpus scalars,
    // idf and broadcast frames (one copy: the exactness proof needs them
    // identical) ----
    val QueryOps.Bm25Batch(live, liveTerms, avgdl, dlMin, idfOf, idfDf, weightsDf) =
      QueryOps.bm25Batch(spark, built, queries, requireAll = false) match {
        case Some(b) => b
        case None => return empty
      }

    // block upper bound: its best posting (max_tf) landing in the shortest
    // document — the block-max metadata written at index build
    def ubOf(term: String, maxTf: Int): Double =
      Bm25.contribution(idfOf(term), maxTf, dlMin, avgdl)
    def safeDown(x: Double): Double = x - 1e-9 * math.max(1.0, math.abs(x))

    val liveBlocks = built.blocks.filter($"term".isin(liveTerms: _*))

    // ---- metadata-only pass: per-term block count + best block-max ----
    val metaRows = liveBlocks.select($"term", $"max_tf").groupBy($"term")
      .agg(count(lit(1)).as("nblocks"), max($"max_tf").as("top_tf")).collect()
    val totalBlocks = metaRows.map(_.getLong(1)).sum
    val maxUb: Map[String, Double] =
      metaRows.map(r => r.getString(0) -> ubOf(r.getString(0), r.getInt(2))).toMap

    val docsDl = built.docs.toDF().select($"doc_id", $"dl", $"url")

    // ---- phase 1: θ from the single best-impact block per term ----
    val wSeed = Window.partitionBy($"term")
      .orderBy($"max_tf".desc, $"part_id".asc, $"seq".asc)
    val seedPosts = liveBlocks
      .withColumn("_rn", row_number().over(wSeed)).filter($"_rn" === 1)
      .drop("_rn").as[PostingBlock]
      .flatMap { blk =>
        val (ids, tfs) = IndexBuild.decodeBlockDocOrder(blk)
        Iterator.tabulate(ids.length)(i => (blk.term, ids(i), tfs(i)))
      }.toDF("term", "doc_id", "tf")
    val seedPartials = seedPosts
      .join(docsDl.select($"doc_id", $"dl"), Seq("doc_id"))
      .join(idfDf, Seq("term")).join(weightsDf, Seq("term"))
      .select($"query_id", $"doc_id", Bm25.contribCol(lit(avgdl)).as("c"))
      .groupBy($"query_id", $"doc_id").agg(sum($"c").as("partial"))
    val thetaRows = seedPartials
      .withColumn("_rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"partial".desc)))
      .filter($"_rn" === k).select($"query_id", $"partial").collect()
    // absent row = fewer than k seed docs → θ = -inf → query prunes nothing
    val theta: Map[Int, Double] =
      thetaRows.map(r => r.getInt(0) -> safeDown(r.getDouble(1))).toMap

    // ---- driver threshold algebra (all maps are live-sized: tiny) ----
    val termsByQuery: Map[Int, Seq[String]] =
      live.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ubMin: Map[(Int, String), Double] = termsByQuery.toSeq.flatMap {
      case (qi, ts) =>
        val th = theta.getOrElse(qi, Double.NegativeInfinity)
        val total = ts.iterator.map(maxUb).sum
        ts.map(t => (qi, t) -> (if (th == Double.NegativeInfinity) th
                                else th - (total - maxUb(t))))
    }.toMap
    // a block is decoded if ANY query containing its term could be moved
    val keepThresh: Map[String, Double] = liveTerms.map { t =>
      t -> live.collect { case (qi, `t`) => ubMin((qi, t)) }.min
    }.toMap
    // residual mass a query can still gain from blocks pruned FOR IT: per
    // term ≤ min(ubMin, maxUb), clamped at 0 when nothing is prunable.
    // Bounded by θ by construction (Σ max(0, θ−S+m_t) ≤ θ when S ≥ θ), so a
    // doc with NO kept contribution stays strictly below the k-th final.
    val prunedPotential: Map[Int, Double] = termsByQuery.map { case (qi, ts) =>
      qi -> ts.iterator.map { t =>
        val um = ubMin((qi, t))
        if (um <= 0.0) 0.0 else math.min(um, maxUb(t))
      }.sum
    }

    // ---- phase 2: decode kept blocks only, score lower bounds ----
    val decodedAcc = diag.decodedBlocks
    val keptPosts = liveBlocks.flatMap { blk =>
      val ub = ubOf(blk.term, blk.max_tf)
      if (ub >= keepThresh(blk.term)) {
        decodedAcc.add(1)
        val (ids, tfs) = IndexBuild.decodeBlockDocOrder(blk)
        Iterator.tabulate(ids.length)(i => (blk.term, ids(i), tfs(i), ub))
      } else Iterator.empty
    }.toDF("term", "doc_id", "tf", "ub")
    val weightsUbDf = broadcast(live.map { case (qi, t) => (qi, t, ubMin((qi, t))) }
      .toDF("query_id", "term", "ub_min"))
    val keptScored = keptPosts
      .join(docsDl.select($"doc_id", $"dl"), Seq("doc_id"))
      .join(idfDf, Seq("term"))
      .join(weightsUbDf, Seq("term"))
      .filter($"ub" >= $"ub_min")
      .select($"query_id", $"doc_id", $"term",
        Bm25.contribCol(lit(avgdl)).as("c"))
      .groupBy($"query_id", $"doc_id")
      .agg(QueryOps.bm25TermOrderedFold.as("kept"))
      .persist()
    val (candRows, finalDiag) = try {
      val kthKept: Map[Int, Double] = keptScored
        .withColumn("_rn", row_number().over(
          Window.partitionBy($"query_id").orderBy($"kept".desc)))
        .filter($"_rn" === k).select($"query_id", $"kept").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val qConst = broadcast(queries.indices.map { qi =>
        (qi, prunedPotential.getOrElse(qi, 0.0),
          safeDown(kthKept.getOrElse(qi, Double.NegativeInfinity)))
      }.toDF("query_id", "pot", "kth_safe"))
      val cands = keptScored.join(qConst, Seq("query_id"))
        .filter($"kept" + $"pot" >= $"kth_safe")
        .select($"query_id", $"doc_id")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      (cands, diag.copy(totalBlocks = totalBlocks, seedBlocks = liveTerms.size.toLong))
    } finally keptScored.unpersist()
    if (candRows.length > rescoreCollectCap)
      return (QueryOps.batchBm25TopK(spark, built, queries, k), finalDiag)

    // ---- phase 3: exact rescore of the candidate set from ALL blocks ----
    // candidate ids ride a sorted broadcast; each block's doc-id bytes are
    // scanned for membership and tf bytes decoded only on hit
    val candDocsB = spark.sparkContext.broadcast(
      candRows.map(_._2).distinct.sorted.toArray)
    val rescoreAcc = diag.rescoreHitBlocks
    val rPosts = liveBlocks.flatMap { blk =>
      val cand = candDocsB.value
      val ids = Varbyte.decodeDeltas(blk.docs_vb, blk.n)
      val hits = new scala.collection.mutable.ArrayBuffer[Int](4)
      var i = 0
      while (i < ids.length) {
        if (java.util.Arrays.binarySearch(cand, ids(i)) >= 0) hits += i
        i += 1
      }
      if (hits.isEmpty) Iterator.empty
      else {
        rescoreAcc.add(1)
        val tfs = Varbyte.decodeInts(blk.tfs_vb, blk.n)
        hits.iterator.map(p => (blk.term, ids(p), tfs(p)))
      }
    }.toDF("term", "doc_id", "tf")
    val candDocIds = candRows.map(_._2).distinct
    val docsSel = // point fetch while small: In-filter prunes a disk-backed
      if (candDocIds.length <= isinThreshold) // docs table to touched groups
        docsDl.filter($"doc_id".isin(candDocIds.toIndexedSeq: _*))
      else docsDl
    val candPairsDf = broadcast(
      spark.createDataset(candRows.toIndexedSeq).toDF("query_id", "doc_id"))
    val rescored = rPosts
      .join(docsSel, Seq("doc_id"))
      .join(idfDf, Seq("term"))
      .join(weightsDf, Seq("term"))
      .join(candPairsDf, Seq("query_id", "doc_id"))
      .select($"query_id", $"doc_id", $"url", $"term",
        Bm25.contribCol(lit(avgdl)).as("c"))
      .groupBy($"query_id", $"doc_id", $"url")
      .agg(QueryOps.bm25TermOrderedFold.as("score"))
    (QueryOps.rankTopK(rescored, k), finalDiag)
  }
}
