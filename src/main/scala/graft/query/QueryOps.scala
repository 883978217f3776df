package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.index.{BuiltIndex, IndexBuild}

/** The query path expressed as DATASET OPERATIONS (north star: "top-k …
  * expressed as Dataset operations plus a broadcast term-dictionary") — the
  * distributed twin of the driver-side [[Searcher]]. Used when queries run
  * as analytical jobs over the index tables (batch scoring, query-log
  * replay); the driver-side path serves interactive p95.
  *
  * Plan shape (shared by single-query and batch replay — a single query IS
  * a batch of one):
  *  1. blocks are filtered by query term (parquet min/max pushdown when the
  *     blocks table is read term-sorted from disk);
  *  2. block-metadata pruning BEFORE decode: the reference's per-term
  *     200-posting cap means any block whose preceding blocks (in serving
  *     order) already hold ≥ 200+skippable postings can be skipped — a
  *     window cumsum over block headers, no posting decoded;
  *  3. surviving blocks of one term are walked in serving order in ONE task
  *     (terms parallelize across tasks — the same shape as the reference
  *     Backend's one-KVS-row-per-term fetch, Backend.java:221), applying
  *     the per-posting url hygiene filter BEFORE the 200-cap
  *     (Backend.java:268-273): postings of hygiene-dirty docs are skipped
  *     without counting, and a doc whose url throws in URLDecoder empties
  *     the whole term (Backend.java:309-313) — bug-for-bug, oracle-tested
  *     on the adversarial corpus in IndexSpec. Emits the per-term
  *     [[RefScore.base]] and the CLEAN serving rank;
  *  4. the broadcast (query_id, term, factor, qidx) expansion table fans
  *     each term's postings out to its queries — each posting block of a
  *     shared term is decoded ONCE for the entire batch;
  *  5. urls are point-fetched for the capped id set (In-filter pushdown
  *     into the doc_id-sorted docs table while the set is small; shuffle
  *     join above the threshold — never an unconditional broadcast of the
  *     batch-sized scored side), URL-decoded (the reference combines and
  *     returns DECODED urls), and per-(query, url) scores fold in
  *     (query-term order, serving order) — bit-identical to
  *     [[Searcher.referenceTopK]]'s sequential accumulation.
  *
  * Hygiene sets at scale: dirty/throwing docs are docs with malformed or
  * unclean URLs — a tiny fraction of any real crawl by construction (the
  * crawler's own normalizer rejects most). While the flagged count fits the
  * driver ([[QueryOps.HygieneSetCap]]) both sets are collected and
  * broadcast exact; past the cap the ONE walk screens with a broadcast
  * BLOOM filter instead and resolves its suspects exactly afterwards (see
  * [[walkTermPostings]]). False positives cost only extra suspects;
  * results stay bit-identical (QueryOpsBloomSpec and IndexSpec force this
  * screen on the adversarial corpus).
  */
object QueryOps {

  /** Reference url hygiene classification ([[RefScore.cleanUrl]]):
    * [[Clean]], [[Skip]] (doesn't count toward the cap) or [[Throw]]
    * (URLDecoder throws — empties the whole posting list of every term the
    * doc appears in). Doc-level: depends only on the stored url. */
  private[query] def classifyUrl(url: String): Int =
    try { if (RefScore.cleanUrl(url).isDefined) Clean else Skip }
    catch { case _: Exception => Throw }

  /** Posting classes of the serving-order walk: the three exact hygiene
    * classes, plus [[Suspect]] — a Bloom-screen hit whose exact class is
    * still to be resolved. */
  private[query] final val Clean = 0
  private[query] final val Skip = 1
  private[query] final val Throw = 2
  private[query] final val Suspect = 3

  /** Hygiene representation the walk screens postings with: exact driver
    * sets while they fit, Bloom pre-screens past [[HygieneSetCap]]. Both
    * carry the flagged COUNT so the block-prune window knows how many
    * skippable postings may precede the cap. */
  private[query] sealed trait Hygiene {
    def flaggedCount: Long
    def classOf(docId: Long): Int
  }
  private[query] final case class ExactSets(skip: Set[Long], thr: Set[Long]) extends Hygiene {
    def flaggedCount: Long = skip.size.toLong + thr.size
    def classOf(docId: Long): Int =
      if (thr.contains(docId)) Throw else if (skip.contains(docId)) Skip else Clean
  }
  private[query] final case class BloomScreen(
      filter: org.apache.spark.util.sketch.BloomFilter,
      flaggedCount: Long) extends Hygiene {
    def classOf(docId: Long): Int = if (filter.mightContainLong(docId)) Suspect else Clean
  }

  /** Above this many flagged docs the exact sets stop being collected and
    * the Bloom pre-screen takes over (≈ 16 MB of driver longs at the cap —
    * the documented swap point, now implemented). */
  private[query] val HygieneSetCap: Long = 1L << 21

  /** Hygiene state — one narrow scan over the docs table; flagged docs are
    * tiny on any real corpus (see class doc). MEMOIZED per BuiltIndex
    * instance (weak keys): it depends only on the index, so repeated
    * single-query or replay calls over one index must not re-scan docs. */
  private val hygieneCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[BuiltIndex, Hygiene]())
  private val bloomCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[BuiltIndex, Hygiene]())

  private def hygieneOf(built: BuiltIndex, forceBloom: Boolean): Hygiene = {
    val cache = if (forceBloom) bloomCache else hygieneCache
    val cached = cache.get(built)
    if (cached != null) return cached
    val spark = built.docs.sparkSession
    import spark.implicits._
    // persisted across the two actions (count, then collect-or-bloom) so
    // the per-row classifyUrl scan runs once, not twice
    val flagged = built.docs
      .map(d => (d.doc_id, classifyUrl(d.url)))
      .filter(_._2 != Clean)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cnt = flagged.count()
      val v: Hygiene =
        if (forceBloom || cnt > HygieneSetCap) {
          // ONE filter over all flagged ids (skip + throw): a hit only marks a
          // SUSPECT — the exact class comes from the per-term verify join, so
          // there is nothing to gain from separate skip/throw filters
          val bf = flagged.toDF("doc_id", "cls")
            .stat.bloomFilter("doc_id", math.max(cnt, 1L), 0.001)
          BloomScreen(bf, cnt)
        } else {
          val arr = flagged.collect()
          ExactSets(arr.collect { case (id, Skip) => id }.toSet,
                    arr.collect { case (id, Throw) => id }.toSet)
        }
      cache.put(built, v)
      v
    } finally flagged.unpersist()
  }

  /** SINGLE-query reference scorer as a Dataset job — a batch of one.
    * Returns (url, score) in rank order, urls URL-decoded like the
    * reference's response. */
  def referenceTopK(spark: SparkSession, built: BuiltIndex, query: String,
                    n: Int): DataFrame =
    batchReferenceTopK(spark, built, Seq(query), n)
      .orderBy(col("rank").asc)
      .select(col("url"), col("score"))

  /** QUERY-LOG REPLAY: score a whole batch of queries in ONE distributed
    * pass — the at-scale serving workload (offline eval, log replay,
    * relevance regression). Results per query are bit-identical to
    * [[Searcher.referenceTopK]] (IndexSpec asserts this, including on the
    * adversarial-url corpus). Returns (query_id, rank, url, score).
    *
    * `isinThreshold`: max touched-doc-id count pushed down as an In-filter
    * (point-pruned scan + broadcast of the tiny url slice); above it the
    * docs join degrades gracefully. `broadcastRowCap`: max worst-case
    * scored-side rows (Σ live query-terms × 200) still hinted for
    * broadcast; above it NO hint is placed and AQE picks the join strategy
    * from runtime sizes — a 10⁵-query replay must never broadcast
    * gigabytes of scored rows to every executor. */
  def batchReferenceTopK(spark: SparkSession, built: BuiltIndex,
                         queries: Seq[String], n: Int,
                         isinThreshold: Int = 2048,
                         broadcastRowCap: Long = 100000L): DataFrame = {
    val (ranked, scratch) = batchReferenceTopKPlan(spark, built, queries, n,
      isinThreshold, broadcastRowCap)
    if (scratch.isEmpty) ranked // empty result — nothing was persisted
    else {
      // eager localCheckpoint: materializes the ≤200-rows-per-query result
      // as executor-cached blocks with TRUNCATED lineage, so the walk cache
      // can be released HERE instead of leaking (see the persist comment in
      // the plan builder). The checkpoint blocks themselves ARE reclaimed by
      // the ContextCleaner when the returned plan is GC'd — RDD-level
      // persistence, not the CacheManager's strong-ref plan cache.
      val result = ranked.localCheckpoint(true)
      scratch.foreach(_.unpersist())
      result
    }
  }

  /** The LAZY batch-replay plan plus the still-persisted scratch Datasets
    * backing it (the walked postings). Callers that want the raw plan shape
    * (plan-pinning specs) use this and release the scratch themselves;
    * everyone else calls [[batchReferenceTopK]], which eagerly materializes
    * and releases. An empty scratch list means the empty-result short
    * circuit fired and nothing is persisted. `forceBloomHygiene` screens
    * with the Bloom filter even below [[HygieneSetCap]] (specs only). */
  private[graft] def batchReferenceTopKPlan(
      spark: SparkSession, built: BuiltIndex,
      queries: Seq[String], n: Int,
      isinThreshold: Int = 2048,
      broadcastRowCap: Long = 100000L,
      forceBloomHygiene: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    // driver-side expansion: queries are tiny, terms lexicon-bounded
    val weights = queries.zipWithIndex.flatMap { case (q, qi) =>
      RefScore.termWeights(q).zipWithIndex.map { case ((t, f), j) => (qi, t, f, j) }
    }
    val allTerms = weights.map(_._2).distinct
    if (allTerms.isEmpty) return (emptyTopK(spark), Nil)
    val dict = built.dictionary
      .filter($"term".isin(allTerms: _*))
      .collect().map(d => d.term -> d).toMap
    // the single copy of the rank-identity-critical idf/max_tf per term —
    // the walk consumes exactly these; a dropped term (idf == 0, df is
    // per-term) drops for every query
    val termStats = allTerms.flatMap(t => dict.get(t).flatMap(d =>
      RefScore.idf(n, d.df).map(idf => t -> (idf, d.max_tf)))).toMap
    val live = weights.filter { case (_, t, _, _) => termStats.contains(t) }
    if (live.isEmpty) return (emptyTopK(spark), Nil)
    val liveTerms = live.map(_._2).distinct

    // the walk's output is CAP-BOUNDED (≤ 200 clean postings per live term)
    // but NEVER transits the driver: it is persisted once (the count below
    // materializes the cache) and every consumer — the point-fetch id set,
    // the fan-out join, the url join — reads the cached Dataset. It is
    // explicitly unpersisted before this function returns (the result is
    // eagerly materialized below): Spark's CacheManager holds persisted
    // plans with STRONG references until an explicit unpersist, so leaving
    // it to GC would leak one cache entry per batch call for the session
    // lifetime in a long-running serving process.
    val (walkDf, walkScratch) = walkTermPostings(spark, built, liveTerms, termStats,
      hygieneOf(built, forceBloomHygiene))
    val postings = walkDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE action both materializes the cache and answers every driver-side
    // branch question: the distinct touched ids, cut off at threshold+1 —
    // so the driver transit is bounded by isinThreshold regardless of
    // corpus, vocabulary, or batch size (the distinct's scan side still
    // reads every postings partition, so the cache is fully built)
    val ids = postings.select($"doc_id").distinct().as[Long].take(isinThreshold + 1)
    // the bloom path's stage-1 suspect walk was its own persisted scratch;
    // once `postings` is materialized above it is dead weight — drop it now
    // instead of waiting for the ContextCleaner
    walkScratch.foreach(_.unpersist())
    if (ids.isEmpty) { postings.unpersist(); return (emptyTopK(spark), Nil) }

    // fan each term's walked postings out to its queries; the expansion
    // table is always tiny (queries × terms rows)
    val weightsDf = broadcast(live.toDF("query_id", "term", "factor", "qidx"))
    val contrib = postings.join(weightsDf, Seq("term"))
      .select($"query_id", $"doc_id", $"qidx", $"rank".as("term_rank"),
        ($"base" * $"factor").as("s"))

    // total function: throwing urls decode to null (their docs never appear
    // in the walk output, so they never match the join — but the full-docs
    // branch maps EVERY row and must not fail on them)
    val decodeUrl = udf((u: String) =>
      try java.net.URLDecoder.decode(u.trim, "UTF-8")
      catch { case _: Exception => null })
    val urls = built.docs.select($"doc_id", decodeUrl($"url").as("url"))
    val joined =
      if (ids.length <= isinThreshold) {
        // point fetch: In-filter pushdown prunes the doc_id-sorted docs
        // table to the touched row groups; the url slice (≤ ids rows) is
        // the broadcast side — NOT the batch-sized scored side
        contrib.join(broadcast(urls.filter($"doc_id".isin(ids.toIndexedSeq: _*))), Seq("doc_id"))
      } else {
        val contribUpper = live.size.toLong * RefScore.Cap
        if (contribUpper <= broadcastRowCap) urls.join(broadcast(contrib), Seq("doc_id"))
        else urls.join(contrib, Seq("doc_id")) // AQE picks from runtime sizes
      }

    // per-(query, DECODED url) score = FOLD of contributions in (query-term
    // order, serving order) — exactly the reference's TreeMap accumulation
    // sequence, immune to partition-order reassociation
    val scored = joined
      .groupBy($"query_id", $"url")
      .agg(aggregate(
        sort_array(collect_list(struct($"qidx", $"term_rank", $"s"))),
        lit(0.0d), (acc, x) => acc + x.getField("s")).as("score"))
    (rankTopK(scored, RefScore.Cap), Seq(postings))
  }

  /** Batch BM25 replay — the DISTRIBUTED twin of [[Searcher.bm25TopK]] for
    * offline relevance eval at scale (the driver tier walks blocks in
    * impact order with block-max pruning; an eval job over 10⁵ queries
    * wants one Dataset plan instead of 10⁵ driver loops).
    *
    * Scores are EXHAUSTIVE BM25 — the same contract [[Searcher.bm25TopK]]'s
    * finish pass guarantees — computed as: decode every block of the batch's
    * live terms ONCE (shared terms amortize across queries), join doc
    * length + url from the docs table (one shuffle on doc_id), fan out to
    * queries via the tiny broadcast (query_id, term) table, and fold each
    * (query, doc)'s per-term contributions in PINNED term-asc order (an
    * ordered `aggregate` over `sort_array`, immune to partition
    * reassociation — the same discipline as the reference scorer's ordered
    * fold). Equality to the driver tier is up to FP-summation order (the
    * driver accumulates in dynamic impact order): both sides land on the
    * same values under the q31 oracle's 1e-6 rounding, which IndexSpec
    * asserts per query.
    *
    * Returns (query_id, rank, url, score — UNROUNDED), rank ≤ k by
    * (score desc, url asc), urls RAW stored urls (BM25 is the performance
    * scorer — no reference url-decode/hygiene semantics, exactly like the
    * driver tier). Queries with no live term emit no rows. */
  def batchBm25TopK(spark: SparkSession, built: BuiltIndex,
                    queries: Seq[String], k: Int = 10): DataFrame =
    batchBm25Core(spark, built, queries, k, requireAll = false)

  /** Conjunctive (AND-semantics) batch BM25: only documents containing
    * EVERY parsed surface term of the query are candidates, scored with the
    * same exhaustive BM25 algebra over exactly those terms (no stem
    * expansion — AND mode is the precision mode, stems would dilute the
    * conjunction). A query with any term absent from the dictionary can
    * match nothing and emits no rows — the same outcome the per-doc
    * term-count filter produces, enforced up front so its posting blocks
    * are never decoded. Same plan shape as [[batchBm25TopK]] plus one
    * broadcast (query, required-count) join; the AND filter is a
    * per-(query, doc) count equality, applied AFTER the fold so score
    * arithmetic stays identical to the disjunctive twin's. */
  def conjunctiveBm25TopK(spark: SparkSession, built: BuiltIndex,
                          queries: Seq[String], k: Int = 10): DataFrame =
    batchBm25Core(spark, built, queries, k, requireAll = true)

  /** Per-(query, doc) score = fold of contributions in PINNED term-asc
    * order (expects `term`, `c`) — immune to partition reassociation;
    * shared with [[BlockMaxWand]] so the exhaustive and pruned scores
    * cannot drift — the pruned path's exactness proof needs them equal. */
  private[query] def bm25TermOrderedFold: org.apache.spark.sql.Column =
    aggregate(sort_array(collect_list(struct(col("term"), col("c")))),
      lit(0.0d), (acc, x) => acc + x.getField("c"))

  /** Per-query top-k of `scored` (query_id, url, score) by (score desc,
    * url asc) → the (query_id, rank, url, score) every batch scorer
    * returns. */
  private[query] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("url").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("url"), col("score"))

  /** The empty (query_id, rank, url, score) frame every batch scorer's
    * degenerate paths return. */
  private[query] def emptyTopK(spark: SparkSession): DataFrame = spark.emptyDataFrame
    .withColumn("query_id", lit(0)).withColumn("rank", lit(0))
    .withColumn("url", lit("")).withColumn("score", lit(0.0)).limit(0)

  /** What both batch BM25 scorers ([[batchBm25TopK]], [[BlockMaxWand]])
    * derive before touching a posting — one copy, since WAND's exactness
    * proof needs them identical: live (query, term) pairs, corpus scalars
    * with [[Searcher.fromIndex]]'s exact arithmetic (integer dl sum →
    * double ONCE), driver-side [[Bm25.idf]] and the two broadcast frames.
    * None when no query has a live term or the corpus is empty. Term rule:
    * disjunctive = [[Searcher.bm25TopK]]'s surface ∪ stems; conjunctive
    * (`requireAll`) = parsed surface terms, a dictionary-missing one
    * killing its query. */
  private[query] final case class Bm25Batch(
      live: Seq[(Int, String)], liveTerms: Seq[String],
      avgdl: Double, dlMin: Long, idfOf: Map[String, Double],
      idfDf: DataFrame, weightsDf: DataFrame)

  private[query] def bm25Batch(spark: SparkSession, built: BuiltIndex,
                               queries: Seq[String],
                               requireAll: Boolean): Option[Bm25Batch] = {
    import spark.implicits._
    val termsOf: String => Seq[String] =
      if (requireAll) q => graft.text.Text.parseQuery(q).distinct.sorted
      else q => Searcher.expansionTerms(q).toSet.toSeq.sorted
    val allTerms = queries.flatMap(termsOf).distinct
    if (allTerms.isEmpty) return None
    val dict = built.dictionary
      .filter($"term".isin(allTerms: _*))
      .collect().map(d => d.term -> d).toMap
    val live = queries.zipWithIndex.flatMap { case (q, qi) =>
      val ts = termsOf(q)
      val present = ts.filter(dict.contains)
      if (requireAll && present.size != ts.size) Seq.empty
      else present.map(t => (qi, t))
    }
    if (live.isEmpty) return None
    val liveTerms = live.map(_._2).distinct

    val statsRow = built.docs.toDF()
      .agg(count(lit(1)), sum($"dl"), min($"dl")).head()
    val nd = statsRow.getLong(0)
    if (nd == 0) return None
    val idfOf = liveTerms.map(t => t -> Bm25.idf(nd, dict(t).df))
    Some(Bm25Batch(live, liveTerms, statsRow.getLong(1).toDouble / nd,
      statsRow.getLong(2), idfOf.toMap,
      broadcast(idfOf.toDF("term", "idf")),
      broadcast(live.toDF("query_id", "term"))))
  }

  private def batchBm25Core(spark: SparkSession, built: BuiltIndex,
                            queries: Seq[String], k: Int,
                            requireAll: Boolean): DataFrame = {
    import spark.implicits._
    val b = bm25Batch(spark, built, queries, requireAll) match {
      case Some(b) => b
      case None => return emptyTopK(spark)
    }

    // decode every live-term block once for the whole batch (doc order —
    // no serving permutation needed for BM25)
    val posts = built.blocks
      .filter($"term".isin(b.liveTerms: _*))
      .flatMap { blk =>
        val (ids, tfs) = IndexBuild.decodeBlockDocOrder(blk)
        Iterator.tabulate(ids.length)(i => (blk.term, ids(i), tfs(i)))
      }.toDF("term", "doc_id", "tf")

    val contrib = posts
      .join(built.docs.toDF().select($"doc_id", $"dl", $"url"), Seq("doc_id"))
      .join(b.idfDf, Seq("term"))
      .join(b.weightsDf, Seq("term"))
      .select($"query_id", $"doc_id", $"url", $"term",
        Bm25.contribCol(lit(b.avgdl)).as("c"))

    val scoredAll = contrib
      .groupBy($"query_id", $"doc_id", $"url")
      .agg(bm25TermOrderedFold.as("score"),
        count(lit(1)).as("nt"))
    val scored =
      if (requireAll) {
        // AND filter: keep (query, doc) pairs whose matched-term count hits
        // the query's required count (terms are unique per pair)
        val nReq = broadcast(b.live.groupBy(_._1).view.mapValues(_.size)
          .toSeq.toDF("query_id", "n_req"))
        scoredAll.join(nReq, Seq("query_id")).filter($"nt" === $"n_req")
      } else scoredAll
    rankTopK(scored, k)
  }

  /** Per-term serving-order walk with the hygiene filter applied BEFORE the
    * cap. Blocks of each term are pruned by the window cumsum (a block can
    * only matter while prior CLEAN postings < cap; prior_raw −
    * skippable-docs bounds that from below), then hash-repartitioned so one
    * task walks one term's blocks in (part_id, seq) order through a
    * [[CapWalk]] over the `hygiene` screen's classes. Emits (term, doc_id,
    * rank, base): rank is the CLEAN serving rank, base = [[RefScore.base]]
    * (the query factor is applied later per query).
    *
    * A [[BloomScreen]] cannot tell skip from throw, so its hits walk as
    * uncounted SUSPECTS, and two stages follow, bit-identical to an exact
    * screen: the tiny distinct suspect-id set is classified EXACTLY against
    * the docs table (a join pruned by the suspect ids, broadcast back), then
    * each term's walked rows replay in order through a fresh [[CapWalk]]
    * with exact classes (a throw first met at clean ≥ 200 is past the
    * reference's loop bound and does NOT abort).
    *
    * Returns (walked postings, the Bloom walk's persisted raw rows) — the
    * caller unpersists the scratch after materializing the result. */
  private[query] def walkTermPostings(spark: SparkSession, built: BuiltIndex,
                                      terms: Seq[String],
                                      termStats: Map[String, (Double, Int)],
                                      hygiene: Hygiene): (DataFrame, Option[DataFrame]) = {
    import spark.implicits._
    val statsB = spark.sparkContext.broadcast(termStats)
    val screenB = spark.sparkContext.broadcast(hygiene)

    val wOrd = Window.partitionBy($"term").orderBy($"part_id".asc, $"seq".asc)
    val walked = built.blocks.filter($"term".isin(terms: _*))
      .withColumn("prior_postings",
        coalesce(sum($"n").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"prior_postings" < lit(RefScore.Cap + hygiene.flaggedCount))
      .drop("prior_postings")
      .repartition($"term")
      .sortWithinPartitions($"term", $"part_id", $"seq")
      .as[graft.index.PostingBlock]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Double, Int)]
        var walk: CapWalk = null
        for (blk <- it) {
          if (walk == null || blk.term != walk.term) {
            if (walk != null) out ++= walk.rows
            walk = new CapWalk(blk.term)
          }
          if (walk.open) {
            val (idf, dMaxTf) = statsB.value(blk.term)
            val decoded = IndexBuild.decodeBlock(blk)
            var i = 0
            while (i < decoded.length && walk.open) {
              val (docId, tf) = decoded(i)
              walk.offer(docId, RefScore.base(tf, dMaxTf, idf), screenB.value.classOf(docId))
              i += 1
            }
          }
        }
        if (walk != null) out ++= walk.rows
        out.iterator
      }.toDF("term", "doc_id", "rank", "base", "cls")

    hygiene match {
      case _: ExactSets => (walked.drop("cls"), None)
      case _: BloomScreen =>
        val raw = walked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // exact classification of the suspect ids only (a tiny set: real
        // flagged docs that made the walk window, plus fpp noise)
        val suspectIds = raw.filter($"cls" === Suspect).select($"doc_id").distinct()
        val classify = udf((u: String) => classifyUrl(u))
        val resolved = built.docs.toDF()
          .join(suspectIds, Seq("doc_id"), "left_semi")
          .select($"doc_id", classify($"url").as("exact"))
        // ordered per-term replay with exact classes; rank orders the raw
        // walk (suspects included) and is re-assigned as the clean rank
        val replayed = raw.join(broadcast(resolved), Seq("doc_id"), "left")
          .select($"term", $"doc_id", $"rank", $"base", coalesce($"exact", $"cls"))
          .as[(String, Long, Int, Double, Int)]
          .groupByKey(_._1)
          .flatMapGroups { (term, it) =>
            val walk = new CapWalk(term)
            val rows = it.toIndexedSeq.sortBy(_._3).iterator
            while (rows.hasNext && walk.open) {
              val (_, docId, _, base, cls) = rows.next()
              walk.offer(docId, base, cls)
            }
            walk.rows
          }.toDF("term", "doc_id", "rank", "base", "cls").drop("cls")
        (replayed, Some(raw))
    }
  }

  /** The reference's per-term cap loop over classified postings in serving
    * order: a clean posting takes the next rank and counts toward
    * [[RefScore.Cap]], a suspect takes the next rank without counting, a
    * skip is dropped, and a throw empties the term. */
  private final class CapWalk(val term: String) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Double, Int)]
    private var clean = 0
    private var aborted = false

    def open: Boolean = !aborted && clean < RefScore.Cap

    def offer(docId: Long, base: Double, cls: Int): Unit = cls match {
      case Clean => buf += ((term, docId, buf.length, base, cls)); clean += 1
      case Suspect => buf += ((term, docId, buf.length, base, cls))
      case Skip => ()
      case Throw => aborted = true; buf.clear()
    }

    def rows: Iterator[(String, Long, Int, Double, Int)] =
      if (aborted) Iterator.empty else buf.iterator
  }
}
