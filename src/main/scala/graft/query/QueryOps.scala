package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.index.{BuiltIndex, IndexBuild}
import graft.text.{PorterStemmer, Text}

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
  *     on the adversarial corpus in IndexSpec. Emits the per-term tfidf
  *     base (reference tfn × int-division log₅₀₀ idf) and the CLEAN serving
  *     rank;
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
  * broadcast exact; past the cap (or when forced) the walk switches to a
  * broadcast BLOOM pre-screen: postings whose doc hits a filter are emitted
  * as SUSPECTS (not counted toward the cap) until 200 definitely-clean
  * postings accumulate, the tiny suspect id set is classified EXACTLY
  * against the docs table (one broadcast join), and a per-term ordered
  * re-rank replays the reference walk — skip-docs dropped without
  * counting, a genuinely-throwing doc reached before the 200th clean
  * posting emptying its term. False positives cost only extra suspects;
  * results stay bit-identical (IndexSpec forces this path on the
  * adversarial corpus).
  */
object QueryOps {

  /** Query expansion with reference semantics (surface terms first, stems
    * appended, put-overwrite) → ordered (term, stemFactor). */
  def termWeights(query: String): Seq[(String, Double)] = {
    val surface = Text.parseQuery(query)
    val expanded = surface.map(t => (t, false)) ++ surface.flatMap { t =>
      val st = PorterStemmer.stem(t)
      if (st != t) Some((st, true)) else None
    }
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for ((t, isStem) <- expanded if t.nonEmpty) m.put(t, if (isStem) 0.7 else 1.0)
    m.toSeq
  }

  /** Reference url hygiene classification (Backend.java:268-273,309-324):
    * 0 = clean, 1 = skipped (doesn't count toward the 200-cap), 2 = throws
    * in URLDecoder (empties the whole posting list of every term the doc
    * appears in). Doc-level: depends only on the stored url. */
  private[query] def classifyUrl(url: String): Int =
    try {
      val dec = java.net.URLDecoder.decode(url.trim, "UTF-8")
      if (dec == null || dec.isEmpty || dec == "null" || dec.contains("\"") ||
          Searcher.hasControlChar(dec)) 1
      else 0
    } catch { case _: Exception => 2 }

  /** Hygiene representation the walk screens postings with: exact driver
    * sets while they fit, Bloom pre-screens past [[HygieneSetCap]]. Both
    * carry the flagged COUNT so the block-prune window knows how many
    * skippable postings may precede the cap. */
  private[query] sealed trait Hygiene { def flaggedCount: Long }
  private[query] final case class ExactSets(skip: Set[Long], thr: Set[Long]) extends Hygiene {
    def flaggedCount: Long = skip.size.toLong + thr.size
  }
  private[query] final case class BloomScreen(
      filter: org.apache.spark.util.sketch.BloomFilter,
      flaggedCount: Long) extends Hygiene

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
      .filter(_._2 != 0)
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
          ExactSets(arr.collect { case (id, 1) => id }.toSet,
                    arr.collect { case (id, 2) => id }.toSet)
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
                         broadcastRowCap: Long = 100000L,
                         forceBloomHygiene: Boolean = false): DataFrame = {
    val (ranked, scratch) = batchReferenceTopKPlan(spark, built, queries, n,
      isinThreshold, broadcastRowCap, forceBloomHygiene)
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
    * circuit fired and nothing is persisted. */
  private[graft] def batchReferenceTopKPlan(
      spark: SparkSession, built: BuiltIndex,
      queries: Seq[String], n: Int,
      isinThreshold: Int = 2048,
      broadcastRowCap: Long = 100000L,
      forceBloomHygiene: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    def emptyResult: DataFrame = spark.emptyDataFrame
      .withColumn("query_id", lit(0)).withColumn("rank", lit(0))
      .withColumn("url", lit("")).withColumn("score", lit(0.0)).limit(0)

    // driver-side expansion: queries are tiny, terms lexicon-bounded
    val weights = queries.zipWithIndex.flatMap { case (q, qi) =>
      termWeights(q).zipWithIndex.map { case ((t, f), j) => (qi, t, f, j) }
    }
    val allTerms = weights.map(_._2).distinct
    if (allTerms.isEmpty) return (emptyResult, Nil)
    val dict = built.dictionary
      .filter($"term".isin(allTerms: _*))
      .collect().map(d => d.term -> d).toMap
    // idf==0 terms drop for every query (df is per-term, not per-query)
    def idfOf(t: String): Double =
      dict.get(t).map(d => math.log((n / d.df).toDouble) / math.log(500.0)).getOrElse(0.0)
    val live = weights.filter { case (_, t, _, _) => idfOf(t) != 0.0 }
    if (live.isEmpty) return (emptyResult, Nil)
    val liveTerms = live.map(_._2).distinct
    // the single copy of the rank-identity-critical idf/max_tf per term —
    // the walk consumes exactly these (no second int-division site)
    val termStats = liveTerms.flatMap(t =>
      dict.get(t).map(d => t -> (idfOf(t), d.max_tf))).toMap

    // the walk's output is CAP-BOUNDED (≤ 200 clean postings per live term)
    // but NEVER transits the driver: it is persisted once (the count below
    // materializes the cache) and every consumer — the point-fetch id set,
    // the fan-out join, the url join — reads the cached Dataset. It is
    // explicitly unpersisted before this function returns (the result is
    // eagerly materialized below): Spark's CacheManager holds persisted
    // plans with STRONG references until an explicit unpersist, so leaving
    // it to GC would leak one cache entry per batch call for the session
    // lifetime in a long-running serving process.
    val (walkDf, walkScratch) = hygieneOf(built, forceBloomHygiene) match {
      case ExactSets(skipIds, throwIds) =>
        (walkTermPostings(spark, built, liveTerms, termStats, skipIds, throwIds), None)
      case bs: BloomScreen =>
        val (df, raw) = bloomWalkTermPostings(spark, built, liveTerms, termStats, bs)
        (df, Some(raw))
    }
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
    if (ids.isEmpty) { postings.unpersist(); return (emptyResult, Nil) }

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
    val joined =
      if (ids.length <= isinThreshold) {
        // point fetch: In-filter pushdown prunes the doc_id-sorted docs
        // table to the touched row groups; the url slice (≤ ids rows) is
        // the broadcast side — NOT the batch-sized scored side
        val urls = built.docs.select($"doc_id", decodeUrl($"url").as("url"))
          .filter($"doc_id".isin(ids.toIndexedSeq: _*))
        contrib.join(broadcast(urls), Seq("doc_id"))
      } else {
        val urls = built.docs.select($"doc_id", decodeUrl($"url").as("url"))
        val contribUpper = live.size.toLong * 200L
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

    val wRank = Window.partitionBy($"query_id").orderBy($"score".desc, $"url".asc)
    val ranked = scored.withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= 200)
      .select($"query_id", $"rank", $"url", $"score")
    (ranked, Seq(postings))
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

  /** The empty (query_id, rank, url, score) frame every batch scorer's
    * degenerate paths return. */
  private[query] def emptyTopK(spark: SparkSession): DataFrame = spark.emptyDataFrame
    .withColumn("query_id", lit(0)).withColumn("rank", lit(0))
    .withColumn("url", lit("")).withColumn("score", lit(0.0)).limit(0)

  private def batchBm25Core(spark: SparkSession, built: BuiltIndex,
                            queries: Seq[String], k: Int,
                            requireAll: Boolean): DataFrame = {
    import spark.implicits._
    def emptyResult: DataFrame = emptyTopK(spark)

    // driver-side term rule: disjunctive = [[Searcher.bm25TopK]]'s surface
    // ∪ stems; conjunctive = parsed surface terms only
    val termsOf: String => Seq[String] =
      if (requireAll) q => graft.text.Text.parseQuery(q).distinct.sorted
      else q => Searcher.expansionTerms(q).toSet.toSeq.sorted
    val allTerms = queries.flatMap(termsOf).distinct
    if (allTerms.isEmpty) return emptyResult
    val dict = built.dictionary
      .filter($"term".isin(allTerms: _*))
      .collect().map(d => d.term -> d).toMap
    val live = queries.zipWithIndex.flatMap { case (q, qi) =>
      val ts = termsOf(q)
      val present = ts.filter(dict.contains)
      // conjunctive: a dictionary-missing required term kills the query
      if (requireAll && present.size != ts.size) Seq.empty
      else present.map(t => (qi, t))
    }
    if (live.isEmpty) return emptyResult
    val liveTerms = live.map(_._2).distinct

    // corpus scalars (nd, avgdl) with [[Searcher.fromIndex]]'s exact
    // arithmetic: the integer dl sum is exact and order-free, → double ONCE
    val statsRow = built.docs.toDF()
      .agg(count(lit(1)), sum($"dl")).head()
    val nd = statsRow.getLong(0)
    if (nd == 0) return emptyResult
    val avgdl = statsRow.getLong(1).toDouble / nd
    val idfOf = liveTerms.map(t => t -> Bm25.idf(nd, dict(t).df))
    val idfDf = broadcast(idfOf.toDF("term", "idf"))
    val weightsDf = broadcast(live.toDF("query_id", "term"))

    // decode every live-term block once for the whole batch (doc order —
    // no serving permutation needed for BM25)
    val posts = built.blocks
      .filter($"term".isin(liveTerms: _*))
      .flatMap { blk =>
        val (ids, tfs) = IndexBuild.decodeBlockDocOrder(blk)
        Iterator.tabulate(ids.length)(i => (blk.term, ids(i), tfs(i)))
      }.toDF("term", "doc_id", "tf")

    val contrib = posts
      .join(built.docs.toDF().select($"doc_id", $"dl", $"url"), Seq("doc_id"))
      .join(idfDf, Seq("term"))
      .join(weightsDf, Seq("term"))
      .select($"query_id", $"doc_id", $"url", $"term",
        Bm25.contribCol(lit(avgdl)).as("c"))

    val scoredAll = contrib
      .groupBy($"query_id", $"doc_id", $"url")
      .agg(bm25TermOrderedFold.as("score"),
        count(lit(1)).as("nt"))
    val scored =
      if (requireAll) {
        // AND filter: keep (query, doc) pairs whose matched-term count hits
        // the query's required count (terms are unique per pair)
        val nReq = broadcast(live.groupBy(_._1).view.mapValues(_.size)
          .toSeq.toDF("query_id", "n_req"))
        scoredAll.join(nReq, Seq("query_id")).filter($"nt" === $"n_req")
      } else scoredAll

    val wRank = Window.partitionBy($"query_id").orderBy($"score".desc, $"url".asc)
    scored.withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"url", $"score")
  }

  /** Per-term serving-order walk with the hygiene filter applied BEFORE the
    * 200-cap. Blocks of each term are pruned by the window cumsum (a block
    * can only matter while prior CLEAN postings < 200; prior_raw −
    * skippable-docs bounds that from below), then hash-repartitioned so one
    * task walks one term's blocks in (part_id, seq) order — early-exiting
    * at 200 clean postings, skipping hygiene-dirty docs without counting,
    * and discarding the whole term when a throwing doc is encountered
    * before the cap. Emits (term, doc_id, rank, base) where rank is the
    * CLEAN serving rank and base = tfn × idf (stem factor applied later
    * per query). */
  private[query] def walkTermPostings(spark: SparkSession, built: BuiltIndex,
                               terms: Seq[String],
                               termStats: Map[String, (Double, Int)],
                               skipIds: Set[Long],
                               throwIds: Set[Long]): DataFrame = {
    import spark.implicits._
    val statsB = spark.sparkContext.broadcast(termStats)
    val skipB = spark.sparkContext.broadcast(skipIds)
    val throwB = spark.sparkContext.broadcast(throwIds)
    val skippable = (skipIds.size + throwIds.size).toLong

    val wOrd = Window.partitionBy($"term").orderBy($"part_id".asc, $"seq".asc)
    val pruned = built.blocks.filter($"term".isin(terms: _*))
      .withColumn("prior_postings",
        coalesce(sum($"n").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"prior_postings" < lit(200L + skippable))

    pruned.select($"term", $"part_id", $"seq", $"n", $"max_tf",
        $"docs_vb", $"tfs_vb", $"perm_vb")
      .repartition($"term")
      .sortWithinPartitions($"term", $"part_id", $"seq")
      .as[(String, Int, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Double)]
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Double)]
        var curTerm: String = null
        var clean = 0
        var aborted = false
        def flush(): Unit = { if (!aborted) out ++= buf; buf.clear() }
        for ((term, pid, seq, nb, maxTf, docs, tfs, perm) <- it) {
          if (term != curTerm) { flush(); curTerm = term; clean = 0; aborted = false }
          if (!aborted && clean < 200) {
            val (idf, dMaxTf) = statsB.value(term)
            val decoded = IndexBuild.decodeBlock(
              graft.index.PostingBlock(term, pid, seq, nb, maxTf, docs, tfs, perm))
            var i = 0
            while (i < decoded.length && !aborted && clean < 200) {
              val (docId, tf) = decoded(i)
              if (throwB.value.contains(docId)) { aborted = true; buf.clear() }
              else if (!skipB.value.contains(docId)) {
                buf += ((term, docId, clean, (0.4 + 0.6 * tf / dMaxTf) * idf))
                clean += 1
              }
              i += 1
            }
          }
        }
        flush()
        out.iterator
      }.toDF("term", "doc_id", "rank", "base")
  }

  /** The Bloom-pre-screened twin of [[walkTermPostings]] for corpora whose
    * flagged-doc sets outgrow the driver. Three stages, results
    * bit-identical to the exact walk:
    *
    *  1. walk each term in serving order; a posting whose doc hits the
    *     (broadcast) Bloom filter is emitted as a SUSPECT and does not
    *     count; definitely-clean postings count toward the 200 stop. Walk
    *     output ≤ 200 + suspects per term, suspects ≈ flagged hits + fpp
    *     noise;
    *  2. classify the tiny distinct suspect-id set EXACTLY against the docs
    *     table (join pruned by the suspect ids, result broadcast back);
    *  3. per-term ordered replay: iterate walked postings in serving order
    *     with exact classes — skips dropped without counting, a genuinely
    *     throwing doc reached before the 200th clean posting empties the
    *     term (a throw first encountered at clean ≥ 200 is past the
    *     reference's loop bound and must NOT abort), stop at 200.
    */
  /** Returns (final walked postings, the stage-1 scratch DataFrame) — the
    * caller unpersists the scratch after materializing the result. */
  private[query] def bloomWalkTermPostings(spark: SparkSession, built: BuiltIndex,
                                    terms: Seq[String],
                                    termStats: Map[String, (Double, Int)],
                                    screen: BloomScreen): (DataFrame, DataFrame) = {
    import spark.implicits._
    val statsB = spark.sparkContext.broadcast(termStats)
    val bloomB = spark.sparkContext.broadcast(screen.filter)
    val skippable = screen.flaggedCount

    val wOrd = Window.partitionBy($"term").orderBy($"part_id".asc, $"seq".asc)
    val pruned = built.blocks.filter($"term".isin(terms: _*))
      .withColumn("prior_postings",
        coalesce(sum($"n").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"prior_postings" < lit(200L + skippable))

    // stage 1: raw walk with suspect marking
    val raw = pruned.select($"term", $"part_id", $"seq", $"n", $"max_tf",
        $"docs_vb", $"tfs_vb", $"perm_vb")
      .repartition($"term")
      .sortWithinPartitions($"term", $"part_id", $"seq")
      .as[(String, Int, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Double, Boolean)]
        var curTerm: String = null
        var confirmedClean = 0
        var rawIdx = 0
        for ((term, pid, seq, nb, maxTf, docs, tfs, perm) <- it) {
          if (term != curTerm) { curTerm = term; confirmedClean = 0; rawIdx = 0 }
          if (confirmedClean < 200) {
            val (idf, dMaxTf) = statsB.value(term)
            val decoded = IndexBuild.decodeBlock(
              graft.index.PostingBlock(term, pid, seq, nb, maxTf, docs, tfs, perm))
            var i = 0
            while (i < decoded.length && confirmedClean < 200) {
              val (docId, tf) = decoded(i)
              val suspect = bloomB.value.mightContainLong(docId)
              out += ((term, docId, rawIdx, (0.4 + 0.6 * tf / dMaxTf) * idf, suspect))
              rawIdx += 1
              if (!suspect) confirmedClean += 1
              i += 1
            }
          }
        }
        out.iterator
      }.toDF("term", "doc_id", "raw_idx", "base", "suspect")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 2: exact classification of the suspect ids only (a tiny set:
    // real flagged docs that made the walk window, plus fpp noise)
    val suspectIds = raw.filter($"suspect").select($"doc_id").distinct()
    val classify = udf((u: String) => classifyUrl(u))
    val resolved = built.docs.toDF()
      .join(suspectIds, Seq("doc_id"), "left_semi")
      .select($"doc_id", classify($"url").as("cls"))

    // stage 3: ordered per-term replay with exact classes
    val walked = raw.join(broadcast(resolved), Seq("doc_id"), "left")
      .select($"term", $"doc_id", $"raw_idx", $"base",
        coalesce($"cls", lit(0)).as("cls"))
      .as[(String, Long, Int, Double, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (term, it) =>
        val rows = it.toIndexedSeq.sortBy(_._3)
        val out = IndexedSeq.newBuilder[(String, Long, Int, Double)]
        var clean = 0
        var aborted = false
        var i = 0
        while (i < rows.length && clean < 200 && !aborted) {
          val (_, docId, _, base, cls) = rows(i)
          cls match {
            case 0 => out += ((term, docId, clean, base)); clean += 1
            case 1 => () // skip: does not count toward the cap
            case 2 => aborted = true // throw before the cap empties the term
          }
          i += 1
        }
        if (aborted) Iterator.empty else out.result().iterator
      }.toDF("term", "doc_id", "rank", "base")
    (walked, raw)
  }
}
