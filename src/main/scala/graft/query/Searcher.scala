package graft.query

import scala.collection.mutable
import graft.index.{BuiltIndex, DictEntry, IndexBuild, PostingBlock, Varbyte}
import graft.text.{PorterStemmer, Text}

/** Query-time retrieval over the built index artifacts.
  *
  * Mirrors the reference's serving split (Flame builds tables, Backend serves
  * them without touching Flame — reference backend/Backend.java): Spark is
  * the BUILD engine; per-query top-k runs driver-side over the compact
  * artifacts with no Spark job per query, which is what makes p95 latency a
  * property of the index layout instead of job-scheduling overhead.
  *
  * Memory story at scale: the dictionary is lexicon-bounded (small at any
  * corpus size); posting blocks are fetched per term — here from an in-heap
  * map, in production from the blocks table via min/max-pruned parquet point
  * range scans keyed by term (blocks are written term-sorted) — and the
  * reference path touches at most ceil(200/blockSize)+1 blocks per term.
  *
  * Two scorers:
  *  - [[referenceTopK]] — the rank-identity scorer, replicating
  *    backend/Backend.java:40-139,205-330,333-410 exactly: the
  *    [[RefScore]] rule (int-division log500 idf, idf==0 drop, 0.7 stem
  *    discount, per-term 200-posting cap, url hygiene filter) plus TreeMap
  *    url-asc ties, stable desc sort, top-200.
  *  - [[bm25TopK]] — the performance scorer: standard [[Bm25]] over the
  *    impact-ordered blocks with block-max early termination (Anh–Moffat
  *    style impact ordering; the block-max bound plays the WAND θ role).
  *    `norms` holds each doc's [[Bm25.lengthNorm]], indexed by doc id.
  */
final class Searcher(val n: Int,
                     dict: Map[String, DictEntry],
                     blocksOf: String => IndexedSeq[PostingBlock],
                     urlOf: Long => String,
                     norms: Array[Double],
                     avgdl: Double,
                     dlMin: Long,
                     numDocs: Long) {

  // ---------------------------------------------------------------- reference
  /** Rank-identical reference scorer. Returns (url, score), ≤200 rows.
    *
    * `pagerank`: None = live Backend behavior `1.0*TFIDF` (Backend.java:363);
    * Some(ranks) = the backup scorer's per-posting blend
    * `0.7*TFIDF + 0.3*pagerank(url)` (Project/backup/Backend1210.java:259).
    *
    * Known parity bound vs the real Backend: `rankedList` iterates
    * `TFIDFMap.keySet()` — Java HashMap order over the term strings, which
    * is reproducible for a given key set but not insertion order. We sum in
    * query-insertion order instead (pinned, parallelism-independent); the
    * two can differ by FP-addition reordering in the last ulp on multi-term
    * queries, which the in-repo oracle pins identically on both sides. */
  def referenceTopK(query: String,
                    pagerank: Option[String => Double] = None): List[(String, Double)] = {
    val tfidfMap = mutable.LinkedHashMap.empty[String, IndexedSeq[(String, Double)]]
    for ((term, factor) <- RefScore.termWeights(query)) {
      val list = termTfidf(term, factor)
      if (list.nonEmpty) tfidfMap.put(term, list)
    }
    if (tfidfMap.isEmpty) return Nil

    val combined = mutable.TreeMap.empty[String, Double]
    for ((_, list) <- tfidfMap; (url, tfidf) <- list) {
      val s = pagerank match {
        case None     => 1.0 * tfidf
        case Some(pr) => 0.7 * tfidf + 0.3 * pr(url)
      }
      combined.update(url, combined.getOrElse(url, 0.0) + s)
    }
    combined.toList.sortBy { case (_, s) => -s }.take(RefScore.Cap)
  }

  /** Per-term (decodedUrl, tfidf) in serving order, ≤ [[RefScore.Cap]] —
    * Backend.getTFIDF (Backend.java:205-314) including its per-posting url
    * hygiene filter ([[RefScore.cleanUrl]]): a skipped posting does not
    * count toward the cap. A malformed %-escape makes URLDecoder throw,
    * which the reference's enclosing catch turns into an EMPTY list for the
    * whole term (Backend.java:309-313) — replicated bug-for-bug. The
    * decoded url is also the key postings combine under downstream. */
  private def termTfidf(term: String, factor: Double): IndexedSeq[(String, Double)] =
    dict.get(term).flatMap(d => RefScore.idf(n, d.df).map((d, _))) match {
      case None => IndexedSeq.empty
      case Some((d, idf)) =>
        val out = mutable.ArrayBuffer.empty[(String, Double)]
        try {
          val blocks = blocksOf(term)
          var bi = 0
          while (bi < blocks.length && out.length < RefScore.Cap) {
            val decoded = IndexBuild.decodeBlock(blocks(bi))
            var i = 0
            while (i < decoded.length && out.length < RefScore.Cap) {
              val (docId, tf) = decoded(i)
              RefScore.cleanUrl(urlOf(docId)).foreach { url =>
                out += ((url, RefScore.base(tf, d.max_tf, idf) * factor))
              }
              i += 1
            }
            bi += 1
          }
        } catch {
          case e: Exception => // Backend.java:309-313 (empty term on throw);
            // the reference at least printStackTrace()s — stay observable so
            // a corrupt block / bad doc id is distinguishable from the
            // legitimate malformed-%-escape case and from a no-hit term
            System.err.println(s"[searcher] term '$term' emptied by $e")
            return IndexedSeq.empty
        }
        out.toIndexedSeq
    }

  // --------------------------------------------------------------------- BM25
  /** Decoded-block LRU shared ACROSS queries: the index is immutable for a
    * Searcher's lifetime, so a block's doc-order (ids, tfs) arrays are
    * reusable serving state — the same class of state as the per-doc
    * length norms. Keyed by (term, per-term block index), which is
    * stable in every tier (the in-heap tier's grouped blocks and the Direct
    * tier's ref lists are both fixed serving-order sequences). Bounded:
    * 1024 entries ≈ ≤ 50 MB at the default 4096-posting blocks; repeated
    * queries over the hot head-term blocks (the p95 driver) hit instead of
    * re-faulting + re-varbyte-decoding. */
  private val decodedCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int), (Array[Long], Array[Int])](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), (Array[Long], Array[Int])]): Boolean =
        size() > 1024
    })

  /** The length norm of the corpus' shortest doc: the block-max bound's
    * denominator (a block's best tf landing in the shortest doc). */
  private val normMin = Bm25.lengthNorm(dlMin, avgdl)

  /** One [[Bm25Accumulator]] per thread, made on the thread's first
    * [[bm25TopK]] call (reference-only serving never allocates one) and
    * reset after every query, so concurrent queries over one Searcher never
    * share scores. Doc ids index it directly, the same dense-id bound as
    * `norms`. */
  private val accumulators = ThreadLocal.withInitial[Bm25Accumulator] { () =>
    require(numDocs < Int.MaxValue,
      s"BM25 accumulates into a dense per-doc array and is bounded at ${Int.MaxValue} docs " +
      s"(index has $numDocs)")
    new Bm25Accumulator(numDocs.toInt)
  }

  /** Standard BM25 top-k with block-max early termination over the
    * impact-ordered blocks. Safe stop rule: processing blocks in impact
    * order per term, any doc's best reachable score is its accumulated
    * score + the sum of remaining per-term upper bounds (block-max tf at the
    * corpus-min dl); terminate when that cannot displace the current k-th
    * best. Decodes in stored doc order (no serving-order walk needed).
    *
    * Scores are EXACT (identical to exhaustive BM25), not lower bounds:
    * after the stop rule fires, the guaranteed-final top-k candidate set is
    * finished against every remaining block (accumulating only survivor
    * ids), so both the returned set AND the returned scores/order equal the
    * exhaustive computation. The stop rule's strict inequality guarantees no
    * non-survivor can reach the k-th final score, so the early exit only
    * skips accumulator work for docs that cannot appear in the result.
    *
    * Scores accumulate in the calling thread's dense [[Bm25Accumulator]]
    * (no per-query allocation, no hashing in the hot loop), each posting
    * scored against its doc's precomputed [[Bm25.lengthNorm]]. The
    * accumulator keeps a running heap of the k + 1 best docs, so the stop
    * rule reads the k-th and (k+1)-th scores in O(1) and the finish pass and
    * the final cut take their candidates from the heap; only a tie at the
    * k-th score falls back to a scan of the touched ids. */
  def bm25TopK(query: String, k: Int = 10): List[(String, Double)] = {
    val terms = Searcher.expansionTerms(query).sorted.filter(dict.contains)
    if (terms.isEmpty || k <= 0) return Nil

    final case class TermState(term: String, idf: Double,
                               blocks: IndexedSeq[PostingBlock], var next: Int) {
      def bound: Double =
        if (next >= blocks.length) 0.0
        else Bm25.contribution(idf, blocks(next).max_tf, normMin)
    }
    val states = terms.map { t =>
      TermState(t, Bm25.idf(numDocs, dict(t).df), blocksOf(t), 0)
    }.toArray
    def decodedDocOrder(st: TermState, idx: Int): (Array[Long], Array[Int]) = {
      val key = (st.term, idx)
      val hit = decodedCache.get(key)
      if (hit != null) hit
      else {
        val v = IndexBuild.decodeBlockDocOrder(st.blocks(idx))
        decodedCache.put(key, v)
        v
      }
    }

    val acc = accumulators.get()
    acc.start(k)
    try {
      var blocksSinceCheck = 0
      var done = false
      while (!done) {
        // process the highest-bound pending block (impact order across terms)
        var best = -1; var bestBound = 0.0
        var i = 0
        while (i < states.length) {
          val bd = states(i).bound
          if (bd > bestBound) { bestBound = bd; best = i }
          i += 1
        }
        if (best < 0) done = true
        else {
          val st = states(best)
          val idx = st.next
          st.next += 1
          val (ids, tfs) = decodedDocOrder(st, idx)
          var j = 0
          while (j < ids.length) {
            acc.add(ids(j), Bm25.contribution(st.idf, tfs(j), norms(ids(j).toInt)))
            j += 1
          }
          blocksSinceCheck += 1
          // The check itself is O(1), but its cadence fixes WHERE the stop
          // fires, and with it the order in which each survivor's
          // contributions are added (impact order before the stop, the finish
          // pass's term order after it). Floating-point addition is not
          // associative, so a different cadence can move a score's last ulp:
          // this one is kept so scores stay bit-identical to earlier builds.
          // A later stop only does extra exact work, never changes the set.
          val checkEvery = 8 + (acc.size >> 13)
          if (acc.size >= k && blocksSinceCheck >= checkEvery) {
            blocksSinceCheck = 0
            val remaining = states.foldLeft(0.0)(_ + _.bound)
            if (remaining == 0.0 || acc.nextScore + remaining < acc.kthScore) done = true
          }
        }
      }
      // ---- finish pass: exact scores for the guaranteed top-k set ----
      // The stop rule proved every doc outside the current top-k stays below
      // the k-th FINAL score, so the result SET is fixed — but members of it
      // may still have pending postings in undecoded blocks. Decode every
      // remaining block, accumulating only survivor ids (sorted-array binary
      // search, no boxing): scores become exactly the exhaustive BM25 values.
      //
      // SINGLE-TERM skip: a doc holds at most one posting per term, so with
      // one query term every accumulated score is already exact and no
      // not-yet-seen doc can be a survivor (score 0 < k-th) — the remaining
      // blocks (all of a head term's tail) need no decode at all. This was
      // the p95 cause for one-term head queries ("the"), whose finish pass
      // re-touched every tail block for provably-complete scores.
      if (states.length > 1 && states.exists(st => st.next < st.blocks.length)) {
        val survivors = acc.candidates().map(_._1).toArray
        java.util.Arrays.sort(survivors)
        val survMin = survivors(0)
        val survMax = survivors(survivors.length - 1)
        var si = 0
        while (si < states.length) {
          val st = states(si)
          while (st.next < st.blocks.length) {
            val idx = st.next
            st.next += 1
            val cached = decodedCache.get((st.term, idx))
            if (cached != null) {
              val (ids, tfs) = cached
              var j = 0
              while (j < ids.length) {
                val id = ids(j)
                if (id >= survMin && id <= survMax &&
                    java.util.Arrays.binarySearch(survivors, id) >= 0)
                  acc.add(id, Bm25.contribution(st.idf, tfs(j), norms(id.toInt)))
                j += 1
              }
            } else {
              // ids-first decode: doc ids are ascending, so a block whose id
              // range misses the survivor span is skipped without touching
              // its tf bytes; tf decode happens only on a survivor hit
              val blk = st.blocks(idx)
              val ids = Varbyte.decodeDeltas(blk.docs_vb, blk.n)
              if (ids.length > 0 && ids(ids.length - 1) >= survMin && ids(0) <= survMax) {
                var hit = false
                var j = 0
                while (j < ids.length && !hit) {
                  val id = ids(j)
                  hit = id >= survMin && id <= survMax &&
                    java.util.Arrays.binarySearch(survivors, id) >= 0
                  j += 1
                }
                if (hit) {
                  val tfs = Varbyte.decodeInts(blk.tfs_vb, blk.n)
                  decodedCache.put((st.term, idx), (ids, tfs))
                  var p = 0
                  while (p < ids.length) {
                    val id = ids(p)
                    if (id >= survMin && id <= survMax &&
                        java.util.Arrays.binarySearch(survivors, id) >= 0)
                      acc.add(id, Bm25.contribution(st.idf, tfs(p), norms(id.toInt)))
                    p += 1
                  }
                }
              }
            }
          }
          si += 1
        }
      }

      // the candidates ≥ k-th score come from the heap; sort only them with
      // the url tie-break, never the full accumulator table
      acc.candidates()
        .sortBy { case (id, s) => (-s, urlOf(id)) }
        .take(k)
        .map { case (id, s) => (urlOf(id), s) }
        .toList
    } finally acc.reset()
  }
}

/** Dense BM25 score accumulator over the doc-id space `0 until numDocs`
  * (doc ids are the build's dense url-ordered ids), reused by one thread
  * across queries: a score array, the ids touched by the current query in
  * first-touch order, and a min-heap of the k + 1 best touched ids with each
  * member's heap slot kept per doc, so raising a member's score is an
  * increase-key in place.
  *
  * Every [[add]] keeps the heap invariant: each touched id outside the heap
  * scores ≤ the heap minimum. This needs non-negative contributions (BM25+
  * idf > 0, tf ≥ 1): a score only grows, so a member only moves away from
  * the root and an outsider enters only by displacing the root, which then
  * scores ≤ the new minimum. The (k+1)-th score is then the root and the
  * k-th the smaller of its children, both O(1), and the top-k candidates are
  * the heap minus its root, unless the root ties the k-th score: other
  * touched ids may tie as well, and only a scan of the touched ids finds
  * them all. [[reset]] clears only the touched ids, so a query costs
  * O(touched), not O(numDocs). Call [[start]] before a query's first add. */
private[query] final class Bm25Accumulator(numDocs: Int) {
  private val scores = new Array[Double](numDocs)
  /** Per doc: 0 = untouched, -1 = touched and outside the heap, s > 0 = heap
    * member at slot s − 1. */
  private val state = new Array[Int](numDocs)
  private var touched = new Array[Int](math.min(numDocs, 4096))
  var size = 0
  private var k = 0
  private var cap = 0
  private var heap = Array.emptyIntArray
  private var hSize = 0

  /** Track the k best docs for the next query; the accumulator must be empty. */
  def start(k: Int): Unit = {
    require(k >= 1 && size == 0, s"start($k) needs k >= 1 and an empty accumulator")
    this.k = k
    cap = math.min(k.toLong + 1, numDocs.toLong).toInt
    if (heap.length < cap) heap = new Array[Int](cap)
  }

  /** Adds c ≥ 0 to the accumulator for id; returns the new value. */
  def add(id: Long, c: Double): Double = {
    val i = id.toInt
    val st = state(i)
    if (st == 0) {
      if (size == touched.length)
        touched = java.util.Arrays.copyOf(touched, math.min(numDocs, size * 2))
      scores(i) = c; touched(size) = i; size += 1
      if (hSize < cap) {
        heap(hSize) = i; state(i) = hSize + 1; hSize += 1
        siftUp(hSize - 1)
      } else {
        state(i) = -1
        if (c > scores(heap(0))) replaceRoot(i)
      }
      c
    } else {
      val v = scores(i) + c
      scores(i) = v
      if (st > 0) siftDown(st - 1)
      else if (v > scores(heap(0))) replaceRoot(i)
      v
    }
  }

  /** The k-th largest score (the smallest while size < k). */
  def kthScore: Double =
    if (hSize <= k) scores(heap(0))
    else if (hSize == 2) scores(heap(1))
    else math.min(scores(heap(1)), scores(heap(2)))

  /** The (k+1)-th largest score, or 0 while size ≤ k. */
  def nextScore: Double = if (hSize <= k) 0.0 else scores(heap(0))

  /** (id, score) of every touched id scoring ≥ the k-th score — all of them
    * while size ≤ k — in no particular order. */
  def candidates(): mutable.ArrayBuffer[(Long, Double)] =
    if (hSize > k && scores(heap(0)) == kthScore) collectAtLeast(kthScore)
    else {
      val out = new mutable.ArrayBuffer[(Long, Double)](hSize)
      var h = if (hSize > k) 1 else 0
      while (h < hSize) { out += ((heap(h).toLong, scores(heap(h)))); h += 1 }
      out
    }

  /** (id, score) of every touched id scoring ≥ cutoff, in first-touch order. */
  def collectAtLeast(cutoff: Double): mutable.ArrayBuffer[(Long, Double)] = {
    val out = new mutable.ArrayBuffer[(Long, Double)]()
    var s = 0
    while (s < size) {
      val i = touched(s)
      if (scores(i) >= cutoff) out += ((i.toLong, scores(i)))
      s += 1
    }
    out
  }

  /** Forget every touched id: the next query starts from all-untouched. */
  def reset(): Unit = {
    var s = 0
    while (s < size) { state(touched(s)) = 0; s += 1 }
    size = 0
    hSize = 0
  }

  private def replaceRoot(i: Int): Unit = {
    state(heap(0)) = -1
    heap(0) = i; state(i) = 1
    siftDown(0)
  }

  private def place(h: Int, i: Int): Unit = { heap(h) = i; state(i) = h + 1 }

  private def siftUp(h0: Int): Unit = {
    val i = heap(h0); val v = scores(i)
    var h = h0
    while (h > 0 && v < scores(heap((h - 1) >>> 1))) {
      val p = (h - 1) >>> 1
      place(h, heap(p))
      h = p
    }
    place(h, i)
  }

  private def siftDown(h0: Int): Unit = {
    val i = heap(h0); val v = scores(i)
    var h = h0
    var more = true
    while (more) {
      val l = 2 * h + 1
      if (l >= hSize) more = false
      else {
        val r = l + 1
        val m = if (r < hSize && scores(heap(r)) < scores(heap(l))) r else l
        if (scores(heap(m)) < v) { place(h, heap(m)); h = m }
        else more = false
      }
    }
    place(h, i)
  }
}

object Searcher {

  /** Every term either scorer can touch for a query: surface forms plus
    * their Porter stems — the term rule the batch twins ([[QueryOps]],
    * [[BlockMaxWand]]) share with [[bm25TopK]]; a new expansion variant in
    * referenceTopK/bm25TopK must extend THIS set or the twins drift. */
  def expansionTerms(query: String): Seq[String] = {
    val surface = Text.parseQuery(query)
    (surface ++ surface.map(PorterStemmer.stem)).distinct
  }

  /** Group blocks into per-term serving order — the ONE (part_id, seq)
    * ordering every tier keys rank-identity on (IndexBuild block contract). */
  def groupBlocks(blocks: Iterable[graft.index.PostingBlock]): Map[String, IndexedSeq[graft.index.PostingBlock]] =
    blocks.groupBy(_.term)
      .map { case (t, bs) => t -> bs.toIndexedSeq.sortBy(b => (b.part_id, b.seq)) }

  /** Collect the built artifacts to the driver (test/serving-node scale). */
  def fromIndex(built: BuiltIndex, n: Int): Searcher = {
    val dict = built.dictionary.collect().map(d => d.term -> d).toMap
    val blocks = groupBlocks(built.blocks.collect().toIndexedSeq)
    // loud cliff, like the engine's Fnv/collision guards: this eager tier
    // array-indexes by doc_id.toInt, so it is bounded at 2^31 docs — past
    // that, serve from DirectSearcher (mmap shards) instead.
    // The count() is one extra narrow job over the (session-persisted) docs
    // — the price of failing with THIS message instead of the driver OOM a
    // 2-billion-row collect() would die with
    val numDocs = built.docs.count()
    require(numDocs < Int.MaxValue,
      s"eager Searcher tier holds doc arrays in driver memory and is bounded at ${Int.MaxValue} docs " +
      s"(corpus has $numDocs); use DirectSearcher for larger corpora")
    val docs = built.docs.collect()
    val urlArr = new Array[String](docs.length)
    val dlArr = new Array[Long](docs.length)
    docs.foreach { d => urlArr(d.doc_id.toInt) = d.url; dlArr(d.doc_id.toInt) = d.dl }
    // integer dl sum (exact, order-free) → double once: reproducible in SQL
    val avgdl = if (docs.isEmpty) 1.0 else dlArr.sum.toDouble / docs.length
    val dlMin = if (docs.isEmpty) 0L else dlArr.min
    new Searcher(n, dict, t => blocks.getOrElse(t, IndexedSeq.empty), id => urlArr(id.toInt),
      dlArr.map(Bm25.lengthNorm(_, avgdl)), avgdl, dlMin, docs.length.toLong)
  }
}
