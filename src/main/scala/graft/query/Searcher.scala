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
  */
final class Searcher(val n: Int,
                     dict: Map[String, DictEntry],
                     blocksOf: String => IndexedSeq[PostingBlock],
                     urlOf: Long => String,
                     dlOf: Long => Long,
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
    * skips accumulator work for docs that cannot appear in the result. */
  /** Decoded-block LRU shared ACROSS queries: the index is immutable for a
    * Searcher's lifetime, so a block's doc-order (ids, tfs) arrays are
    * reusable serving state — the same class of cache as the Direct tier's
    * per-shard dl arrays. Keyed by (term, per-term block index), which is
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

  def bm25TopK(query: String, k: Int = 10): List[(String, Double)] = {
    val terms = Searcher.expansionTerms(query).sorted.filter(dict.contains)
    if (terms.isEmpty) return Nil

    def contribution(idf: Double, tf: Int, dl: Long): Double =
      Bm25.contribution(idf, tf, dl, avgdl)

    final case class TermState(term: String, idf: Double,
                               blocks: IndexedSeq[PostingBlock], var next: Int) {
      def bound: Double =
        if (next >= blocks.length) 0.0
        else contribution(idf, blocks(next).max_tf, dlMin)
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

    // primitive open-addressing accumulator (no boxing in the hot loop);
    // capacity hint from the dictionary's df sum — Long math (a web-scale df
    // sum overflows Int), clamped: the map resizes itself past the hint
    val dfSum = terms.iterator.map(t => dict(t).df).sum
    val acc = new LongDoubleMap(dfSum)

    var maxAcc = 0.0
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
          val v = acc.add(ids(j), contribution(st.idf, tfs(j), dlOf(ids(j))))
          if (v > maxAcc) maxAcc = v
          j += 1
        }
        blocksSinceCheck += 1
        // adaptive cadence: the kth scan is O(acc.size), so on head-term
        // queries (hundreds of thousands of accumulated docs) checking
        // every 8 blocks spends more time scanning than decoding — scale
        // the interval so one scan costs at most ~a few blocks' decode.
        // Checks are only STOP OPPORTUNITIES: a later stop does extra
        // (exact) work, never changes results.
        val checkEvery = 8 + (acc.size >> 13)
        if (acc.size >= k && blocksSinceCheck >= checkEvery) {
          blocksSinceCheck = 0
          val remaining = states.foldLeft(0.0)(_ + _.bound)
          if (remaining == 0.0) done = true
          // cheap precheck: kth ≤ maxAcc, so remaining ≥ maxAcc can never prune
          else if (remaining < maxAcc) {
            val (kth, belowKth) = acc.kthAndNext(k)
            if (belowKth + remaining < kth) done = true
          }
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
    // the p95 driver for one-term head queries ("the"), whose finish pass
    // re-touched every tail block for provably-complete scores.
    if (states.length > 1 && states.exists(st => st.next < st.blocks.length)) {
      val survCut = if (acc.size <= k) Double.NegativeInfinity else acc.kthAndNext(k)._1
      val survivors = acc.collectAtLeast(survCut).map(_._1).toArray
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
                acc.add(id, contribution(st.idf, tfs(j), dlOf(id)))
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
                    acc.add(id, contribution(st.idf, tfs(p), dlOf(id)))
                  p += 1
                }
              }
            }
          }
        }
        si += 1
      }
    }

    // select candidates ≥ k-th score first (primitive pass), THEN sort the
    // small survivor set with the url tie-break — avoids sorting the full
    // accumulator table
    val cutoff = if (acc.size <= k) Double.NegativeInfinity else acc.kthAndNext(k)._1
    acc.collectAtLeast(cutoff)
      .sortBy { case (id, s) => (-s, urlOf(id)) }
      .take(k)
      .map { case (id, s) => (urlOf(id), s) }
      .toList
  }
}

/** Minimal open-addressing long→double accumulator (linear probing,
  * power-of-two capacity, no boxing) for the BM25 hot loop.
  *
  * `expected` is a HINT, taken as a Long because at web scale a df sum
  * exceeds Int.MaxValue — the old `dfSum.toInt` sizing overflowed to a tiny
  * capacity there, and a full fixed-size table turned the linear probe into
  * an infinite loop. Capacity is now clamped to [64, 2^30] and the table
  * RESIZES (doubling rehash) at 70% load, so any expected value is safe; a
  * genuinely >2^30-entry accumulation throws instead of spinning. */
private[query] final class LongDoubleMap(expected: Long) {
  private val MaxCapacity = 1 << 30
  // pre-size only up to 2^20 slots — beyond that let the resize path grow on
  // demand (a huge df-sum hint must not eagerly allocate gigabytes)
  private var capacity: Int = {
    val target = math.min(math.max(expected, 32L) * 2L, (1 << 20).toLong)
    var c = 64
    while (c < target) c <<= 1
    c
  }
  private var mask = capacity - 1
  // Fibonacci hashing over the TOP log2(capacity) bits: the shift must track
  // capacity — a fixed shift (the old `>>> 40`) caps home slots at 2^24, so
  // past that capacity every key homed into the first 16M slots and the
  // linear probe degenerated into one cluster at exactly the web scale this
  // class exists for
  private var shift = 64 - java.lang.Long.numberOfTrailingZeros(capacity.toLong)
  private var keys = new Array[Long](capacity)
  private var vals = new Array[Double](capacity)
  private var used = new Array[Boolean](capacity)
  private var slots = new Array[Int](capacity) // dense list of used slots
  var size = 0

  private def grow(): Unit = {
    if (capacity == MaxCapacity)
      throw new IllegalStateException(
        s"LongDoubleMap full at max capacity $MaxCapacity — accumulator set too large for one node")
    val oldKeys = keys; val oldVals = vals; val oldSlots = slots; val oldSize = size
    capacity <<= 1; mask = capacity - 1
    shift = 64 - java.lang.Long.numberOfTrailingZeros(capacity.toLong)
    keys = new Array[Long](capacity)
    vals = new Array[Double](capacity)
    used = new Array[Boolean](capacity)
    slots = new Array[Int](capacity)
    size = 0
    var s = 0
    while (s < oldSize) {
      val oi = oldSlots(s)
      insertFresh(oldKeys(oi), oldVals(oi))
      s += 1
    }
  }

  private def insertFresh(id: Long, v: Double): Unit = {
    var i = ((id * 0x9E3779B97F4A7C15L) >>> shift).toInt & mask
    while (used(i)) i = (i + 1) & mask
    used(i) = true; keys(i) = id; vals(i) = v; slots(size) = i; size += 1
  }

  /** Adds c to the accumulator for id; returns the new value. */
  def add(id: Long, c: Double): Double = {
    var i = ((id * 0x9E3779B97F4A7C15L) >>> shift).toInt & mask
    while (used(i) && keys(i) != id) i = (i + 1) & mask
    if (!used(i)) {
      if ((size + 1) * 10L > capacity * 7L) { // 70% load → double + rehash
        grow()
        return add(id, c)
      }
      used(i) = true; keys(i) = id; vals(i) = c; slots(size) = i; size += 1; c
    } else { vals(i) += c; vals(i) }
  }

  /** (k-th largest value, (k+1)-th largest or 0) via a primitive size-(k+1)
    * min-heap — O(A) scan, heap ops only for values above the current min. */
  def kthAndNext(k: Int): (Double, Double) = {
    val cap = k + 1
    val heap = new Array[Double](cap)
    var hSize = 0
    def siftUp(j0: Int): Unit = {
      var j = j0
      while (j > 0 && heap(j) < heap((j - 1) / 2)) {
        val p = (j - 1) / 2
        val t = heap(j); heap(j) = heap(p); heap(p) = t
        j = p
      }
    }
    def siftDown(): Unit = {
      var j = 0
      var cont = true
      while (cont) {
        val l = 2 * j + 1; val r = l + 1
        var m = j
        if (l < hSize && heap(l) < heap(m)) m = l
        if (r < hSize && heap(r) < heap(m)) m = r
        if (m == j) cont = false
        else { val t = heap(j); heap(j) = heap(m); heap(m) = t; j = m }
      }
    }
    var s = 0
    while (s < size) { // dense slot list: O(size), not O(capacity)
      val v = vals(slots(s))
      if (hSize < cap) { heap(hSize) = v; siftUp(hSize); hSize += 1 }
      else if (v > heap(0)) { heap(0) = v; siftDown() }
      s += 1
    }
    if (hSize <= k) (heap(0), 0.0)
    else {
      val next = heap(0)
      heap(0) = heap(hSize - 1); hSize -= 1; siftDown()
      (heap(0), next)
    }
  }

  def toBuffer: mutable.ArrayBuffer[(Long, Double)] = collectAtLeast(Double.NegativeInfinity)

  def collectAtLeast(cutoff: Double): mutable.ArrayBuffer[(Long, Double)] = {
    val out = new mutable.ArrayBuffer[(Long, Double)]()
    var s = 0
    while (s < size) {
      val i = slots(s)
      if (vals(i) >= cutoff) out += ((keys(i), vals(i)))
      s += 1
    }
    out
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
    new Searcher(n, dict, t => blocks.getOrElse(t, IndexedSeq.empty), id => urlArr(id.toInt), id => dlArr(id.toInt),
      avgdl, dlMin, docs.length.toLong)
  }
}
