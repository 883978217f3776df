package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.corpus.Page
import graft.text.Text
import graft.util.GlobalRank

/** docId → url map entry; `dl` = document length (sum of boosted term
  * counts — the "length" the BM25 path normalizes by). */
final case class DocMeta(doc_id: Long, url: String, dl: Long)

/** Intermediate posting (pre-compression). */
final case class TermPosting(term: String, doc_id: Long, tf: Int)

/** Dictionary row: df + max raw tf per term. maxtf is all the state needed
  * to recompute the reference tf-normalization `0.4 + 0.6*tf/maxtf`
  * (reference jobs/Indexer.java:88,118) exactly at query time, so posting
  * blocks can store raw int tfs (varbyte-friendly) instead of doubles. */
final case class DictEntry(term: String, df: Long, max_tf: Int)

/** One compressed posting block.
  *
  * Blocks of one term are totally ordered by (part_id asc, seq asc), and that
  * order IS the reference's serving order (tf desc, url asc): the build
  * range-partitions + sorts postings by (term asc, tf desc, doc_id asc) and
  * cuts blocks along that order, and doc_id asc ≡ url asc by construction.
  * Inside a block, postings are stored sorted by doc_id so ids delta+varbyte
  * compress; `perm_vb` is the varbyte-coded permutation mapping serving rank
  * → doc-order position, so serving-order decode is a table walk, not a sort
  * (block boundaries make serving order a purely local property).
  *
  * `max_tf` is the block-max metadata (first posting's tf in serving order)
  * driving early termination in the impact-ordered top-k path.
  */
final case class PostingBlock(term: String, part_id: Int, seq: Int, n: Int,
                              max_tf: Int, docs_vb: Array[Byte],
                              tfs_vb: Array[Byte], perm_vb: Array[Byte])

final case class BuiltIndex(docs: Dataset[DocMeta],
                            dictionary: Dataset[DictEntry],
                            blocks: Dataset[PostingBlock],
                            scratch: Seq[Dataset[_]] = Nil) {
  /** Unpersist every cached dataset this index pinned — the public
    * artifacts AND the build-internal scratch (tokenized triples, sorted
    * url sets, docmaps). Long-lived sessions that cycle indexes (segment
    * merges, stream-ingest loops) call this instead of waiting for the
    * ContextCleaner; a released index recomputes from lineage if touched
    * again. */
  def release(): Unit =
    (scratch ++ Seq(docs, dictionary, blocks)).foreach(_.unpersist())
}

/** Distributed inverted-index build (SURVEY.md §7.2 step 4).
  *
  * Scale design (the 100 TB story, tested at local[32]):
  *  - Page bytes are NEVER shuffled or cached: tokenization is a narrow map
  *    over the source table; only compact (url, term, tf) triples flow
  *    downstream. The two data-sized shuffles are triples→docmap join and
  *    the blocks range shuffle — both orders of magnitude smaller than the
  *    raw corpus.
  *  - Dense deterministic doc ids WITHOUT a single-reducer global sort:
  *    the id is the url-ordered rank from [[graft.util.GlobalRank]]'s
  *    unpinned scan (the index keeps its own cache lifetime). Ids are
  *    reproducible at any parallelism because the url order is total.
  *  - Head-term skew (Zipf "the" ≈ every doc) never concentrates on one
  *    task: postings are range-partitioned on (term, tf desc, doc_id), so a
  *    hot term's postings SPAN partitions — the range partitioner's sampling
  *    splits inside the term — while block order still reconstructs the
  *    global serving order. This replaces a groupBy(term) that would OOM on
  *    head terms (the reference's foldByKey does exactly that and its run
  *    logs show the OOM crashes, SURVEY.md §4.2).
  *  - Dictionary agg (df, max_tf) is a map-side-combining groupBy: partial
  *    aggregation defuses skew because combiners shrink hot keys to one row
  *    per task before the shuffle.
  *  - The dictionary is small by construction (lexicon-bounded term space:
  *    ~10k words + stems + ≤3-digit numbers) ⇒ broadcastable at any corpus
  *    scale; posting blocks are the only large artifact.
  */
object IndexBuild {

  /** Number of postings per compressed block. 4096 > the reference's 200-cap
    * ⇒ the per-term top-200 serving path decodes exactly one block. */
  val DefaultBlockSize = 4096

  /** Loud-cliff bound on the closed-vocabulary build's distinct-term set
    * (~4M terms ≈ a few hundred MB of driver strings — generous for any
    * lexicon-bounded corpus, far below web-scale open vocabularies).
    * Overridable via -Dgraft.vocab.cap for tests. */
  private[graft] def VocabularyCap: Int =
    sys.props.get("graft.vocab.cap").map(_.toInt).getOrElse(1 << 22)

  /** The CLOSED term universe the tokenizer can emit, derived from the
    * lexicon alone (no data scan): body/boost tokens are either ≤3-digit
    * strings, the empty token (Java split quirk — `isValidNumber("")` is
    * true), or lexicon members — plus the Porter stem of each
    * (Text.termCounts emits stems alongside surface forms). Sorted, so
    * term-id order ≡ term order and downstream block order is unchanged. */
  private[index] def termUniverse(lexicon: Set[String]): Array[String] = {
    val digits = for {
      len <- 1 to 3
      n <- 0 until math.pow(10, len).toInt
    } yield ("0" * len + n.toString).takeRight(len)
    val words = lexicon.iterator
      .filter(w => Text.isPureAscii(w) && Text.isValidWord(w)).toSeq
    val base = (digits ++ words :+ "").distinct
    (base ++ base.map(graft.text.PorterStemmer.stem)).distinct.sorted.toArray
  }

  /** (tid asc, tf desc) packed into ONE radix-sortable long — tid in the
    * high 32 bits, bit-flipped tf in the low 32; the single pack/unpack
    * pair both build paths sort the heavy shuffle with. */
  private val PackBase = 1L << 32
  private def packKeyCol(tid: org.apache.spark.sql.Column,
                         tf: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    tid.cast("long") * PackBase + (lit(Int.MaxValue.toLong) - tf)
  private def unpackKey(key: Long, docId: Long): (Int, Long, Int) =
    ((key >>> 32).toInt, docId, Int.MaxValue - (key & 0xFFFFFFFFL).toInt)

  /** Build from pages — the PRIMITIVE-TRIPLE fast path. Tokenization is
    * still one narrow map over the source (page bytes never shuffled), but
    * what gets persisted is (urlHash: long, tid: int, tf: int) plus each
    * url STRING once per page — not once per posting. The term id comes
    * from the lexicon-closed [[termUniverse]] (broadcast, no data scan; an
    * out-of-universe term fails loudly) and the doc id from a broadcast
    * urlHash→id map, so the build's heaviest stage moves primitive rows
    * only: measured ~4× less persisted volume than string triples, which
    * is exactly what the high-parallelism levels are starved of. Corpora
    * beyond `broadcastDocLimit` docs keep the same primitive pipeline but
    * join ids on the 8-byte hash instead of broadcasting the map.
    * Open-vocabulary corpora (no lexicon) would hash terms to 64-bit ids
    * instead of the dense universe — same pipeline shape. */
  def build(spark: SparkSession, pages: Dataset[Page], lexicon: Set[String],
            parts: Int = 32, blockSize: Int = DefaultBlockSize,
            broadcastDocLimit: Long = 10_000_000L): BuiltIndex = {
    import spark.implicits._
    val lex = spark.sparkContext.broadcast(lexicon)
    val termArr = termUniverse(lexicon)
    val termIdx = spark.sparkContext.broadcast(termArr.zipWithIndex.toMap)
    val termOf = spark.sparkContext.broadcast(termArr)

    // ONE tokenize pass: per-posting primitive triples; the url string
    // rides on the page's FIRST row only (null elsewhere)
    val hashed = pages.flatMap { p =>
      val h = graft.util.Fnv.hash64(p.url)
      var first = true
      Text.postings(p.url, new String(p.html, "UTF-8"), lex.value).map {
        case (term, tf) =>
          val tid = termIdx.value.getOrElse(term,
            throw new IllegalStateException(
              s"term '$term' outside the lexicon-closed universe — open-vocabulary " +
                "corpus needs hashed term ids"))
          val u = if (first) p.url else null
          first = false
          (h, tid, tf, u)
      }
    }.toDF("h", "tid", "tf", "url")
      .persist(StorageLevel.DISK_ONLY) // write-once read-thrice (url id
    // assignment, blocks shuffle, dl agg); serialized-on-disk beats memory
    // churn, and at 100 TB this is the natural spill point

    // dense deterministic doc ids over EMITTING urls (total url order →
    // reproducible at any parallelism)
    val urlRank = GlobalRank.scan(
      hashed.filter($"url".isNotNull).select($"h", $"url").distinct(),
      Seq($"url"), lit(1L), "doc_id", parts)
    val numDocs = urlRank.total
    val docmap = urlRank.result.select($"doc_id", $"h", $"url")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a 64-bit hash collision between two distinct urls would silently merge
    // docs — verify up front, fail loudly (expected collisions ≈ n²/2^65)
    val hDistinct = docmap.select($"h").distinct().count()
    require(hDistinct == numDocs,
      s"url-hash collision: $numDocs urls -> $hDistinct hashes; use the string path")

    // (tid asc, tf desc) packed into one 8-byte sort key — see the
    // fromUrlTermTf comment. Ids resolve via a BROADCAST HASH JOIN on the
    // 8-byte url hash while the docmap fits — fully codegen'd (a typed map
    // over a broadcast Scala Map measured slower: it forces an object
    // ser/de boundary per posting row); an 8-byte-key shuffle join beyond
    // the limit
    val idSide = docmap.select($"h", $"doc_id")
    // NOT persisted, although the range partitioner's sampling job re-runs
    // this join before the shuffle pass: measured 3-rep interleaved A/B at
    // local[16] (round 5) put the persisted variant 10-120% SLOWER — the
    // cache write+read of ~n_postings (long,long) rows costs more than
    // re-probing the broadcast hash from the already-cached `hashed`
    val keyed = hashed
      .join(if (numDocs <= broadcastDocLimit) broadcast(idSide) else idSide, Seq("h"))
      .select(packKeyCol($"tid", $"tf").as("key"), $"doc_id")
    val blocks = keyed
      .repartitionByRange(parts, $"key".asc, $"doc_id".asc)
      .sortWithinPartitions($"key".asc, $"doc_id".asc)
      .as[(Long, Long)]
      .mapPartitions { it =>
        encodeBlocks(it.map((unpackKey _).tupled), blockSize, termOf.value)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dictionary = blocks.groupBy($"term")
      .agg(sum($"n").as("df"), max($"max_tf").as("max_tf")).as[DictEntry]
    // dl rides the same agg as the duplicate-url guard: the reference's KVS
    // is KEYED by url (one body per url, re-crawls overwrite), so two input
    // pages sharing a url violate this build's contract — identical copies
    // would crash the varbyte strictly-ascending check, near-identical ones
    // would silently double df/dl and score the url twice. Fail loudly and
    // point at the resolvers.
    val dl = hashed.groupBy($"h").agg(sum($"tf").as("dl"),
      count(when($"url".isNotNull, 1)).as("n_pages"))
    val dupUrls = dl.filter($"n_pages" > 1).count()
    require(dupUrls == 0,
      s"$dupUrls urls appear on multiple input pages — one body per url (the reference " +
      "KVS row-key contract); merge re-crawls with StreamIngest.mergeStreamed " +
      "(last-write-wins) or dedup with Dedup.exactDedup before building")
    val docs = docmap.select($"doc_id", $"h", $"url").join(dl, Seq("h"), "left")
      .na.fill(0L, Seq("dl"))
      .select($"doc_id", $"url", $"dl").as[DocMeta]
    BuiltIndex(docs, dictionary, blocks, scratch = Seq(hashed, urlRank.sorted, docmap))
  }

  /** Persist the index artifacts under `dir` as Iceberg-layout tables.
    * Blocks are written term-sorted within partitions so parquet row-group
    * min/max stats prune per-term point lookups at serving time. */
  def save(spark: SparkSession, built: BuiltIndex, dir: String): Unit = {
    import graft.tables.TableIO
    // docs sorted by doc_id → row-group min/max stats serve doc_id point
    // lookups (isin filters) with pruned scans
    TableIO.write(built.docs.toDF().sort("doc_id"), s"$dir/docs", "index-docs")
    TableIO.write(built.dictionary.toDF(), s"$dir/dictionary", "index-dictionary")
    TableIO.write(built.blocks.sortWithinPartitions("term", "part_id", "seq").toDF(),
      s"$dir/blocks", "index-blocks")
  }

  /** Reload persisted artifacts (current snapshot). */
  def load(spark: SparkSession, dir: String): BuiltIndex = {
    import spark.implicits._
    import graft.tables.TableIO
    BuiltIndex(
      TableIO.read(spark, s"$dir/docs").as[DocMeta],
      TableIO.read(spark, s"$dir/dictionary").as[DictEntry],
      TableIO.read(spark, s"$dir/blocks").as[PostingBlock])
  }

  /** Build a full index from id-free posting triples (url, term, tf) — the
    * shared "global merge" tail used by [[SegmentedIndex.merge]] and the
    * streaming ingest: dense url-ordered doc ids (see [[build]]), then
    * the standard impact-ordered block/dictionary/docs pipeline.
    * `openVocabulary = true` drops the term-dictionary encoding (no distinct-
    * term collect anywhere) for corpora whose vocabulary is unbounded.
    *
    * PRECONDITION: at most one row per (url, term). Duplicate postings for
    * one doc (a url tokenized twice — e.g. a re-crawl merged without
    * versioning) either fail the varbyte strictly-ascending-ids check or
    * silently double-count df/dl. Callers that can see re-crawls must
    * resolve them first — [[graft.streaming.StreamIngest.mergeStreamed]]
    * filters each url to its latest micro-batch before this tail. */
  def fromUrlTermTf(spark: SparkSession, seg: org.apache.spark.sql.DataFrame,
                    parts: Int, blockSize: Int = DefaultBlockSize,
                    openVocabulary: Boolean = false): BuiltIndex = {
    import spark.implicits._
    val urlRank = GlobalRank.scan(seg.select($"url").distinct(), Seq($"url"),
      lit(1L), "doc_id", parts)
    val numDocs = urlRank.total
    val docmap = urlRank.result.select($"doc_id", $"url")

    // docmap join: broadcast while the map fits executor memory (sub-10M
    // docs ≈ <1 GB); beyond that fall back to a shuffle join (at 10^12 docs
    // the production layout bucket-joins on url instead)
    val docmapSide = if (numDocs <= 10_000_000L) broadcast(docmap) else docmap

    val postings = seg.join(docmapSide, Seq("url"))
      .select($"term", $"doc_id", $"tf")
      .persist(StorageLevel.DISK_ONLY) // read by range-sampling, the blocks
      // shuffle, and the dl aggregation — persist beats recomputing the join
    val blocks =
      if (openVocabulary) {
        // no term dictionary at all: the shuffle sorts (term-string asc,
        // tf desc, doc asc) directly. Costs string comparisons in the sort,
        // buys independence from any vocabulary bound — for corpora where
        // collecting the distinct term set to the driver is not an option.
        // Output blocks are identical to the encoded path (same total
        // order, same run cuts) — IndexSpec asserts rank-identity.
        postings
          .select($"term", $"doc_id", (lit(Int.MaxValue) - $"tf").as("neg_tf"))
          .repartitionByRange(parts, $"term".asc, $"neg_tf".asc, $"doc_id".asc)
          .sortWithinPartitions($"term".asc, $"neg_tf".asc, $"doc_id".asc)
          .as[(String, Long, Int)]
          .mapPartitions { it =>
            encodeRuns[String](it.map { case (t, d, ntf) =>
              (t, d, Int.MaxValue - ntf)
            }, blockSize, identity)
          }
          .persist(StorageLevel.MEMORY_AND_DISK)
      } else {
        // --- term-dictionary encoding for the heavy shuffle ---
        // The blocks range shuffle + sort is the build's dominant cost.
        // Terms are dictionary-encoded to dense ints FIRST (sorted order ⇒
        // id order ≡ term order, so range partitioning, sort order and
        // block order are all unchanged), and (tid asc, tf desc) is PACKED
        // into one 8-byte key: tid in the high 32 bits, bit-flipped tf in
        // the low 32. One long first sort column means Spark's radix-
        // capable prefix sort covers the whole (tid, tf) order, shuffle
        // rows shrink to (long, long), and the range partitioner samples a
        // primitive key — less memory traffic in the build's heaviest
        // stage. The term set must be collectable (lexicon-bounded here);
        // otherwise use openVocabulary = true. That contract is ENFORCED,
        // not assumed: the sorted distinct is fetched through take(cap+1),
        // so an unbounded vocabulary fails loudly after a bounded driver
        // transit instead of OOMing the driver mid-collect (the same
        // loud-cliff discipline as the Fnv / 2^31-doc guards).
        val termArr = postings.select($"term").distinct().orderBy($"term")
          .as[String].take(VocabularyCap + 1)
        if (termArr.length > VocabularyCap) {
          // no BuiltIndex reaches the caller to release() what this build pinned
          postings.unpersist(); urlRank.sorted.unpersist()
          throw new IllegalArgumentException(
            s"closed-vocabulary build saw more than $VocabularyCap distinct terms — " +
            "the term dictionary no longer fits the driver; rebuild with openVocabulary = true")
        }
        val termOf = spark.sparkContext.broadcast(termArr)
        val termDim = spark.createDataFrame(
          termArr.toIndexedSeq.zipWithIndex).toDF("term", "tid")
        postings
          .join(broadcast(termDim), Seq("term")) // codegen'd: no typed lambda
          .select(packKeyCol($"tid", $"tf").as("key"), $"doc_id")
          .repartitionByRange(parts, $"key".asc, $"doc_id".asc)
          .sortWithinPartitions($"key".asc, $"doc_id".asc)
          .as[(Long, Long)]
          .mapPartitions { it =>
            encodeRuns[Int](it.map((unpackKey _).tupled), blockSize, termOf.value(_))
          }
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
    val dictionary = blocks.groupBy($"term")
      .agg(sum($"n").as("df"), max($"max_tf").as("max_tf")).as[DictEntry]
    val docs = docmap.join(
        postings.groupBy($"doc_id").agg(sum($"tf").as("dl")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("dl")).as[DocMeta]
    BuiltIndex(docs, dictionary, blocks, scratch = Seq(urlRank.sorted, postings))
  }

  /** Back-compat shim for callers holding primitive (tid, doc, tf) streams. */
  private[graft] def encodeBlocks(it: Iterator[(Int, Long, Int)],
                                  blockSize: Int,
                                  termOf: Array[String]): Iterator[PostingBlock] =
    encodeRuns[Int](it, blockSize, termOf(_))

  /** Cut a partition's (termKey, tf desc, doc asc)-sorted posting stream
    * into compressed blocks of ≤ blockSize postings per term run. The key is
    * whatever the shuffle sorted on (dense int id or the term string);
    * `nameOf` resolves it to the stored term string once per block. */
  private[graft] def encodeRuns[K](it: Iterator[(K, Long, Int)],
                                   blockSize: Int,
                                   nameOf: K => String): Iterator[PostingBlock] = {
    val pid = TaskContext.getPartitionId()
    new Iterator[PostingBlock] {
      private val buf = it.buffered
      private var curTid: Option[K] = None
      private var blockSeq = 0
      def hasNext: Boolean = buf.hasNext
      def next(): PostingBlock = {
        val runKey = buf.head._1
        if (!curTid.contains(runKey)) { curTid = Some(runKey); blockSeq = 0 }
        val curTerm = nameOf(runKey)
        val ids = new scala.collection.mutable.ArrayBuffer[Long](blockSize)
        val tfs = new scala.collection.mutable.ArrayBuffer[Int](blockSize)
        var maxTf = Int.MinValue
        while (buf.hasNext && buf.head._1 == runKey && ids.length < blockSize) {
          val p = buf.next()
          ids += p._2; tfs += p._3
          if (p._3 > maxTf) maxTf = p._3
        }
        // store by doc_id for delta coding; perm maps serving rank (the
        // arrival order here: tf desc, doc asc) → doc-order position
        val order = ids.indices.sortBy(ids(_)).toArray
        val sortedIds = order.map(ids(_))
        val sortedTfs = order.map(tfs(_))
        // order(p) = serving rank of doc-order position p ⇒ inverting gives
        // perm(servingRank) = doc-order position, which is what decode walks
        val perm = new Array[Int](order.length)
        var p = 0
        while (p < order.length) { perm(order(p)) = p; p += 1 }
        val b = PostingBlock(curTerm, pid, blockSeq, sortedIds.length, maxTf,
          Varbyte.encodeDeltas(sortedIds), Varbyte.encodeInts(sortedTfs),
          Varbyte.encodeInts(perm))
        blockSeq += 1
        b
      }
    }
  }

  /** Decode a block to (doc_id, tf) in SERVING order (tf desc, doc asc) —
    * a permutation walk, no sort. */
  def decodeBlock(b: PostingBlock): Array[(Long, Int)] = {
    val ids = Varbyte.decodeDeltas(b.docs_vb, b.n)
    val tfs = Varbyte.decodeInts(b.tfs_vb, b.n)
    val perm = Varbyte.decodeInts(b.perm_vb, b.n)
    Array.tabulate(b.n) { r => val p = perm(r); (ids(p), tfs(p)) }
  }

  /** Decode in stored (doc_id asc) order — for scorers that don't need
    * serving order (BM25 accumulation), skipping the permutation walk. */
  def decodeBlockDocOrder(b: PostingBlock): (Array[Long], Array[Int]) =
    (Varbyte.decodeDeltas(b.docs_vb, b.n), Varbyte.decodeInts(b.tfs_vb, b.n))
}
