package graft.index

import scala.io.Source
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.oracle.Oracle
import graft.query.Searcher

/** End-to-end index correctness: the distributed Spark build + driver-side
  * serving path must be RANK-IDENTICAL (urls and exact double scores) to the
  * single-threaded oracle on the reference query set, at multiple N values
  * (exercising the idf==0 int-division drop branch and the n < df −∞ idf
  * the reference keeps) and at multiple
  * parallelism levels (determinism of the salted/range-partitioned build).
  */
class IndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("index-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val numDocs = 300
  lazy val pagesLocal = Corpus.generateLocal(numDocs)
  lazy val oracleIndex =
    Oracle.buildIndex(pagesLocal.map(p => (p.url, new String(p.html, "UTF-8"))), Corpus.lexicon)
  lazy val built = IndexBuild.build(spark, Corpus.generate(spark, numDocs),
    Corpus.lexicon, parts = 5, blockSize = 64)

  def queries: Seq[String] =
    Source.fromInputStream(getClass.getResourceAsStream("/queries.txt"), "UTF-8")
      .getLines().toVector

  test("closed-vocabulary build fails loudly past the vocabulary cap") {
    import spark.implicits._
    val triples = Seq(
      ("u/a", "alpha", 2), ("u/a", "beta", 1), ("u/b", "gamma", 3),
      ("u/b", "delta", 1), ("u/c", "epsilon", 2), ("u/c", "zeta", 1)
    ).toDF("url", "term", "tf")
    sys.props("graft.vocab.cap") = "4"
    try {
      val e = intercept[IllegalArgumentException] {
        IndexBuild.fromUrlTermTf(spark, triples, parts = 2)
      }
      assert(e.getMessage.contains("openVocabulary"),
        s"guard must point at the open-vocabulary path, got: ${e.getMessage}")
      // the pointed-at remediation works on the same input under the cap
      val open = IndexBuild.fromUrlTermTf(spark, triples, parts = 2,
        openVocabulary = true)
      assert(open.blocks.count() == 6L)
      open.release()
    } finally sys.props.remove("graft.vocab.cap")
  }

  test("varbyte round-trip (seeded property sweep)") {
    val rng = new scala.util.Random(42)
    // boundary values around every 7-bit group edge
    val edges = Array(0L, 1L, 127L, 128L, 129L, 16383L, 16384L, (1L << 21) - 1,
      1L << 21, (1L << 28) - 1, 1L << 28, (1L << 35), (1L << 42), (1L << 56),
      Long.MaxValue / 2)
    assert(Varbyte.decode(Varbyte.encode(edges), edges.length).sameElements(edges))
    for (_ <- 1 to 200) {
      val n = rng.nextInt(300)
      val arr = Array.fill(n)(math.abs(rng.nextLong()) % (1L << rng.nextInt(56)))
      assert(Varbyte.decode(Varbyte.encode(arr), arr.length).sameElements(arr))
      val sorted = arr.distinct.sorted
      if (sorted.nonEmpty)
        assert(Varbyte.decodeDeltas(Varbyte.encodeDeltas(sorted), sorted.length)
          .sameElements(sorted))
    }
  }

  test("engine postings are identical to oracle postings (order, tf, tfn)") {
    val searcher = Searcher.fromIndex(built, numDocs)
    // reconstruct per-term posting lists from blocks, in serving order
    import spark.implicits._
    val blocks = built.blocks.collect().groupBy(_.term)
      .map { case (t, bs) => t -> bs.sortBy(b => (b.part_id, b.seq)).toIndexedSeq }
    val docs = built.docs.collect().map(d => d.doc_id -> d.url).toMap
    val dict = built.dictionary.collect().map(d => d.term -> d).toMap

    assert(blocks.keySet == oracleIndex.keySet)
    for ((term, oraclePosts) <- oracleIndex) {
      val enginePosts = blocks(term).flatMap(b => IndexBuild.decodeBlock(b))
        .map { case (id, tf) => (docs(id), tf, 0.4 + 0.6 * tf / dict(term).max_tf) }
      val expected = oraclePosts.map(p => (p.url, p.tf, p.tfn))
      assert(enginePosts == expected, s"postings for term '$term'")
    }
  }

  test("rank-identical top-k vs oracle on the reference query set") {
    val searcher = Searcher.fromIndex(built, numDocs)
    // n = numDocs exercises the idf==0 drop (head terms have df ≈ N);
    // n = 300000 is the reference's production setting (README step 7);
    // n = 10 puts head terms' df above n (n/df == 0, idf −∞, kept)
    for (n <- Seq(numDocs, 300000, 10)) {
      val s = if (n == numDocs) searcher
              else Searcher.fromIndex(built, n)
      for (q <- queries) {
        val engine = s.referenceTopK(q)
        val oracle = Oracle.score(q, n, oracleIndex)
        assert(engine == oracle, s"query '$q' at N=$n")
      }
    }
  }

  test("rank-identical top-k with the 0.7/0.3 PageRank blend flag") {
    val (ranksDs, _) = graft.rank.PageRank.compute(spark, Corpus.generate(spark, numDocs))
    val ranks = ranksDs.collect().map(r => r.url -> r.rank).toMap
    // blend keys pagerank by the PageRank-normalized self url
    val pr: String => Double =
      url => ranks.getOrElse(graft.rank.RefUrl.selfNormalize(url), 0.0)
    val s = Searcher.fromIndex(built, numDocs)
    for (q <- queries) {
      val engine = s.referenceTopK(q, Some(pr))
      val oracle = Oracle.score(q, numDocs, oracleIndex, Some(pr))
      assert(engine == oracle, s"blend query '$q'")
    }
  }

  test("Dataset-operations query path matches the driver-side searcher") {
    val s = Searcher.fromIndex(built, numDocs)
    for (q <- queries) {
      val ds = graft.query.QueryOps.referenceTopK(spark, built, q, numDocs)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toList
      val driver = s.referenceTopK(q)
      // bit-identical: the Dataset path folds contributions in query-term
      // order, exactly like the driver-side scorer
      assert(ds == driver, s"results for '$q'")
    }
  }

  test("batch query-log replay matches per-query serving bit-identically") {
    val s = Searcher.fromIndex(built, numDocs)
    val byQid = graft.query.QueryOps.batchReferenceTopK(spark, built, queries, numDocs)
      .collect().groupBy(_.getInt(0))
    for ((q, qi) <- queries.zipWithIndex) {
      val got = byQid.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
        .map(r => (r.getString(2), r.getDouble(3))).toList
      assert(got == s.referenceTopK(q), s"batch query '$q'")
    }
  }

  test("open-vocabulary build (no term dictionary anywhere) is block-identical") {
    import spark.implicits._
    // the string-keyed shuffle must cut exactly the same blocks as the
    // dictionary-encoded path (same total order, same run boundaries)
    val lex = spark.sparkContext.broadcast(Corpus.lexicon)
    val triples = Corpus.generate(spark, numDocs).flatMap { p =>
      graft.text.Text.termCounts(p.url, new String(p.html, "UTF-8"), lex.value)
        .iterator.collect { case (t, tf) if t.length <= 100 => (p.url, t, tf) }
    }.toDF("url", "term", "tf")
    val open = IndexBuild.fromUrlTermTf(spark, triples, parts = 5,
      blockSize = 64, openVocabulary = true)
    // per-term GLOBAL posting streams (serving order across blocks) must be
    // identical — block cut points may differ (range-sampler boundaries)
    def streams(b: BuiltIndex): Map[String, Seq[(Long, Int)]] =
      b.blocks.collect().groupBy(_.term).map { case (t, bs) =>
        t -> bs.sortBy(x => (x.part_id, x.seq))
          .flatMap(IndexBuild.decodeBlock).toSeq
      }
    assert(streams(open) == streams(built))
    assert(open.dictionary.collect().sortBy(_.term).toSeq ==
      built.dictionary.collect().sortBy(_.term).toSeq)
    val sOpen = Searcher.fromIndex(open, numDocs)
    val sEnc = Searcher.fromIndex(built, numDocs)
    for (q <- queries.take(6))
      assert(sOpen.referenceTopK(q) == sEnc.referenceTopK(q), s"open-vocab '$q'")
  }

  test("fromUrlTermTf doc ids stay dense and identical under a downstream coalesce") {
    import spark.implicits._
    val n = 400
    val triples = (0 until n).flatMap { i =>
      val url = f"http://h${i % 13}.example/p/$i%04d"
      Seq((url, "alpha", 1 + i % 3), (url, s"t${i % 17}", 2))
    }.toDF("url", "term", "tf")
    for (p <- Seq(3, 5)) {
      val b = IndexBuild.fromUrlTermTf(spark, triples, parts = p, blockSize = 64)
      def idsOf(docs: org.apache.spark.sql.DataFrame): Map[String, Long] = {
        val rows = docs.select($"url", $"doc_id").as[(String, Long)].collect()
        assert(rows.length == n, s"parts=$p: ${rows.length} rows")
        rows.toMap
      }
      val plain = idsOf(b.docs.toDF())
      // a coalesce fuses the docmap pass into one task
      val fused = idsOf(b.docs.toDF().coalesce(1))
      assert(plain.values.toSeq.sorted == (0L until n.toLong),
        s"parts=$p: ids are not 0 until $n")
      val distinct = fused.values.toSet.size
      assert(distinct == n, s"parts=$p: $distinct distinct ids under coalesce(1)")
      assert(fused == plain, s"parts=$p: coalesce changed the url -> doc_id map")
      b.release()
    }
  }

  test("build is deterministic across parallelism levels") {
    val built8 = IndexBuild.build(spark, Corpus.generate(spark, numDocs),
      Corpus.lexicon, parts = 11, blockSize = 64)
    val s5 = Searcher.fromIndex(built, numDocs)
    val s8 = Searcher.fromIndex(built8, numDocs)
    for (q <- queries)
      assert(s5.referenceTopK(q) == s8.referenceTopK(q), s"query '$q'")
    // dictionaries identical
    val d5 = built.dictionary.collect().sortBy(_.term).toSeq
    val d8 = built8.dictionary.collect().sortBy(_.term).toSeq
    assert(d5 == d8)
  }

  test("empty corpus and empty/absent queries degrade gracefully") {
    import spark.implicits._
    val empty = IndexBuild.build(spark, spark.emptyDataset[graft.corpus.Page],
      Corpus.lexicon, parts = 2, blockSize = 64)
    assert(empty.docs.count() == 0)
    assert(empty.dictionary.count() == 0)
    assert(empty.blocks.count() == 0)
    val s0 = Searcher.fromIndex(empty, 1000)
    assert(s0.referenceTopK("galaxy engine") == Nil)
    assert(s0.bm25TopK("galaxy engine") == Nil)
    val full = Searcher.fromIndex(built, numDocs)
    assert(full.referenceTopK("") == Nil)
    assert(full.referenceTopK("zzzabsent qqqmissing") == Nil)
    assert(full.bm25TopK("") == Nil)
  }

  test("url hygiene filter matches reference semantics on adversarial urls") {
    import spark.implicits._
    // clean corpus + pages whose urls URL-decode to kept (space, '+'),
    // skipped (quote, %22, "null", control char), or THROWING (malformed
    // escape — empties the whole term's posting list, Backend.java:309-313)
    val pages = Corpus.generateLocal(80) ++ Corpus.adversarialPages
    val oracleIdx = Oracle.buildIndex(
      pages.map(p => (p.url, new String(p.html, "UTF-8"))), Corpus.lexicon)
    val b = IndexBuild.build(spark, spark.createDataset(pages), Corpus.lexicon,
      parts = 3, blockSize = 64)
    val qs = Seq("telescope", "observation comet", "nebula gravity", "asteroid",
      "telescope discovery orbit", "expedition", "observation") ++ queries.take(5)
    for (n <- Seq(pages.length, 300000, 10)) {
      val s = Searcher.fromIndex(b, n)
      for (q <- qs)
        assert(s.referenceTopK(q) == Oracle.score(q, n, oracleIdx),
          s"adversarial query '$q' at N=$n")
    }
    // kept rows surface under their DECODED url (space, not %20)
    val s = Searcher.fromIndex(b, 300000)
    val obs = s.referenceTopK("observation").map(_._1)
    assert(obs.contains("http://adv.example/a b/doc1"))
    assert(!obs.exists(_.contains("%20")))
    // the DISTRIBUTED Dataset path applies the same filter BEFORE the
    // 200-cap (round-3 gap closure): single-query and batch replay must
    // both equal the driver-side searcher on the adversarial corpus
    for (n <- Seq(pages.length, 300000, 10)) {
      val sr = Searcher.fromIndex(b, n)
      for (q <- qs) {
        val ds = graft.query.QueryOps.referenceTopK(spark, b, q, n)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toList
        assert(ds == sr.referenceTopK(q), s"QueryOps adversarial '$q' at N=$n")
      }
      val byQid = graft.query.QueryOps.batchReferenceTopK(spark, b, qs, n)
        .collect().groupBy(_.getInt(0))
      for ((q, qi) <- qs.zipWithIndex) {
        val got = byQid.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
          .map(r => (r.getString(2), r.getDouble(3))).toList
        assert(got == sr.referenceTopK(q), s"batch adversarial '$q' at N=$n")
      }
      // the BLOOM hygiene pre-screen (suspect-mark → exact per-term verify →
      // ordered replay) must land on the identical rows — forced here, since
      // this corpus's flagged set is far below the auto-switch cap
      val (bloomPlan, bloomScratch) = graft.query.QueryOps.batchReferenceTopKPlan(
        spark, b, qs, n, forceBloomHygiene = true)
      val byQidBloom = bloomPlan.collect().groupBy(_.getInt(0))
      bloomScratch.foreach(_.unpersist())
      for ((q, qi) <- qs.zipWithIndex) {
        val got = byQidBloom.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
          .map(r => (r.getString(2), r.getDouble(3))).toList
        assert(got == sr.referenceTopK(q), s"bloom batch adversarial '$q' at N=$n")
      }
    }
  }

  test("batch replay falls back off the broadcast hint above the row cap") {
    val s = Searcher.fromIndex(built, numDocs)
    // tiny thresholds force BOTH fallback branches (full docs scan + no
    // broadcast hint on the scored side); results must stay bit-identical
    // plan-shape assertions need the LAZY plan (the public API eagerly
    // checkpoints, which collapses hints/cache nodes out of the plan string)
    val (df, scratch) = graft.query.QueryOps.batchReferenceTopKPlan(spark, built,
      queries, numDocs, isinThreshold = 4, broadcastRowCap = 10)
    // no broadcast hint on the scored/docs join: the index lineage carries
    // its own (build-time) hints, so compare RELATIVE to the default-
    // threshold plan — the fallback must place exactly one fewer hint (AQE
    // may still pick a broadcast join from RUNTIME sizes — that's the point)
    def hintCount(d: org.apache.spark.sql.DataFrame): Int =
      "(?i)resolvedhint".r.findAllIn(d.queryExecution.analyzed.toString).size
    val (dfDefault, scratchDefault) =
      graft.query.QueryOps.batchReferenceTopKPlan(spark, built, queries, numDocs)
    assert(hintCount(df) == hintCount(dfDefault) - 1,
      s"fallback ${hintCount(df)} vs default ${hintCount(dfDefault)} hints")
    val byQid = df.collect().groupBy(_.getInt(0))
    for ((q, qi) <- queries.zipWithIndex) {
      val got = byQid.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
        .map(r => (r.getString(2), r.getDouble(3))).toList
      assert(got == s.referenceTopK(q), s"fallback batch query '$q'")
    }
    (scratch ++ scratchDefault).foreach(_.unpersist())
  }

  test("a 1000-query log replay stays un-broadcast and spot-checks identical") {
    val s = Searcher.fromIndex(built, numDocs)
    // deterministic synthetic query log over lexicon words (single + multi
    // term, duplicates included — the put-overwrite path)
    val words = Corpus.lexicon.toSeq.sorted
    val rng = new scala.util.Random(7)
    val log = (0 until 1000).map { i =>
      val n = 1 + rng.nextInt(3)
      (0 until n).map(_ => words(rng.nextInt(words.length))).mkString(" ")
    }
    // isinThreshold=0 forces the full-docs branch on this small corpus so
    // the batch-size row cap is what decides the join hint: the 1000-query
    // plan's worst-case scored rows (queries × terms × 200) exceed the cap
    // → no broadcast hint beyond the expansion table, unlike a tiny batch
    val (df, scratch) = graft.query.QueryOps.batchReferenceTopKPlan(spark, built,
      log, numDocs, isinThreshold = 0)
    def hintCount(d: org.apache.spark.sql.DataFrame): Int =
      "(?i)resolvedhint".r.findAllIn(d.queryExecution.analyzed.toString).size
    val (small, scratchSmall) = graft.query.QueryOps.batchReferenceTopKPlan(spark,
      built, log.take(2), numDocs, isinThreshold = 0)
    assert(hintCount(df) < hintCount(small),
      s"1000-query plan must drop a hint vs the 2-query plan")
    // the walked postings feed the plan from the persisted Dataset (an
    // in-memory relation), NEVER via a driver collect round-trip: the only
    // LocalTableScan allowed is the tiny (query_id, term, factor, qidx)
    // expansion table
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("InMemoryTableScan"),
      "walked postings must be read from the persisted Dataset")
    val localScans = "LocalTableScan \\[[^\\]]*\\]".r.findAllIn(planStr).toList
    assert(!localScans.exists(_.contains("doc_id")),
      s"walked postings transited the driver: $localScans")
    val rows = df.collect()
    val byQid = rows.groupBy(_.getInt(0))
    assert(byQid.values.forall(_.length <= 200))
    // spot-check 15 query ids against the driver-side scorer bit-identically
    for (qi <- 0 until 1000 by 67) {
      val got = byQid.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
        .map(r => (r.getString(2), r.getDouble(3))).toList
      assert(got == s.referenceTopK(log(qi)), s"log query $qi '${log(qi)}'")
    }
    (scratch ++ scratchSmall).foreach(_.unpersist())
  }

  test("distributed batch BM25 matches the driver tier per query (1e-6 rounding)") {
    val s = Searcher.fromIndex(built, numDocs)
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val byQid = graft.query.QueryOps.batchBm25TopK(spark, built, queries, k = 10)
      .collect().groupBy(_.getInt(0))
    for ((q, qi) <- queries.zipWithIndex) {
      val got = byQid.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
        .map(r => (r.getString(2), r6(r.getDouble(3)))).toList
      val want = s.bm25TopK(q, 10).map { case (u, sc) => (u, r6(sc)) }
      // equality up to FP-summation order: the driver accumulates in dynamic
      // impact order, the batch twin in pinned term-asc order — identical
      // values under the q31 oracle's 1e-6 rounding
      assert(got == want, s"batch bm25 '$q'")
    }
  }

  test("conjunctive batch BM25 = brute-force AND filter with identical scores") {
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val dict = built.dictionary.collect().map(d => d.term -> d).toMap
    val docRows = built.docs.collect()
    val urlOf = docRows.map(d => d.doc_id -> d.url).toMap
    val dlOf = docRows.map(d => d.doc_id -> d.dl).toMap
    val avgdl = docRows.map(_.dl.toDouble).sum / docRows.length
    val blocks = built.blocks.collect().groupBy(_.term)
    val got = graft.query.QueryOps.conjunctiveBm25TopK(spark, built, queries, k = 10)
      .collect().groupBy(_.getInt(0))
    for ((q, qi) <- queries.zipWithIndex) {
      val terms = graft.text.Text.parseQuery(q).distinct.sorted
      val expected =
        if (!terms.forall(dict.contains) || terms.isEmpty) List.empty
        else {
          // per-doc contributions in term-asc fold order, docs must hit all
          val perDoc = scala.collection.mutable.HashMap.empty[Long, (Double, Int)]
          for (t <- terms; b <- blocks(t); (id, tf) <- IndexBuild.decodeBlock(b)) {
            val d = dict(t)
            val idf = math.log((numDocs - d.df + 0.5) / (d.df + 0.5) + 1.0)
            val c = idf * (tf * (1.2 + 1)) /
              (tf + 1.2 * (1 - 0.75 + 0.75 * dlOf(id) / avgdl))
            val (s0, n0) = perDoc.getOrElse(id, (0.0, 0))
            perDoc(id) = (s0 + c, n0 + 1)
          }
          perDoc.iterator.collect { case (id, (sc, n)) if n == terms.size => (urlOf(id), sc) }
            .toList.sortBy { case (u, sc) => (-sc, u) }.take(10)
            .map { case (u, sc) => (u, r6(sc)) }
        }
      val gotQ = got.getOrElse(qi, Array.empty).sortBy(_.getInt(1))
        .map(r => (r.getString(2), r6(r.getDouble(3)))).toList
      assert(gotQ == expected, s"conjunctive '$q'")
    }
    // sanity: AND semantics actually bind — some multi-term query must
    // return fewer docs than its disjunctive twin
    val disTotal = graft.query.QueryOps.batchBm25TopK(spark, built, queries, k = 10).count()
    val conTotal = got.values.map(_.length).sum
    assert(conTotal < disTotal, s"conjunction never bound: $conTotal vs $disTotal")
  }

  test("bm25 block-max path agrees with exhaustive scoring") {
    val s = Searcher.fromIndex(built, numDocs)
    // exhaustive: same formula, no pruning, via oracle-side recompute
    val dict = built.dictionary.collect().map(d => d.term -> d).toMap
    val docs = built.docs.collect()
    val urlOf = docs.map(d => d.doc_id -> d.url).toMap
    val dlOf = docs.map(d => d.doc_id -> d.dl).toMap
    val avgdl = docs.map(_.dl.toDouble).sum / docs.length
    val blocks = built.blocks.collect().groupBy(_.term)
    // the fixed queries plus 50 generated 1-4-term queries drawn from the
    // dictionary (fixed seed): multi-term finish-pass exactness beyond
    // hand-picked inputs
    val vocab = dict.keys.toVector.sorted
    val genQuery = for {
      n <- Gen.choose(1, 4)
      ts <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ts.mkString(" ")
    val generated = Gen.listOfN(50, genQuery).pureApply(Gen.Parameters.default, Seed(383L))
    for (q <- Seq("galaxy engine", "prince officer soldier", "the of", "history") ++ generated) {
      val terms = (graft.text.Text.parseQuery(q).toSet
        .flatMap((t: String) => Set(t, graft.text.PorterStemmer.stem(t))))
        .toSeq.sorted.filter(dict.contains)
      val acc = scala.collection.mutable.HashMap.empty[Long, Double]
      for (t <- terms; b <- blocks(t); (id, tf) <- IndexBuild.decodeBlock(b)) {
        val d = dict(t)
        val idf = math.log((numDocs - d.df + 0.5) / (d.df + 0.5) + 1.0)
        val c = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dlOf(id) / avgdl))
        acc.update(id, acc.getOrElse(id, 0.0) + c)
      }
      val exhaustive = acc.toList.sortBy { case (id, sc) => (-sc, urlOf(id)) }
        .take(10).map { case (id, sc) => (urlOf(id), sc) }
      val pruned = s.bm25TopK(q, 10)
      assert(pruned.map(_._1) == exhaustive.map(_._1), s"bm25 urls for '$q'")
      for ((p, e) <- pruned.zip(exhaustive))
        assert(math.abs(p._2 - e._2) < 1e-9, s"bm25 score for '$q'")
    }
  }
}
