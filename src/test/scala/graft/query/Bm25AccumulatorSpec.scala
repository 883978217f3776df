package graft.query

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DictEntry, IndexBuild}

/** The dense per-thread BM25 accumulator: its own contract (repeat adds,
  * the running (k+1)-heap's k-th and (k+1)-th scores and candidates,
  * first-touch order, O(touched) reset), a tie at the k-th score resolved by
  * url exactly as exhaustive scoring does, and that reusing it across
  * queries and threads never changes an answer — a reused searcher must
  * equal a fresh one bit for bit, or a stale reset or a shared accumulator
  * leaked scores between queries. */
class Bm25AccumulatorSpec extends AnyFunSuite {

  test("repeat adds sum per id and return the running value") {
    val acc = new Bm25Accumulator(8)
    acc.start(1)
    assert(acc.add(3L, 1.5) == 1.5)
    assert(acc.add(5L, 0.25) == 0.25)
    assert(acc.add(3L, 2.0) == 3.5)
    assert(acc.add(3L, 0.5) == 4.0)
    assert(acc.size == 2)
    assert(acc.collectAtLeast(Double.NegativeInfinity) == Seq((3L, 4.0), (5L, 0.25)))
  }

  /** (k-th, (k+1)-th) score of a fresh accumulator tracking k after `adds`. */
  private def kthAndNextAfter(k: Int, adds: Seq[(Long, Double)]): (Double, Double) = {
    val acc = new Bm25Accumulator(100)
    acc.start(k)
    adds.foreach { case (id, c) => acc.add(id, c) }
    (acc.kthScore, acc.nextScore)
  }

  test("kthScore and nextScore with at most k and more than k touched ids") {
    val three = Seq(7L -> 2.0, 1L -> 9.0, 4L -> 5.0)
    // ≤ k entries: the smallest value, and 0 for the missing (k+1)-th
    assert(kthAndNextAfter(3, three) == ((2.0, 0.0)))
    assert(kthAndNextAfter(10, three) == ((2.0, 0.0)))
    // > k entries: the k-th and (k+1)-th largest
    val five = three ++ Seq(20L -> 7.0, 30L -> 3.0)
    assert(kthAndNextAfter(1, five) == ((9.0, 7.0)))
    assert(kthAndNextAfter(2, five) == ((7.0, 5.0)))
    assert(kthAndNextAfter(4, five) == ((3.0, 2.0)))
    assert(kthAndNextAfter(10, five ++ (50 until 100).map(i => i.toLong -> i.toDouble)) == ((90.0, 89.0)))
  }

  test("after every add the heap's k-th, (k+1)-th and candidates equal a full sort") {
    val rng = new scala.util.Random(4242L)
    val numDocs = 300
    // one accumulator reused across k, as a searcher thread reuses it
    val acc = new Bm25Accumulator(numDocs)
    for (k <- Seq(1, 3, 10, 40); round <- 0 until 3) {
      acc.start(k)
      val model = mutable.LinkedHashMap.empty[Long, Double]
      // ids from a narrow range repeat often; quarter-step values sum
      // exactly, so many scores tie; zeros add nothing
      val idRange = Seq(k + 5, 4 * k + 20, numDocs)(round)
      for (step <- 0 until 1500) {
        val id = rng.nextInt(idRange).toLong
        val c = rng.nextInt(10) match {
          case 0 => 0.0
          case 1 => rng.nextDouble() * 3
          case q => (q % 4) * 0.25 + 0.25
        }
        val v = acc.add(id, c)
        model(id) = model.getOrElse(id, 0.0) + c
        assert(v == model(id), s"k=$k step $step: running value")
        val sorted = model.values.toArray.sorted(Ordering.Double.TotalOrdering.reverse)
        val kth = sorted(math.min(k, sorted.length) - 1)
        val next = if (sorted.length > k) sorted(k) else 0.0
        assert(acc.kthScore == kth, s"k=$k round $round step $step: k-th")
        assert(acc.nextScore == next, s"k=$k round $round step $step: (k+1)-th")
        val want = model.filter { case (_, sc) => sorted.length <= k || sc >= kth }.toSet
        assert(acc.candidates().toSet == want, s"k=$k round $round step $step: candidates")
      }
      assert(acc.size == model.size)
      acc.reset()
    }
  }

  test("collectAtLeast keeps first-touch order, not id or score order") {
    val acc = new Bm25Accumulator(10)
    acc.start(2)
    Seq(9L -> 1.0, 2L -> 4.0, 6L -> 3.0, 0L -> 0.5, 2L -> 1.0).foreach { case (id, c) => acc.add(id, c) }
    assert(acc.collectAtLeast(1.0) == Seq((9L, 1.0), (2L, 5.0), (6L, 3.0)))
    assert(acc.collectAtLeast(Double.NegativeInfinity).map(_._1) == Seq(9L, 2L, 6L, 0L))
  }

  test("touched list grows to every doc; reset forgets all of them") {
    val n = 20000
    val acc = new Bm25Accumulator(n)
    acc.start(10)
    for (i <- (n - 1) to 0 by -1) acc.add(i.toLong, i.toDouble)
    for (i <- 0 until n) assert(acc.add(i.toLong, 1.0) == i + 1.0, s"id $i")
    assert(acc.size == n)
    assert(acc.collectAtLeast(Double.NegativeInfinity).head == ((n - 1).toLong, n.toDouble))
    acc.reset()
    assert(acc.size == 0 && acc.collectAtLeast(Double.NegativeInfinity).isEmpty)
    assert(acc.add(5L, 0.5) == 0.5, "a reset id starts from its first contribution")
  }

  test("BM25 past Int.MaxValue docs fails loudly") {
    val s = new Searcher(10, Map("galaxy" -> DictEntry("galaxy", 1L, 1)),
      _ => IndexedSeq.empty, _ => "u", Array(Bm25.lengthNorm(1L, 1.0)), 1.0, 1L, Int.MaxValue.toLong * 3L)
    val e = intercept[IllegalArgumentException](s.bm25TopK("galaxy"))
    assert(e.getMessage.contains("bounded at"), e.getMessage)
  }

  // ---------------------------------------------------------- reuse property
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bm25-accumulator-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // small blocks → many blocks per term, so the stop rule and the
  // finish pass both run
  private lazy val built = IndexBuild.build(
    spark, graft.corpus.Corpus.generate(spark, 1000),
    graft.corpus.Corpus.lexicon, parts = 4, blockSize = 16)

  private lazy val artifacts = {
    val dict = built.dictionary.collect().map(d => d.term -> d).toMap
    val blocks = Searcher.groupBlocks(built.blocks.collect().toIndexedSeq)
    val docs = built.docs.collect()
    val url = new Array[String](docs.length)
    val dl = new Array[Long](docs.length)
    docs.foreach { d => url(d.doc_id.toInt) = d.url; dl(d.doc_id.toInt) = d.dl }
    (dict, blocks, url, dl)
  }

  /** A new Searcher over the same collected artifacts as [[Searcher.fromIndex]]. */
  private def freshSearcher(): Searcher = {
    val (dict, blocks, url, dl) = artifacts
    val avgdl = dl.sum.toDouble / dl.length
    new Searcher(1000, dict, t => blocks.getOrElse(t, IndexedSeq.empty),
      id => url(id.toInt), dl.map(Bm25.lengthNorm(_, avgdl)), avgdl, dl.min, dl.length.toLong)
  }

  test("more than k docs tied at the k-th score: the k smallest urls, as exhaustive scoring") {
    val sp = spark
    import sp.implicits._
    val ts = new java.sql.Timestamp(0L)
    def page(url: String, body: String) =
      graft.corpus.Page(url, ts, s"<html><body>$body</body></html>".getBytes("UTF-8"), "", "en")
    // 30 identical pages tie; 10 others never match
    val tied = (0 until 30).map(i => f"http://tie.example/p$i%02d")
    val pages = tied.reverse.map(page(_, "comet engine comet")) ++
      (0 until 10).map(i => page(s"http://other.example/$i", "engine history"))
    val idx = IndexBuild.build(spark, spark.createDataset(pages), graft.corpus.Corpus.lexicon,
      parts = 2, blockSize = 4)
    val s = Searcher.fromIndex(idx, pages.length)

    val dict = idx.dictionary.collect().map(d => d.term -> d).toMap
    val docs = idx.docs.collect()
    val avgdl = docs.map(_.dl.toDouble).sum / docs.length
    val dlOf = docs.map(d => d.doc_id -> d.dl).toMap
    val urlOf = docs.map(d => d.doc_id -> d.url).toMap
    val blocks = idx.blocks.collect().groupBy(_.term)
    // one query term ("comet" is its own stem): the tied docs are touched in
    // url order, so the first of them, the smallest url, sits at the heap
    // root, and only the tie scan returns it
    assert(Searcher.expansionTerms("comet").filter(dict.contains) == Seq("comet"))
    val all = mutable.HashMap.empty[Long, Double]
    for (b <- blocks("comet"); (id, tf) <- IndexBuild.decodeBlock(b)) {
      val c = Bm25.contribution(Bm25.idf(docs.length, dict("comet").df), tf, dlOf(id), avgdl)
      all(id) = all.getOrElse(id, 0.0) + c
    }
    assert(all.size == tied.size && all.values.toSet.size == 1, "every tied page scores the same")
    for (k <- Seq(1, 3, 10, 29)) {
      val exhaustive = all.toList.map { case (id, sc) => (urlOf(id), sc) }
        .sortBy { case (u, sc) => (-sc, u) }.take(k)
      val got = s.bm25TopK("comet", k)
      assert(got.map(_._1) == tied.take(k), s"k=$k")
      assert(got == exhaustive, s"k=$k")
    }
  }

  private def bits(r: List[(String, Double)]): List[(String, Long)] =
    r.map { case (u, s) => (u, java.lang.Double.doubleToRawLongBits(s)) }

  test("a reused searcher, alone and from 4 threads at once, equals a fresh searcher bit for bit") {
    val terms = artifacts._1.keys.toVector.sorted
    val genQuery = for {
      n <- Gen.choose(1, 3)
      ws <- Gen.listOfN(n, Gen.frequency(9 -> Gen.oneOf(terms), 1 -> Gen.const("zzqx")))
      k <- Gen.oneOf(1, 3, 10, 40)
    } yield (ws.mkString(" "), k)
    val queries = Gen.listOfN(40, genQuery).pureApply(Gen.Parameters.default, Seed(1009L))
    val expected = queries.map { case (q, k) => bits(freshSearcher().bm25TopK(q, k)) }
    assert(expected.count(_.nonEmpty) >= 30, "queries must mostly hit the index")

    val reused = freshSearcher()
    queries.zip(expected).foreach { case ((q, k), want) =>
      assert(bits(reused.bm25TopK(q, k)) == want, s"reused searcher, query '$q' k=$k")
    }

    // one shared searcher, each thread walking the queries from a different
    // start so different queries overlap in time
    val shared = freshSearcher()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, List[(String, Long)])]] {
          def call(): Seq[(Int, List[(String, Long)])] =
            (0 until 3 * queries.length).map { j =>
              val qi = (j + t * 10) % queries.length
              val (q, k) = queries(qi)
              qi -> bits(shared.bm25TopK(q, k))
            }
        })
      }
      for ((run, t) <- runs.zipWithIndex; (qi, got) <- run.get()) {
        assert(got == expected(qi), s"thread $t, query '${queries(qi)._1}' k=${queries(qi)._2}")
      }
    } finally pool.shutdown()
  }
}
