package graft.query

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{DictEntry, IndexBuild}

/** The dense per-thread BM25 accumulator: its own contract (repeat adds,
  * k-th scan, first-touch order, O(touched) reset), and that reusing it
  * across queries and threads never changes an answer — a reused searcher
  * must equal a fresh one bit for bit, or a stale reset or a shared
  * accumulator leaked scores between queries. */
class Bm25AccumulatorSpec extends AnyFunSuite {

  test("repeat adds sum per id and return the running value") {
    val acc = new Bm25Accumulator(8)
    assert(acc.add(3L, 1.5) == 1.5)
    assert(acc.add(5L, 0.25) == 0.25)
    assert(acc.add(3L, 2.0) == 3.5)
    assert(acc.add(3L, 0.5) == 4.0)
    assert(acc.size == 2)
    assert(acc.collectAtLeast(Double.NegativeInfinity) == Seq((3L, 4.0), (5L, 0.25)))
  }

  test("kthAndNext with at most k and with more than k touched ids") {
    val acc = new Bm25Accumulator(100)
    Seq(7L -> 2.0, 1L -> 9.0, 4L -> 5.0).foreach { case (id, c) => acc.add(id, c) }
    // ≤ k entries: the smallest value, and 0 for the missing (k+1)-th
    assert(acc.kthAndNext(3) == ((2.0, 0.0)))
    assert(acc.kthAndNext(10) == ((2.0, 0.0)))
    // > k entries: the k-th and (k+1)-th largest
    Seq(20L -> 7.0, 30L -> 3.0).foreach { case (id, c) => acc.add(id, c) }
    assert(acc.kthAndNext(1) == ((9.0, 7.0)))
    assert(acc.kthAndNext(2) == ((7.0, 5.0)))
    assert(acc.kthAndNext(4) == ((3.0, 2.0)))
    for (i <- 50 until 100) acc.add(i.toLong, i.toDouble)
    assert(acc.kthAndNext(10) == ((90.0, 89.0)))
  }

  test("collectAtLeast keeps first-touch order, not id or score order") {
    val acc = new Bm25Accumulator(10)
    Seq(9L -> 1.0, 2L -> 4.0, 6L -> 3.0, 0L -> 0.5, 2L -> 1.0).foreach { case (id, c) => acc.add(id, c) }
    assert(acc.collectAtLeast(1.0) == Seq((9L, 1.0), (2L, 5.0), (6L, 3.0)))
    assert(acc.collectAtLeast(Double.NegativeInfinity).map(_._1) == Seq(9L, 2L, 6L, 0L))
  }

  test("touched list grows to every doc; reset forgets all of them") {
    val n = 20000
    val acc = new Bm25Accumulator(n)
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
      _ => IndexedSeq.empty, _ => "u", _ => 1L, 1.0, 1L, Int.MaxValue.toLong * 3L)
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
    new Searcher(1000, dict, t => blocks.getOrElse(t, IndexedSeq.empty),
      id => url(id.toInt), id => dl(id.toInt), dl.sum.toDouble / dl.length, dl.min, dl.length.toLong)
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
