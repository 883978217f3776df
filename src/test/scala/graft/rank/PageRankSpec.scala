package graft.rank

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{Corpus, Page}
import graft.oracle.PageRankOracle

class PageRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pagerank-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def toPages(ps: Seq[(String, String)]): Seq[Page] =
    ps.map { case (u, h) =>
      Page(u, new java.sql.Timestamp(0L), h.getBytes("UTF-8"), "", "en")
    }

  /** 5-node hand fixture (FIXTURES.md §5): cycle A↔B, C feeding A/B plus a
    * dangling target, an isolated sink D, a self-loop E. */
  val fixture: Seq[(String, String)] = Seq(
    "http://a.ex/p" -> """<a href="http://b.ex/p">b</a>""",
    "http://b.ex/p" -> """<a href="http://a.ex/p">a</a>""",
    "http://c.ex/p" -> """<a href="http://a.ex/p">a</a><a href="http://b.ex/p">b</a><a href="http://gone.ex/x">g</a>""",
    "http://d.ex/p" -> "no links",
    "http://e.ex/p" -> """<a href="http://e.ex/p">self</a>"""
  )

  test("one iteration algebra on the hand fixture") {
    // after 1 iter (pre-join masses): A gets 0.85*(1/1 from B + 1/3 from C),
    // B gets 0.85*(1 from A + 1/3 from C), D gets 0, E gets 0.85;
    // dangling gone.ex receives 0.85/3 but is dropped by the inner join.
    val (ranks, _) = PageRankOracle.pageRank(fixture, threshold = 1e18, percent = 0.0, maxIter = 1)
    def r(u: String) = ranks(s"http://$u.ex:80/p")
    assert(math.abs(r("a") - (0.85 * (1.0 + 1.0 / 3) + 0.15)) < 1e-12)
    assert(math.abs(r("b") - (0.85 * (1.0 + 1.0 / 3) + 0.15)) < 1e-12)
    assert(math.abs(r("c") - 0.15) < 1e-12)
    assert(math.abs(r("d") - 0.15) < 1e-12)
    assert(math.abs(r("e") - (0.85 + 0.15)) < 1e-12)
    assert(!ranks.contains("http://gone.ex:80/x"))
  }

  test("spark PageRank matches oracle on the hand fixture") {
    import spark.implicits._
    val pages = spark.createDataset(toPages(fixture))
    val (got, iters) = PageRank.compute(spark, pages, threshold = 0.01, percent = 0.8)
    val (expected, expIters) = PageRankOracle.pageRank(fixture, 0.01, 0.8)
    assert(iters == expIters)
    val gotMap = got.collect().map(r => r.url -> r.rank).toMap
    assert(gotMap.keySet == expected.keySet)
    for ((u, e) <- expected) assert(math.abs(gotMap(u) - e) < 1e-9, s"rank($u)")
  }

  test("spark PageRank matches oracle on the synthetic corpus") {
    val n = 120
    val pagesLocal = Corpus.generateLocal(n).map(p => (p.url, new String(p.html, "UTF-8")))
    val (expected, expIters) = PageRankOracle.pageRank(pagesLocal, 0.01, 0.8)
    val (got, iters) = PageRank.compute(spark, Corpus.generate(spark, n), 0.01, 0.8)
    assert(iters == expIters)
    val gotMap = got.collect().map(r => r.url -> r.rank).toMap
    assert(gotMap.keySet == expected.keySet)
    for ((u, e) <- expected) assert(math.abs(gotMap(u) - e) < 1e-9, s"rank($u)")
    assert(iters > 1, "corpus should take multiple iterations to converge")

    // reliable-checkpoint rounds (persist, checkpoint, drop the cache)
    val tmp = java.nio.file.Files.createTempDirectory("pagerank-ckpt").toString
    val (reliable, rIters) = PageRank.run(spark, PageRank.init(spark, Corpus.generate(spark, n)),
      0.01, 0.8, checkpointEvery = 2, checkpointDir = Some(tmp))
    assert(rIters == expIters)
    val reliableMap = reliable.collect().map(r => r.url -> r.rank).toMap
    assert(reliableMap.keySet == expected.keySet)
    for ((u, e) <- expected) assert(math.abs(reliableMap(u) - e) < 1e-9, s"reliable rank($u)")
  }

  test("init collapses urls that normalize to the same node (no double mass)") {
    import spark.implicits._
    // explicit :80 twin of a.ex/p → same normalized node; without dedupe the
    // inner join fans out and B receives A's contribution twice
    val withTwin = fixture :+
      ("http://a.ex:80/p" -> """<a href="http://b.ex/p">b</a>""")
    val pages = spark.createDataset(toPages(withTwin))
    val state0 = PageRank.init(spark, pages)
    assert(state0.count() == 5, "twin must collapse to one node row")
    val (got, _) = PageRank.run(spark, state0, 1e18, 0.0, maxIter = 1)
    val gotMap = got.collect().map(r => r.url -> r.rank).toMap
    // identical to the no-twin fixture after 1 iteration
    assert(math.abs(gotMap("http://b.ex:80/p") - (0.85 * (1.0 + 1.0 / 3) + 0.15)) < 1e-12)
  }
}
