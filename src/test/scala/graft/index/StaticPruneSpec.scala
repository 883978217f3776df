package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Static pruning: exact per-term impact prefix, frozen stats, and
  * frac=1.0 degenerating to the unpruned scorer. */
class StaticPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("static-prune-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("keeps exactly the top ceil(frac*count) postings per term in (tf desc, url asc) order") {
    import spark.implicits._
    val tr = Seq(
      // term a: 5 postings; ceil(0.5*5)=3 → u5(9), u1(7), u2(7 — url-asc tie... u2<u4)
      ("u1", "a", 7), ("u2", "a", 7), ("u4", "a", 7), ("u3", "a", 2), ("u5", "a", 9),
      // term b: 1 posting; ceil(0.5)=1 → survives whole
      ("u9", "b", 1)).toDF("url", "term", "tf")
    val got = StaticPrune.prune(tr, 0.5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("u5", "a", 9), ("u1", "a", 7), ("u2", "a", 7),
      ("u9", "b", 1)))
  }

  test("frac bounds are enforced") {
    import spark.implicits._
    val tr = Seq(("u", "t", 1)).toDF("url", "term", "tf")
    intercept[IllegalArgumentException] { StaticPrune.prune(tr, 0.0) }
    intercept[IllegalArgumentException] { StaticPrune.prune(tr, 1.5) }
  }

  private val N = 300
  private lazy val triples = {
    import spark.implicits._
    val lex = spark.sparkContext.broadcast(graft.corpus.Corpus.lexicon)
    graft.corpus.Corpus.generate(spark, N).flatMap { p =>
      graft.text.Text.postings(p.url, new String(p.html, "UTF-8"), lex.value)
        .map { case (t, tf) => (p.url, t, tf) }
    }.toDF("url", "term", "tf").cache()
  }

  test("frac=1.0 equals the unpruned scorer exactly") {
    val full = graft.query.ShardedSearch.topK(spark, triples, N,
      "galaxy engine search", shards = 1).collect().toSeq
    val noPrune = StaticPrune.topK(spark, triples, N,
      "galaxy engine search", frac = 1.0).collect().toSeq
    assert(noPrune == full)
  }

  test("stats are frozen: surviving urls keep their full-index scores on a single-term query") {
    // single term → a url's score involves exactly one posting, so a
    // surviving posting must score IDENTICALLY to the unpruned index
    // (df/max_tf frozen); with post-prune stats it would inflate.
    // The query term must NOT stem-expand (expansion adds a second term
    // and the per-url fold stops being single-posting)
    val q = Seq("search", "index", "system", "station", "planet")
      .find(w => graft.query.RefScore.termWeights(w).size == 1)
      .getOrElse(fail("no non-expanding probe term found"))
    val full = graft.query.ShardedSearch.topK(spark, triples, N, q, shards = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pruned = StaticPrune.topK(spark, triples, N, q, frac = 0.25)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(pruned.nonEmpty)
    pruned.foreach { case (url, s) =>
      assert(full.get(url).contains(s), s"$url scored $s, full index ${full.get(url)}")
    }
    // and the pruned result is a strict subset on this corpus
    assert(pruned.length < full.size)
  }

  test("certified rows provably belong to the FULL-index top set") {
    val q = "galaxy engine search"
    val full = graft.query.ShardedSearch.topK(spark, triples, N, q, shards = 1)
      .collect().map(_.getString(0))
    val fullSet = full.toSet
    val rows = StaticPrune.certifiedTopK(spark, triples, N, q, frac = 0.25)
      .collect()
    val certified = rows.filter(_.getBoolean(2)).map(_.getString(0))
    assert(certified.nonEmpty, "expected at least one certified result")
    certified.foreach(u =>
      assert(fullSet.contains(u), s"certified $u missing from the true top set"))
  }

  test("frac=1 drops nothing: B=0, every row certified, result == topK") {
    val q = "galaxy"
    val plain = StaticPrune.topK(spark, triples, N, q, frac = 1.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val cert = StaticPrune.certifiedTopK(spark, triples, N, q, frac = 1.0)
      .collect()
    assert(cert.map(r => (r.getString(0), r.getDouble(1))).toSeq == plain)
    assert(cert.forall(_.getBoolean(2)))
  }
}
