package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Sharded candidate generation + merge must be RANK- and SCORE-identical
  * to the unsharded in-heap scorer at any shard count. */
class ShardedSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sharded-search-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 300

  private lazy val triples: DataFrame = {
    import spark.implicits._
    val lex = spark.sparkContext.broadcast(graft.corpus.Corpus.lexicon)
    graft.corpus.Corpus.generate(spark, N).flatMap { p =>
      graft.text.Text.postings(p.url, new String(p.html, "UTF-8"), lex.value)
        .map { case (t, tf) => (p.url, t, tf) }
    }.toDF("url", "term", "tf").cache()
  }

  private lazy val built = graft.index.IndexBuild.build(spark,
    graft.corpus.Corpus.generate(spark, N), graft.corpus.Corpus.lexicon,
    parts = 4)

  private lazy val searcher: Searcher = Searcher.fromIndex(built, N)

  private def sharded(query: String, shards: Int, n: Long = N): List[(String, Double)] =
    ShardedSearch.topK(spark, triples, n, query, shards).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toList

  test("rank- and score-identical to the in-heap searcher") {
    // stem expansion ("running"→"run"), head-term, multi-term, numbers;
    // n = 10 puts the head terms' df above n: n/df == 0, idf = −∞, which
    // the reference keeps (only idf == 0 drops)
    for (n <- Seq(N, 10)) {
      val s = if (n == N) searcher else Searcher.fromIndex(built, n)
      for (q <- Seq("galaxy engine search", "running", "prince officer soldier",
                    "the of and", "999 1234")) {
        val expect = s.referenceTopK(q)
        val got = sharded(q, shards = 4, n)
        assert(got == expect, s"query '$q' diverged under 4 shards at N=$n")
      }
    }
  }

  test("shard count is invisible: 1, 3 and 8 shards agree") {
    val q = "distributed storage system"
    val one = sharded(q, 1)
    assert(one == searcher.referenceTopK(q))
    assert(sharded(q, 3) == one)
    assert(sharded(q, 8) == one)
  }

  test("absent term and empty query return empty") {
    assert(sharded("zzzabsentterm", 4).isEmpty)
    assert(sharded("", 4).isEmpty)
    assert(ShardedSearch.topK(spark, triples, N, "", 4).columns.toSeq ==
      Seq("url", "score"))
  }

  test("shards must be >= 1") {
    intercept[IllegalArgumentException] {
      ShardedSearch.topK(spark, triples, N, "galaxy", 0)
    }
  }
}
