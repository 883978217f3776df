package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class GlobalRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("global-rank-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ranks equal a literal sort at every parallelism") {
    import spark.implicits._
    // one input: (id, k, w) rows — k repeats, id is the unique tiebreaker
    // and w the prefix-sum weight — scanned at `parts` range partitions
    final case class Case(rows: Seq[(Long, String, Long)], parts: Int)
    // adversarial fixed input: heavy duplicate keys, so the unique-id
    // tiebreaker and range-partition boundaries both get exercised
    val fixed = (0L until 200L).map(i => (i, (i % 7).toString, i % 3))
    val genCase = for {
      n <- Gen.choose(0, 150)
      keys <- Gen.listOfN(n, Gen.choose(0, 5))
      ws <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(1L, 9L)))
      heavy <- Gen.choose(0, math.max(n - 1, 0))
      parts <- Gen.choose(1, 8)
    } yield Case(keys.indices.map { i =>
      (i.toLong * 7919L % 1009L, keys(i).toString, // unique: 1009 is prime
        if (i == heavy) 1000000L else ws(i))
    }, parts)
    val generated = Gen.listOfN(15, genCase)
      .pureApply(Gen.Parameters.default, Seed(4217L))
    val cases = Seq(1, 3, 8).map(Case(fixed, _)) ++ generated
    assert(generated.map(_.parts).distinct.size >= 5)

    val sort = Seq(col("k").asc, col("id").asc)
    def collected(df: DataFrame, out: String): Map[Long, Long] =
      df.select(col("id"), col(out)).as[(Long, Long)].collect().toMap
    // each form must give the same answer plain and fused into one task
    // by a downstream coalesce
    def check(df: DataFrame, out: String, want: Map[Long, Long], what: String): Unit = {
      assert(collected(df, out) == want, what)
      assert(collected(df.coalesce(1), out) == want, s"$what under coalesce(1)")
    }
    for (Case(rows, p) <- cases) {
      val df = rows.toDF("id", "k", "w")
      val ordered = rows.sortBy { case (id, k, _) => (k, id) }
      val rank = ordered.zipWithIndex.map { case ((id, _, _), r) => id -> r.toLong }.toMap
      val before = ordered.map(_._1).zip(ordered.scanLeft(0L)(_ + _._3)).toMap
      val what = s"parts=$p n=${rows.size}"
      check(GlobalRank.zipWithRank(df, sort, parts = p), "rank", rank, s"rank $what")
      check(GlobalRank.prefixSum(df, sort, col("w"), "before", parts = p),
        "before", before, s"prefixSum $what")
      val s = GlobalRank.scan(df, sort, col("w"), "before", p)
      assert(s.total == rows.map(_._3).sum, s"total $what")
      check(s.result, "before", before, s"unpinned scan $what")
      s.sorted.unpersist()
    }
  }

  test("existing rank column is refused loudly") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("id", "rank")
    val e = intercept[IllegalArgumentException] {
      GlobalRank.zipWithRank(df, Seq(col("id").asc))
    }
    assert(e.getMessage.contains("rank"))
  }
}
