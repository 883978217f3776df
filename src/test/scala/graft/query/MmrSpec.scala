package graft.query

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MmrSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("mmr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // docs 1,2 nearly identical (sim .95); 3 relevant and novel; 4 weak
  private val rel = Seq((0, 1L, 0.9), (0, 2L, 0.85), (0, 3L, 0.84), (0, 4L, 0.5))
  private val sims = Seq(
    (0, 1L, 2L, 0.95), (0, 1L, 3L, 0.1), (0, 2L, 3L, 0.2),
    (0, 1L, 4L, 0.0), (0, 2L, 4L, 0.0), (0, 3L, 4L, 0.0))

  private def run(relS: Seq[(Int, Long, Double)],
                  simS: Seq[(Int, Long, Long, Double)],
                  lambda: Double, k: Int) = {
    import spark.implicits._
    Mmr.rerank(spark, relS.toDF("query_id", "doc_id", "rel"),
        simS.toDF("query_id", "a", "b", "sim"), lambda, k)
      .as[(Int, Int, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
  }

  /** Literal greedy replay. */
  private def literal(relS: Seq[(Int, Long, Double)],
                      simS: Seq[(Int, Long, Long, Double)],
                      lambda: Double, k: Int) = {
    val sim = simS.flatMap(s => Seq((s._1, s._2, s._3) -> s._4,
      (s._1, s._3, s._2) -> s._4)).toMap
    relS.map(_._1).distinct.sorted.flatMap { qid =>
      val cands = relS.filter(_._1 == qid).map(r => (r._2, r._3))
      var picked = List.empty[Long]
      (1 to math.min(k, cands.size)).map { pos =>
        val (doc, score) = cands.filterNot(c => picked.contains(c._1))
          .map { case (d, r) =>
            val ms = picked.flatMap(p => sim.get((qid, d, p)))
            (d, lambda * r - (1 - lambda) * (if (ms.isEmpty) 0.0 else ms.max))
          }.minBy { case (d, s) => (-s, d) }
        picked ::= doc
        (qid, pos, doc, math.rint(score * 1e6) / 1e6)
      }
    }
  }

  test("matches the literal greedy; near-duplicate demoted") {
    val got = run(rel, sims, 0.7, 4)
    assert(got == literal(rel, sims, 0.7, 4))
    // relevance order alone would be 1,2,3,4; MMR pushes 2 (dup of 1) down
    assert(got.map(_._3) == Seq(1L, 3L, 4L, 2L))
  }

  test("lambda=1 degrades to pure relevance order") {
    val got = run(rel, sims, 1.0, 4)
    assert(got.map(_._3) == Seq(1L, 2L, 3L, 4L))
  }

  test("missing sim pairs count as zero; k past candidates stops") {
    val got = run(rel, Seq.empty, 0.7, 10)
    assert(got.size == 4) // only 4 candidates
    assert(got.map(_._3) == Seq(1L, 2L, 3L, 4L)) // all sims 0 → rel order
  }

  test("queries are independent groups") {
    // query 2's relevance leader has doc_id -1: a real id, not "no pick"
    val two = rel ++ Seq((1, 7L, 0.3), (1, 8L, 0.9), (2, 9L, 0.4), (2, -1L, 0.8))
    val got = run(two, sims, 0.7, 2)
    assert(got.filter(_._1 == 1).map(_._3) == Seq(8L, 7L))
    assert(got.filter(_._1 == 0).map(_._3) == Seq(1L, 3L))
    assert(got.filter(_._1 == 2).map(_._3) == Seq(-1L, 9L))
  }

  test("bad args are loud") {
    import spark.implicits._
    val r = rel.toDF("query_id", "doc_id", "rel")
    val s = sims.toDF("query_id", "a", "b", "sim")
    intercept[IllegalArgumentException](Mmr.rerank(spark, r, s, 1.5, 5))
    intercept[IllegalArgumentException](Mmr.rerank(spark, r, s, 0.7, 0))
  }
}
