package graft.ml

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Containment must score the SMALLER side's coverage and honor the
  * df cap + threshold contract exactly. */
class ContainmentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("containment-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def run(docs: Seq[(Long, String)], maxGramDf: Long = 10,
                  minC: Double = 0.5): Map[(Long, Long), (Long, Long, Long, Double)] = {
    import spark.implicits._
    Containment.pairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        n = 3, maxGramDf = maxGramDf, minContainment = minC)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
  }

  test("a short doc embedded in a long one scores containment 1.0") {
    val got = run(Seq(
      1L -> "a b c d e",
      2L -> "x y a b c d e z"))
    assert(got((1L, 2L)) == (3L, 3L, 6L, 1.0), got.toString)
  }

  test("partial overlap scores shared over the smaller side") {
    val got = run(Seq(3L -> "p q r s", 4L -> "q r s t u"))
    assert(got((3L, 4L)) == (1L, 2L, 3L, 0.5), got.toString)
    assert(run(Seq(3L -> "p q r s", 4L -> "q r s t u"), minC = 0.6).isEmpty)
  }

  test("df-capped grams cannot form pairs") {
    val docs = Seq(5L -> "m n o", 6L -> "m n o w", 7L -> "z m n o")
    assert(run(docs, maxGramDf = 2).isEmpty) // "m n o" df=3 > 2 → dropped
    assert(run(docs, maxGramDf = 3).nonEmpty)
  }

  test("within-doc gram repetition counts once (distinct gram sets)") {
    val got = run(Seq(8L -> "a b c a b c", 9L -> "a b c"))
    // doc 8 distinct grams: {abc, bca, cab, abc} → {a b c, b c a, c a b}
    assert(got((8L, 9L)) == (1L, 3L, 1L, 1.0), got.toString)
  }

  test("gram-hash keys give the pairs string keys give (plain-Scala expectation)") {
    val docs = Seq(
      1L -> "a b c d e", 2L -> "x y a b c d e z", 3L -> "p q r s",
      4L -> "q r s t u", 5L -> "m n o", 6L -> "m n o w", 7L -> "z m n o",
      8L -> "a b c a b c", 9L -> "a b c")
    // string-keyed reference: distinct word 3-gram sets, grams in more than
    // maxGramDf docs dropped, containment = shared / min(kept sizes)
    val maxGramDf = 3L
    val gramSets = docs.map { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val df = gramSets.flatMap(_._2).groupBy(identity).map { case (g, gs) => g -> gs.size }
    val kept = gramSets.map { case (id, gs) => id -> gs.filter(df(_) <= maxGramDf) }
    val expected = (for {
      (a, ka) <- kept; (b, kb) <- kept if a < b
      shared = (ka intersect kb).size.toLong if shared > 0
      c = shared.toDouble / math.min(ka.size, kb.size) if c >= 0.5
    } yield (a, b) -> ((shared, ka.size.toLong, kb.size.toLong, c))).toMap
    assert(expected.size > 3, s"fixture must produce pairs: $expected")
    val got = run(docs, maxGramDf = maxGramDf)
    assert(got == expected, s"pairs diverge from string keys:\n$got\nvs\n$expected")
  }
}
