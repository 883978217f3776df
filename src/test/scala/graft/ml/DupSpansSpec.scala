package graft.ml

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Span semantics: exact corpus-frequency threshold, maximal merge of
  * overlapping AND touching spans, within-doc repeats count. */
class DupSpansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dup-spans-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def run(docs: Seq[(Long, String)], n: Int,
                  minCount: Long = 2): Set[(Long, Int, Int, Int)] = {
    import spark.implicits._
    DupSpans.spans(docs.toDF("doc_id", "text"), "doc_id", "text", n, minCount)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
  }

  test("cross-doc shared gram marks both sides at their own offsets") {
    val got = run(Seq(1L -> "a b c d e f", 2L -> "x a b c y z"), n = 3)
    assert(got == Set((1L, 0, 2, 3), (2L, 1, 3, 3)))
  }

  test("overlapping and touching spans merge into one maximal span") {
    // doc 3 repeats doc 4's "p q r" AND "r s t": hits at pos 0 and 2
    // overlap → one span [0,4]; doc 5's hits at 0 and 3 (n=3) touch → [0,5]
    val got = run(Seq(
      3L -> "p q r s t",
      4L -> "p q r x x x r s t",
      5L -> "h i j k l m",
      6L -> "h i j z z k l m"), n = 3)
    assert(got((3L, 0, 4, 5)), s"overlap not merged: $got")
    assert(got((5L, 0, 5, 6)), s"touching spans not merged: $got")
  }

  test("a real gap stays two spans") {
    // doc 7 hits at pos 0 and pos {5,6} with n=3: 5 − 0 > 3 → islands
    // [0,2] and the merged [5,8]
    val got = run(Seq(
      7L -> "a b c z w d e f g",
      8L -> "a b c", 9L -> "d e f", 10L -> "e f g"), n = 3)
    assert(got.contains((7L, 0, 2, 3)) && got.contains((7L, 5, 8, 4)),
      s"gap wrongly merged: $got")
  }

  test("within-doc repetition counts toward the corpus frequency") {
    val got = run(Seq(11L -> "m n o w w m n o"), n = 3)
    assert(got == Set((11L, 0, 2, 3), (11L, 5, 7, 3)))
  }

  test("minCount raises the duplication bar") {
    val docs = Seq(12L -> "a b c", 13L -> "a b c", 14L -> "a b c")
    assert(run(docs, n = 3, minCount = 3).size == 3)
    assert(run(docs.take(2), n = 3, minCount = 3).isEmpty)
  }

  test("short docs and unique text emit nothing") {
    assert(run(Seq(15L -> "a b", 16L -> "q w e r t y"), n = 3).isEmpty)
  }

  test("gram-hash keys give the spans string keys give (plain-Scala expectation)") {
    val n = 3
    val docs = Seq(
      1L -> "a b c d e f", 2L -> "x a b c y z", 3L -> "p q r s t",
      4L -> "p q r x x x r s t", 5L -> "h i j k l m",
      6L -> "h i j z z k l m", 7L -> "a b c z w d e f g",
      8L -> "a b c", 9L -> "d e f", 10L -> "e f g",
      11L -> "m n o w w m n o")
    // string-keyed reference: sliding word n-grams, corpus-wide occurrence
    // counts (within-doc repeats included), hits at count >= 2, and a new
    // span wherever a hit starts more than n past the previous hit
    def grams(text: String): IndexedSeq[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
    }
    val byDoc = docs.map { case (id, text) => id -> grams(text) }
    val freq = byDoc.flatMap(_._2).groupBy(identity).map { case (g, gs) => g -> gs.size }
    val expected = byDoc.flatMap { case (id, gs) =>
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (start, last hit)
      for (p <- gs.indices if freq(gs(p)) >= 2)
        if (spans.nonEmpty && p - spans.last._2 <= n) spans(spans.length - 1) = (spans.last._1, p)
        else spans += ((p, p))
      spans.map { case (start, last) => (id, start, last + n - 1, last + n - start) }
    }.toSet
    assert(expected.size > 5, s"fixture must produce spans: $expected")
    val got = run(docs, n)
    assert(got == expected, s"spans diverge from string keys:\n$got\nvs\n$expected")
  }
}
