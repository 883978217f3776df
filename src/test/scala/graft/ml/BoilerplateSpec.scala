package graft.ml

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BoilerplateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("boilerplate-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 2-token pseudo-lines keep fixtures readable
  private def strip(rows: Seq[(Long, String, String)], minFrac: Double = 0.5) = {
    import spark.implicits._
    Boilerplate.stripSourceBoilerplate(
        rows.toDF("doc_id", "source", "text"), "doc_id", "source", "text",
        lineTokens = 2, minFrac = minFrac)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("a line on >= half a source's docs is stripped from that source only") {
    // "nav bar" leads every src-a doc (3/3 >= 0.5) → chrome for a;
    // the SAME line on ONE of three src-b docs (1/3 < 0.5) → kept in b
    val got = strip(Seq(
      (1L, "a", "nav bar alpha beta"),
      (2L, "a", "nav bar gamma delta"),
      (3L, "a", "nav bar omega psi"),
      (4L, "b", "nav bar keep me"),
      (5L, "b", "other text here too"),
      (6L, "b", "more body words here")))
    assert(got(1L) == (("alpha beta", 2L, 1L)))
    assert(got(2L) == (("gamma delta", 2L, 1L)))
    assert(got(3L) == (("omega psi", 2L, 1L)))
    assert(got(4L) == (("nav bar keep me", 2L, 2L)))
  }

  test("an all-chrome doc survives as an empty row; empty docs count 0 lines") {
    val got = strip(Seq(
      (1L, "a", "nav bar"),
      (2L, "a", "nav bar"),
      (3L, "a", ""),
      (4L, "b", "solo doc body")))
    assert(got(1L) == (("", 1L, 0L)))
    assert(got(2L) == (("", 1L, 0L)))
    assert(got(3L) == (("", 0L, 0L)))
    // a single-doc source: every line is on 1/1 = 100% of docs → chrome
    // by the frequency rule (minFrac applies to tiny sources too)
    assert(got(4L) == (("", 2L, 0L)))
  }

  test("threshold boundary: exactly minFrac strips, just below keeps") {
    // line on 1 of 2 docs: 0.5 >= 0.5 → stripped at minFrac=0.5,
    // kept at minFrac=0.6
    val rows = Seq(
      (1L, "a", "top line body one"),
      (2L, "a", "top line body two"),
      (3L, "a", "solo words only here"),
      (4L, "a", "and more other stuff"))
    val at50 = strip(rows, minFrac = 0.5)
    assert(at50(1L)._1 == "body one")
    val at60 = strip(rows, minFrac = 0.6)
    assert(at60(1L)._1 == "top line body one")
  }
}
