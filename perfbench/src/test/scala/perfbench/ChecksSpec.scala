package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val want = Map(
    "galaxy" -> List(("http://a/", 2.0000001), ("http://b/", 1.0)),
    "storage system" -> List(("http://c/", 3.5)))

  test("results equal to the batch twin pass; BM25 compares at 1e-6") {
    val got = Map(
      "galaxy" -> List(("http://a/", 2.0000001000004), ("http://b/", 1.0)),
      "storage system" -> List(("http://c/", 3.5)))
    assert(Checks.mismatches(got, want, round = true).isEmpty)
    assert(Checks.mismatches(got, want, round = false) == Set("galaxy"))
  }

  test("a wrong url, order, score or missing query is a mismatch") {
    val swapped = Map("galaxy" -> List(("http://b/", 1.0), ("http://a/", 2.0000001)))
    val wrongUrl = Map("galaxy" -> List(("http://a/", 2.0000001), ("http://x/", 1.0)))
    val wrongScore = Map("storage system" -> List(("http://c/", 3.6)))
    val unknown = Map("absent" -> List.empty[(String, Double)])
    for (g <- Seq(swapped, wrongUrl, wrongScore, unknown))
      assert(Checks.mismatches(g, want, round = true) == g.keySet)
  }

  test("one wrong result fails the run") {
    val t = new Checks.Tally
    (1 to 99).foreach(_ => t.check(ok = true, "fine"))
    t.check(ok = false, "query 'galaxy' differs from its batch twin")
    assert(!t.correct)
    assert(t.attempted == 100 && t.failed == 1)
    assert(t.examples == Seq("query 'galaxy' differs from its batch twin"))
    val line = Metrics.resultLine(t.correct, t.attempted, t.failed, Metrics.EndToEnd,
      Map("setup_s" -> 1.5))
    assert(line.startsWith("""{"correct":false,"attempted":100,"failed":1,"metrics":{"""))
    assert(line.contains(""""setup_s":{"value":1.5,"unit":"s"}"""))
  }

  test("expected answers read back exactly, empty results included") {
    val f = java.io.File.createTempFile("expected", ".tsv")
    try {
      val m = Map("bm25" -> (want + ("zzzabsent" -> Nil)),
        "reference" -> Map("galaxy" -> List(("http://a/", 0.1 + 0.2))))
      Checks.writeExpected(f, m)
      assert(Checks.readExpected(f) == m)
    } finally f.delete()
  }

  test("a run with nothing attempted is not correct") {
    assert(!new Checks.Tally().correct)
  }

  test("BENCHMARK.json lists exactly the metrics every run prints") {
    val file = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_)).find(_.isFile)
    assume(file.isDefined, "BENCHMARK.json not found")
    val txt = new String(java.nio.file.Files.readAllBytes(file.get.toPath), "UTF-8")
    def section(key: String): Seq[(String, String)] = {
      val body = txt.substring(txt.indexOf(s""""$key""""))
      val end = body.indexOf(']')
      """\{"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
        .findAllMatchIn(body.substring(0, end)).map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(section("end_to_end") == Metrics.EndToEnd)
    assert(section("per_layer") == Metrics.PerLayer)
  }
}
