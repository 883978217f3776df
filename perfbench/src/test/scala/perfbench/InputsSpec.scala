package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("the query log is a pure function of the seed") {
    val a = Inputs.queryLog(7L, 2000)
    assert(a == Inputs.queryLog(7L, 2000))
    assert(a != Inputs.queryLog(8L, 2000))
    assert(Inputs.queryLog(7L, 500) == a.take(500))
  }

  test("the log replays the seeded pool in passes, every query once per pass") {
    val pool = Inputs.queryPool(9L, 100)
    val log = Inputs.queryLog(9L, 1000, pool)
    for (pass <- log.grouped(100)) assert(pass.sorted == pool.sorted)
    assert(log.take(100) != log.slice(100, 200))
  }

  test("stratified pools of different seeds share their term profile") {
    def profile(seed: Long) =
      Inputs.queryPool(seed, 96).flatMap(_.split(' ')).groupBy(identity).map { case (t, ts) => t -> ts.length }
    val (a, b) = (profile(1L), profile(2L))
    // unstratified, the head term's count would spread by about ±5
    assert(math.abs(a("the") - b("the")) <= 3, s"${a("the")} vs ${b("the")}")
    assert(Inputs.queryPool(1L, 96) != Inputs.queryPool(2L, 96))
    assert(Inputs.queryPool(1L, 96).map(_.split(' ').length).sum ==
      Inputs.queryPool(2L, 96).map(_.split(' ').length).sum)
  }

  test("queries have one to three distinct vocabulary terms, head terms most often") {
    val log = Inputs.queryPool(11L, 20000)
    val vocab = graft.corpus.Corpus.vocab.toSet
    val termLists = log.map(_.split(' ').toSeq)
    assert(termLists.forall(t => t.length >= 1 && t.length <= 3 && t.distinct == t))
    assert(termLists.flatten.forall(vocab.contains))
    assert(termLists.map(_.length).toSet == Set(1, 2, 3))
    val freq = termLists.flatten.groupBy(identity).map { case (t, ts) => t -> ts.length }
    assert(freq("the") > freq.getOrElse("result", 0) * 10)
  }

  test("the Poisson schedule is seeded, ordered, inside the step, at the asked rate") {
    val a = Inputs.poissonSchedule(3L, 200.0, 10L * 1000000000L)
    assert(a.sameElements(Inputs.poissonSchedule(3L, 200.0, 10L * 1000000000L)))
    assert(!a.sameElements(Inputs.poissonSchedule(4L, 200.0, 10L * 1000000000L)))
    assert(a.zip(a.drop(1)).forall { case (x, y) => x <= y })
    assert(a.forall(t => t >= 0 && t < 10L * 1000000000L))
    assert(math.abs(a.length - 2000) < 200, s"${a.length} arrivals for an expected 2000")
  }

  test("the request mix is seeded and about three quarters searches") {
    val m = Inputs.requestMix(5L, 4000, 1000L)
    assert(m == Inputs.requestMix(5L, 4000, 1000L))
    assert(m != Inputs.requestMix(6L, 4000, 1000L))
    val share = m.count(_.search).toDouble / m.length
    assert(share > 0.72 && share < 0.78, s"search share $share")
    assert(m.filterNot(_.search).forall(_.path.startsWith("/query/http%3A%2F%2Fhost")))
    assert(m.filter(_.search).forall(_.path.startsWith("/query?query=")))
  }
}
