package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles return real samples") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Array(7.0), 99) == 7.0)
    assert(Stats.percentile(Array(1.0, 2.0, 3.0), 50) == 2.0)
  }

  test("median averages the two middle samples of an even count") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(9999).contains(99.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n))
      assert(Stats.samplesBeyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
  }

  test("tail values: p99 of 1..1000, the maximum below twenty samples") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == ((99.0, 990.0)))
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == ((99.0, 990.0)))
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == ((100.0, 9.0)))
  }

  test("a capped tail keeps its percentile as samples grow") {
    val xs = (1 to 5000).map(_.toDouble)
    assert(Stats.tail(xs, atMost = 95.0) == ((95.0, 4750.0)))
    assert(Stats.tail(xs.take(300), atMost = 95.0) == ((95.0, 285.0)))
    assert(Stats.tail(xs.take(150), atMost = 95.0) == ((90.0, 135.0)))
    assert(Stats.tail(xs.take(400), atMost = 75.0) == ((75.0, 300.0)))
  }
}
