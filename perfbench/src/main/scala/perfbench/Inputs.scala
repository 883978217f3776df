package perfbench

import java.util.SplittableRandom

/** Seeded inputs. Everything the engine receives is a pure function of the
  * workload seed and the fixed constants below: the same seed gives
  * byte-identical inputs. */
object Inputs {

  /** Zipf(s = 1) cumulative weights over ranks 0 until n. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** Index of the first cumulative weight at or above `u`. */
  private def draw(cdf: Array[Double], u: Double): Int = {
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def shuffled(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** `n` queries; query j has 1 + j % 3 distinct terms, each drawn Zipf-like
    * from `vocab` (index 0 is the most frequent). Draws are stratified: the
    * t-th term of query j comes from stratum perm_t(j) of n equal slices of
    * the Zipf distribution, so even a pool of a few hundred queries has
    * nearly the Zipf term frequencies, whatever its seed; seeds differ in
    * which terms meet in a query. */
  def queryPool(seed: Long, n: Int,
                vocab: IndexedSeq[String] = graft.corpus.Corpus.vocab): Vector[String] = {
    val rng = new SplittableRandom(seed)
    val cdf = zipfCdf(vocab.length)
    val strata = Array.fill(3)(shuffled(n, rng))
    Vector.tabulate(n) { j =>
      val k = 1 + j % 3
      val terms = scala.collection.mutable.LinkedHashSet.empty[String]
      var t = 0
      while (terms.size < k) {
        // a repeated term falls back to an unstratified draw
        val u = if (t < k) (strata(t)(j) + rng.nextDouble()) / n else rng.nextDouble()
        terms += vocab(draw(cdf, u))
        t += 1
      }
      terms.mkString(" ")
    }
  }

  /** Size and seed of the fixed query pool the serving workloads draw
    * from. The pool is fixed, like the serving corpus, so the batch twins'
    * answers are computed once with the serving artifact; the workload seed
    * orders the pool, mixes requests and times arrivals. */
  val PoolSize = 256
  val PoolSeed = 42L

  lazy val pool: Vector[String] = queryPool(PoolSeed, PoolSize)

  /** A query log of `n` entries that replays `pool` in passes, each pass a
    * fresh order seeded by `seed`. */
  def queryLog(seed: Long, n: Int, pool: IndexedSeq[String] = pool): Vector[String] = {
    val rng = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    Iterator.continually(shuffled(pool.length, rng).iterator.map(pool)).flatten.take(n).toVector
  }

  /** Due times, in nanoseconds from the start of a step, of a Poisson
    * arrival process at `ratePerS` over `durationNs`. */
  def poissonSchedule(seed: Long, ratePerS: Double, durationNs: Long): Array[Long] = {
    require(ratePerS > 0, "rate must be positive")
    val rng = new SplittableRandom(seed)
    val out = Array.newBuilder[Long]
    var t = 0.0
    val meanGapNs = 1e9 / ratePerS
    var done = false
    while (!done) {
      t += -math.log(1.0 - rng.nextDouble()) * meanGapNs
      if (t >= durationNs) done = true else out += t.toLong
    }
    out.result()
  }

  /** One HTTP request of the serving mix: a ranked search for `key` or a
    * page-detail fetch for the url `key`. */
  final case class Request(search: Boolean, key: String) {
    def path: String = {
      val enc = java.net.URLEncoder.encode(key, "UTF-8")
      if (search) s"/query?query=$enc" else s"/query/$enc"
    }
  }

  /** `n` requests: three quarters searches over the seeded query log, the
    * rest detail fetches of uniformly drawn corpus urls. */
  def requestMix(seed: Long, n: Int, numDocs: Long): Vector[Request] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val log = queryLog(seed, n)
    Vector.tabulate(n) { i =>
      if (rng.nextDouble() < 0.75) Request(search = true, log(i))
      else Request(search = false, graft.corpus.Corpus.urlOf(rng.nextLong(numDocs), 16))
    }
  }
}
