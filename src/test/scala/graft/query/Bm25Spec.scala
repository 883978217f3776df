package graft.query

import org.scalatest.funsuite.AnyFunSuite

/** The driver tiers score each posting through its doc's precomputed
  * [[Bm25.lengthNorm]]; block-max pruning and the batch twins stay exact
  * only if that split returns the same bits as the single BM25 expression. */
class Bm25Spec extends AnyFunSuite {

  test("contribution via lengthNorm is bit-identical to the inlined BM25 expression") {
    import Bm25.{B, K1}
    def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
    val rng = new scala.util.Random(7919L)
    for (_ <- 0 until 40) {
      val idf = rng.nextDouble() * 12
      val avgdl = 1.0 + rng.nextDouble() * 2000
      val dlMin = rng.nextInt(math.max(1, avgdl.toInt)).toLong
      val dls = Seq(0L, dlMin, avgdl.toLong, math.round(avgdl), (10 * avgdl).toLong,
        rng.nextInt(100000).toLong)
      for (dl <- dls; tf <- 1 to 4096) {
        val literal = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))
        val viaDl = Bm25.contribution(idf, tf, dl, avgdl)
        val viaNorm = Bm25.contribution(idf, tf, Bm25.lengthNorm(dl, avgdl))
        assert(bits(viaDl) == bits(literal), s"idf=$idf tf=$tf dl=$dl avgdl=$avgdl")
        assert(bits(viaNorm) == bits(literal), s"idf=$idf tf=$tf dl=$dl avgdl=$avgdl (norm)")
      }
    }
  }
}
