package graft.query

import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import graft.text.{PorterStemmer, Text}

/** The ONE definition of the reference tf-idf rule (backend/Backend.java:
  * 205-330) every reference scorer evaluates: the driver tier
  * ([[Searcher.referenceTopK]]), the Dataset twin
  * ([[QueryOps.batchReferenceTopK]]), the sharded, pruned and expanded
  * tiers ([[ShardedSearch]], [[graft.index.StaticPrune]],
  * [[ExpandedSearch]]). `oracle.Oracle` is the independent replica it is
  * tested against and keeps its own copy on purpose.
  *
  * Rank identity needs bit-identical scores, so [[base]] and its Column
  * twin keep one operation order — `(0.4 + 0.6·tf/max_tf) · idf`, the
  * per-query factor multiplied on afterwards — and idf is always computed
  * driver-side with `math.log` (Spark's `log` goes through StrictMath,
  * which can differ by one ulp). */
object RefScore {

  /** Per-term posting cap (Backend.java:262): the first 200 postings that
    * pass the url hygiene filter, in serving order. */
  final val Cap = 200

  /** Score factor of a Porter-stem expansion term (Backend.java:283). */
  final val StemFactor = 0.7

  /** log₅₀₀ of the Java INT division n/df, or None when the term drops:
    * only idf == 0.0 (n/df == 1) drops (Backend.java:254-258). n < df gives
    * n/df == 0 and idf = −∞, which the reference keeps — every posting of
    * such a term scores −∞. */
  def idf(n: Long, df: Long): Option[Double] = {
    val v = math.log((n / df).toDouble) / math.log(500.0)
    if (v == 0.0) None else Some(v)
  }

  /** Per-posting score before the query factor: augmented tf × idf. */
  def base(tf: Int, maxTf: Int, idf: Double): Double =
    (0.4 + 0.6 * tf / maxTf) * idf

  /** [[base]] as a Spark expression over `tf`, `max_tf` and `idf` columns. */
  def baseCol: Column =
    (lit(0.4) + lit(0.6) * col("tf") / col("max_tf")) * col("idf")

  /** Query expansion with reference semantics (surface terms first, stems
    * appended, LinkedHashMap put-overwrite) → ordered (term, factor). */
  def termWeights(query: String): Seq[(String, Double)] = {
    val surface = Text.parseQuery(query)
    val expanded = surface.map(t => (t, false)) ++ surface.flatMap { t =>
      val st = PorterStemmer.stem(t)
      if (st != t) Some((st, true)) else None
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    for ((t, isStem) <- expanded if t.nonEmpty) m.put(t, if (isStem) StemFactor else 1.0)
    m.toSeq
  }

  /** The reference url hygiene filter (Backend.java:268-273): the stored
    * url, trimmed and URL-decoded, or None when the reference skips the
    * posting (empty, the literal "null", a double quote, or a control
    * char). A malformed %-escape throws, as URLDecoder does in the
    * reference, whose enclosing catch empties the whole term. */
  def cleanUrl(stored: String): Option[String] = {
    val url = java.net.URLDecoder.decode(stored.trim, "UTF-8")
    if (url != null && url.nonEmpty && url != "null" && !url.contains("\"") &&
        !hasControlChar(url)) Some(url)
    else None
  }

  /** Backend.checkControlChar (Backend.java:317-324): any char < 0x20. */
  private def hasControlChar(url: String): Boolean = {
    var i = 0
    while (i < url.length) {
      if (url.charAt(i) < 32) return true
      i += 1
    }
    false
  }
}
