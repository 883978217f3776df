package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.GlobalRank

/** Doc-id reordering for index compression — the accounting that justifies
  * the classic index-engineering move: posting lists store DELTA GAPS
  * varbyte-encoded, so assigning doc ids in URL order (pages of one host
  * get adjacent ids, and hosts link/share terms locally) shrinks gaps and
  * therefore bytes versus a hash-random assignment. This module measures
  * exactly that: the total varbyte cost of every term's gap sequence under
  * the url-sorted assignment vs a portable-hash-random one.
  *
  * (The production index already USES url-ordered dense ids —
  * [[IndexBuild.build]] — this is the measurement that proves the
  * choice and, at reindex time, prices any proposed re-assignment.)
  *
  * Everything is INTEGER-EXACT: ids are dense ranks, gaps are id
  * differences (first posting costs `id + 1` — the delta from the
  * implicit -1 origin), and varbyte length is a 7-bits-per-byte threshold
  * chain — so any engine replays the byte totals verbatim.
  *
  * Scale shape: both assignments are a [[graft.util.GlobalRank]] dense
  * rank; the gap accounting shuffles (term, id) pairs once per scheme and
  * folds map-side.
  */
object IdReorder {

  /** Varbyte encoded length in bytes of a positive gap (7 payload bits per
    * byte, continuation-bit scheme). */
  private[index] def vbLen(g: Column): Column =
    when(g < (1L << 7), 1L).when(g < (1L << 14), 2L)
      .when(g < (1L << 21), 3L).when(g < (1L << 28), 4L)
      .when(g < (1L << 35), 5L).when(g < (1L << 42), 6L)
      .when(g < (1L << 49), 7L).when(g < (1L << 56), 8L)
      .otherwise(9L)

  /** Compression accounting over posting triples (`url`, `term`):
    * one row per scheme — (scheme, postings, bytes) with `bytes` the total
    * varbyte cost of all per-term gap sequences under that scheme's id
    * assignment. Schemes: `url_sorted` (ids by url order) and `hashed`
    * (ids by the portable md5 h60 of the url — the random baseline any
    * engine can replay). */
  def report(spark: SparkSession, triples: DataFrame, parts: Int): DataFrame = {
    val postings = triples.select(col("url"), col("term")).distinct().persist()
    val urls = postings.select(col("url")).distinct()
    val byUrl = GlobalRank.zipWithRank(urls, Seq(col("url")), "id", parts)
    // the hash key is projected once, before the range shuffle
    val byHash = GlobalRank.zipWithRank(
        urls.withColumn("_h", graft.ml.Sketches.h60(col("url"))),
        Seq(col("_h"), col("url")), "id", parts)
      .select(col("url"), col("id"))

    def cost(ids: DataFrame, scheme: String): DataFrame = {
      val w = Window.partitionBy(col("term")).orderBy(col("id"))
      postings.join(ids, "url").select(col("term"), col("id"))
        .withColumn("gap",
          coalesce(col("id") - lag(col("id"), 1).over(w), col("id") + 1L))
        .agg(count(lit(1)).as("postings"), sum(vbLen(col("gap"))).as("bytes"))
        .select(lit(scheme).as("scheme"), col("postings"), col("bytes"))
    }
    val out = cost(byUrl, "url_sorted").unionByName(cost(byHash, "hashed"))
      .localCheckpoint() // materialize before releasing the postings cache
    postings.unpersist()
    out
  }
}
