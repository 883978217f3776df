package graft.rank

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.Page

/** Host-level PageRank — the web-scale companion to page-level
  * [[PageRank]]: the link graph is collapsed to its host (authority)
  * projection and the SAME reference iteration algebra
  * (keep-alive, 0.85·rank/outdeg, dangling inner-join drop, +0.15) runs
  * over it. Host rank is what crawl scheduling actually consumes (host
  * budgets, spam-host demotion) and it is ~10³-10⁴× smaller than the page
  * graph — at 10¹² pages the host graph (~10⁸ nodes) iterates in seconds
  * where the page graph needs the full page-level iteration.
  *
  * Graph derivation (deterministic at any parallelism):
  *  - a page's node is the authority of its [[RefUrl.selfNormalize]]d url
  *    (scheme-less host[:port] — the reference normalizer's own port
  *    handling decides the :443 twins);
  *  - edges are the DISTINCT host→host projections of the page-level
  *    outlinks ([[RefUrl.outlinks]] — the reference's own extractor),
  *    self-loops dropped (intra-host links are navigation, not
  *    endorsement; they would only feed rank back to the emitter);
  *  - a host's outlink list is the sorted union over its pages.
  */
object HostRank {

  /** Authority (host[:port]) of an http(s) url; null if unparseable. */
  def hostOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return null
    val rest = url.substring(i + 3)
    val slash = rest.indexOf('/')
    val auth = if (slash < 0) rest else rest.substring(0, slash)
    if (auth.isEmpty) null else auth
  }

  /** Initial host-level state: one [[RankState]] per crawled host with its
    * deduped, sorted inter-host outlinks. */
  def init(spark: SparkSession, pages: Dataset[Page]): Dataset[RankState] = {
    import spark.implicits._
    pages.flatMap { p =>
      val self = RefUrl.selfNormalize(p.url)
      if (self == null) None
      else {
        val src = hostOf(self)
        if (src == null) None
        else {
          val dsts = RefUrl.outlinks(self, new String(p.html, "UTF-8"))
            .iterator.map(hostOf).filter(h => h != null && h != src).toSet
          Some((src, dsts))
        }
      }
    }
      .groupByKey(_._1)
      // set-union fold: per-host link sets merge associatively, so the
      // map-side partial aggregation is sound at any parallelism
      .reduceGroups((a, b) => (a._1, a._2 ++ b._2))
      .map { case (_, (src, dsts)) =>
        RankState(src, 1.0, 1.0, dsts.toSeq.sorted)
      }
  }

  /** Run host-level PageRank (delegates to the shared converge loop). */
  def run(spark: SparkSession, state0: Dataset[RankState], threshold: Double,
          percent: Double, maxIter: Int = 100): (Dataset[PageRankResult], Int) =
    PageRank.run(spark, state0, threshold, percent, maxIter)
}
