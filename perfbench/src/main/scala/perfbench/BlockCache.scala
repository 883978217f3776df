package perfbench

import graft.query.DirectSearcher
import graft.text.{PorterStemmer, Text}

/** Read-only view of what BM25 traffic does to a searcher's decoded-block
  * cache. The engine keeps the cache (a bounded, access-ordered map keyed by
  * (term, per-term block index)) and the per-term block lists private, so
  * they are reached by reflection; nothing is changed and no engine call is
  * wrapped. Every key that appears in the cache was decoded once, so the keys
  * new after a query are that query's cache misses.
  *
  * `blocksOf` answers, from the sidecar's block lists, how many blocks each
  * term has; the blocks of a query's dictionary terms are every (term, block)
  * key it can touch. */
final class BlockCache private (cache: java.util.Map[_, _],
                                refs: scala.collection.Map[String, scala.collection.Seq[_]]) {

  /** The dictionary terms BM25 scores for `query`: its parsed terms and
    * their stems, as the searcher expands them. */
  def termsOf(query: String): Set[String] =
    Text.parseQuery(query).toSet.flatMap((t: String) => Set(t, PorterStemmer.stem(t))).filter(refs.contains)

  def blocksOf(term: String): Int = refs.get(term).fold(0)(_.length)

  /** Distinct (term, block) keys the queries can touch. */
  def workingSet(queries: Iterable[String]): Long =
    queries.iterator.flatMap(termsOf).toSet.iterator.map((t: String) => blocksOf(t).toLong).sum

  /** The keys cached now. */
  def keys(): java.util.HashSet[Any] = cache.synchronized {
    new java.util.HashSet[Any](cache.keySet())
  }
}

object BlockCache {

  /** The engine's bound on cached blocks (Searcher.decodedCache). */
  val Capacity = 1024

  private def field(owner: AnyRef, name: String): AnyRef = {
    val f = owner.getClass.getDeclaredField(name)
    f.setAccessible(true)
    f.get(owner)
  }

  /** The view of `ds`, or None when the searcher no longer has the fields
    * it reads (the cache metrics then read 0 and the run record says so). */
  def of(ds: DirectSearcher): Option[BlockCache] =
    try {
      val cache = field(field(ds, "searcher"), "decodedCache").asInstanceOf[java.util.Map[_, _]]
      val refs = field(ds, "termRefs").asInstanceOf[scala.collection.Map[String, scala.collection.Seq[_]]]
      Some(new BlockCache(cache, refs))
    } catch {
      case _: ReflectiveOperationException | _: ClassCastException => None
    }
}
