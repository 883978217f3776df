package graft.rank

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.corpus.Page

/** Per-node PageRank state (url = reference-normalized node id). */
final case class RankState(url: String, rank: Double, prev: Double, links: Seq[String])

final case class PageRankResult(url: String, rank: Double)

/** The reference's PageRank as a Dataset iterative join-aggregate
  * (reference jobs/PageRank.java:18-180; invoked `0.01 80` per
  * Project/README.md §6). Algebra replicated exactly:
  *
  *  - init: self url normalized (fragment strip + default port,
  *    non-http(s) dropped), outlinks via PageRank's OWN extractor/normalizer
  *    ([[RefUrl]]), deduped; state (rank=1.0, prev=1.0);
  *  - per iteration: every node emits a keep-alive (self, 0.0) plus
  *    0.85·rank/outdeg to each outlink; contributions are summed per node;
  *    an INNER join with the previous state drops mass sent to dangling
  *    targets (urls never crawled); new rank = sum + 0.15 (flat offset, not
  *    normalized by N); prev ← old rank;
  *  - convergence: fraction of nodes with |rank − prev| < threshold ≥
  *    percent.
  *
  * Spark-native differences (behavior-preserving): the KVS-table-per-stage
  * materialization becomes persist/unpersist per iteration (+ truncated
  * lineage via localCheckpoint every `checkpointEvery` rounds, replacing the
  * reference's de-facto per-iteration table checkpointing); the string-packed
  * "rank,prev,links" state becomes a typed Dataset. Summation of double
  * contributions is associative-reordered by Spark's partial aggregation —
  * the reference's own fold order is HashMap-arrival nondeterministic, so
  * there is no canonical order to preserve; convergence uses coarse
  * thresholds (0.01) far above double-reassociation noise.
  *
  * Scale notes: contributions shuffle hash-partitions on dst url — the heavy
  * op per round; keep-alive rows ride the same shuffle. AQE handles hub-node
  * skew (a hot dst key is a sum aggregation → map-side combined). State and
  * edges stay co-partitioned across iterations because both sides of the
  * join are hash-partitioned on url by the preceding aggregation/shuffle.
  */
object PageRank {

  /** Build the initial state from pages (reference init, PageRank.java:27-70).
    *
    * Two crawled urls can self-normalize to the SAME node (e.g. an explicit
    * `:80` twin); the reference's KVS `saveAsTable` collapses same-key rows
    * last-write-wins (arrival-order nondeterministic). Without collapsing,
    * the iterate inner join fans out per duplicate and double-counts mass —
    * so duplicates are reduced to ONE row here, pinned deterministically to
    * the lexicographically-smallest original url (our runs must be
    * reproducible at any parallelism; the reference's winner is arbitrary). */
  def init(spark: SparkSession, pages: Dataset[Page]): Dataset[RankState] = {
    import spark.implicits._
    pages.flatMap { p =>
      val self = RefUrl.selfNormalize(p.url)
      if (self == null) None
      else Some((self, p.url, RefUrl.outlinks(self, new String(p.html, "UTF-8"))))
    }
      .groupByKey(_._1)
      .reduceGroups((a, b) => if (a._2 <= b._2) a else b)
      .map { case (_, (self, _, links)) => RankState(self, 1.0, 1.0, links) }
  }

  /** Run to convergence; returns (finalState, iterations).
    *
    * `checkpointDir`: None → `localCheckpoint` (fast, but executor-local —
    * an executor loss on a real cluster loses partitions). Pass a reliable
    * dir (HDFS/S3 in production) to truncate lineage with durable
    * `checkpoint()` instead — the right setting for the 100 TB story. */
  def run(spark: SparkSession, state0: Dataset[RankState], threshold: Double,
          percent: Double, maxIter: Int = 100,
          checkpointEvery: Int = 5,
          checkpointDir: Option[String] = None): (Dataset[PageRankResult], Int) = {
    import spark.implicits._
    val (state, cnt) = converge(spark, state0, threshold, percent, maxIter,
      checkpointEvery, checkpointDir)
    (state.map(s => PageRankResult(s.url, s.rank)), cnt)
  }

  /** WARM-START (incremental) iteration — the production recompute after
    * a recrawl changes the graph: instead of re-converging from the flat
    * rank=1.0 init, seed the NEW graph's nodes with the previous run's
    * ranks (nodes new to the graph start at the reference init 1.0) and
    * iterate the same algebra. PageRank's fixpoint is init-independent,
    * so a warm start converges in far fewer rounds when the graph delta
    * is small — at 10¹² pages that is the difference between an hourly
    * and a daily rank refresh. One url-keyed left join to seed, then the
    * shared converge loop. */
  def warmStart(spark: SparkSession, newState: Dataset[RankState],
                prev: Dataset[PageRankResult], threshold: Double,
                percent: Double, maxIter: Int = 100,
                checkpointEvery: Int = 5,
                checkpointDir: Option[String] = None): (Dataset[PageRankResult], Int) = {
    import spark.implicits._
    val seeded = newState.toDF()
      .join(prev.toDF().select($"url", $"rank".as("_prev_rank")), Seq("url"), "left")
      .select($"url",
        coalesce($"_prev_rank", lit(1.0)).as("rank"),
        coalesce($"_prev_rank", lit(1.0)).as("prev"),
        $"links")
      .as[RankState]
    run(spark, seeded, threshold, percent, maxIter, checkpointEvery, checkpointDir)
  }

  /** Keep-alive + 0.85·rank/outdeg per outlink — one node's contribution
    * rows (reference PageRank.java:90-104). */
  private def contribsOf(s: RankState): Iterator[(String, Double)] = {
    val keepAlive = Iterator.single((s.url, 0.0))
    val out =
      if (s.links.isEmpty) Iterator.empty
      else {
        val v = 0.85 * s.rank / s.links.length
        s.links.iterator.map(l => (l, v))
      }
    keepAlive ++ out
  }

  /** The convergence loop [[run]] (and through it [[warmStart]]) drives.
    *
    * Per round: contribution shuffle + sum, dangling-drop inner join
    * (reference PageRank.java:106), +0.15; ONE action computes both
    * convergence scalars and materializes the persisted round (bounding
    * plan depth to one iteration). Reliable-checkpoint rounds persist
    * BEFORE checkpointing so the checkpoint-writer job reads the round
    * from cache instead of re-executing it (the pre-checkpoint cache is
    * dropped once the files exist); localCheckpoint rounds keep the
    * persist-after shape — local checkpoints ARE the cached blocks. The
    * caller's state0 cache is adopted, never evicted. */
  private def converge(spark: SparkSession, state0: Dataset[RankState],
      threshold: Double, percent: Double, maxIter: Int,
      checkpointEvery: Int, checkpointDir: Option[String]): (Dataset[RankState], Int) = {
    import spark.implicits._
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // each round reads `state` twice (contribs flatMap + the join), so the
    // initial state is persisted — but only when the CALLER hasn't already:
    // the loop unpersists the states it owns, and dropping a cache the
    // caller set up (e.g. one init reused across several runs) would
    // silently force their pipeline to recompute cold
    val adoptState0 = state0.storageLevel == StorageLevel.NONE
    var state = if (adoptState0) state0.persist(StorageLevel.MEMORY_AND_DISK) else state0
    var ownState = adoptState0
    var cnt = 0
    var converged = false
    while (!converged && cnt < maxIter) {
      cnt += 1
      val contribs = state.flatMap(contribsOf).toDF("k", "contrib")
      val aggregated = contribs.groupBy($"k").agg(sum($"contrib").as("mass"))
      // inner join drops dangling-target mass (reference PageRank.java:106)
      val newState = aggregated
        .join(state.toDF("sk", "rank", "prev", "links"), $"k" === $"sk", "inner")
        .select($"k".as("url"), ($"mass" + 0.15).as("rank"), $"rank".as("prev"), $"links")
        .as[RankState]

      var preCheckpointCache: Option[Dataset[RankState]] = None
      val next =
        if (cnt % checkpointEvery == 0 && checkpointDir.isDefined) {
          val cached = newState.persist(StorageLevel.MEMORY_AND_DISK)
          preCheckpointCache = Some(cached)
          cached.checkpoint(false)
        } else if (cnt % checkpointEvery == 0) {
          newState.localCheckpoint(false).persist(StorageLevel.MEMORY_AND_DISK)
        } else newState.persist(StorageLevel.MEMORY_AND_DISK)

      // convergence scalars ride ACCUMULATORS on the materialization action
      // instead of a separate aggregation: the old agg appended a partial +
      // single-partition-final exchange pair to every round's job (~2 of its
      // ~5 AQE stages for pure scheduling). foreach is an action, so
      // accumulator updates are exactly-once per successful task; the
      // per-row predicate is the same IEEE |rank − prev| < threshold.
      val totalAcc = spark.sparkContext.longAccumulator
      val achievedAcc = spark.sparkContext.longAccumulator
      val th = threshold
      next.toDF().select($"rank", $"prev").foreach { r =>
        totalAcc.add(1L)
        if (math.abs(r.getDouble(0) - r.getDouble(1)) < th) achievedAcc.add(1L)
      }
      val total = totalAcc.value
      val achieved = achievedAcc.value
      preCheckpointCache.foreach(_.unpersist())
      if (ownState) state.unpersist()
      state = next
      ownState = true
      converged = total == 0 || achieved.toDouble / total >= percent
    }
    (state, cnt)
  }

  /** Full pipeline: pages → ranks (url-keyed) with reference defaults. */
  def compute(spark: SparkSession, pages: Dataset[Page], threshold: Double = 0.01,
              percent: Double = 0.8, maxIter: Int = 100): (Dataset[PageRankResult], Int) =
    run(spark, init(spark, pages), threshold, percent, maxIter)
}
