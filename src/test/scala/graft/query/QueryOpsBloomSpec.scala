package graft.query

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.index.IndexBuild

/** The one serving-order walk must return identical rows under an exact
  * hygiene screen and under a Bloom screen even when the filter fires
  * FALSE POSITIVES on clean docs — the suspect-mark → exact-verify →
  * ordered-replay stages' whole point. (IndexSpec reaches the Bloom screen
  * end to end through `batchReferenceTopKPlan`; this spec saturates the
  * filter with clean ids so verified-clean suspects are guaranteed, not
  * left to fpp chance.) */
class QueryOpsBloomSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("queryops-bloom-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("bloom walk with forced false positives equals the exact walk") {
    import spark.implicits._
    val pages = Corpus.generateLocal(80) ++ Corpus.adversarialPages
    val built = IndexBuild.build(spark, spark.createDataset(pages),
      Corpus.lexicon, parts = 3, blockSize = 64)
    val docs = built.docs.collect()
    val skip = docs.filter(d => QueryOps.classifyUrl(d.url) == QueryOps.Skip).map(_.doc_id).toSet
    val thr = docs.filter(d => QueryOps.classifyUrl(d.url) == QueryOps.Throw).map(_.doc_id).toSet
    assert(skip.nonEmpty && thr.nonEmpty, "adversarial fixture must flag docs")
    val clean = docs.map(_.doc_id).filterNot(id => skip(id) || thr(id))

    // every flagged id + every third CLEAN id goes into the filter: the
    // clean ones are deterministic false positives that the exact verify
    // must resolve back to counting postings
    val bf = org.apache.spark.util.sketch.BloomFilter.create(docs.length.toLong, 0.0001)
    (skip ++ thr).foreach(bf.putLong)
    val fps = clean.zipWithIndex.collect { case (id, i) if i % 3 == 0 => id }
    fps.foreach(bf.putLong)
    assert(fps.forall(bf.mightContainLong), "forced FPs must hit the filter")
    val screen = QueryOps.BloomScreen(bf, (skip.size + thr.size).toLong)

    // term stats exactly as batchReferenceTopK derives them (N = the
    // reference's production constant, keeping head terms' idf nonzero)
    val n = 300000
    val dict = built.dictionary.collect().map(d => d.term -> d).toMap
    val qs = Seq("telescope", "observation comet", "nebula gravity", "asteroid",
      "expedition", "galaxy engine search", "the")
    val stats = qs.flatMap(RefScore.termWeights(_).map(_._1)).distinct
      .flatMap(t => dict.get(t).flatMap(d =>
        RefScore.idf(n, d.df).map(idf => t -> ((idf, d.max_tf))))).toMap
    val liveTerms = stats.keys.toSeq.sorted
    assert(liveTerms.nonEmpty)

    def walk(h: QueryOps.Hygiene) = {
      val (df, scratch) = QueryOps.walkTermPostings(spark, built, liveTerms, stats, h)
      val rows = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      scratch.foreach(_.unpersist()) // the caller's contract: drop the raw walk once consumed
      (rows, scratch.isDefined)
    }
    val (exact, exactScratch) = walk(QueryOps.ExactSets(skip, thr))
    val (bloom, bloomScratch) = walk(screen)
    // only the Bloom screen runs the verify + replay stages over a persisted raw walk
    assert(!exactScratch && bloomScratch)
    assert(exact.nonEmpty)
    assert(bloom == exact,
      s"bloom-walk drift: missing=${(exact -- bloom).take(3)} extra=${(bloom -- exact).take(3)}")
  }
}
