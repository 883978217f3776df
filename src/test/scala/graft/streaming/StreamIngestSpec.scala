package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.index.IndexBuild
import graft.query.Searcher

class StreamIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("stream-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming hourly event agg (watermarked) matches the batch answer") {
    // FileStreamSource needs a directory; stage the single-file table
    val src = Files.createTempDirectory("events").toString
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(src, "events.parquet"))
    val q = StreamIngest.eventsHourly(spark, src, "ev_hourly")
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM ev_hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = spark.read.parquet(src)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("a url re-crawled in a later batch replaces its earlier tokenization in the merge") {
    import spark.implicits._
    val segDir = Files.createTempDirectory("seg-recrawl").toString
    // hand-written segments in the stream's batch=<id> layout: url A was
    // tokenized in batch 0, then re-crawled with different content in
    // batch 1 (which also first sees url B)
    val lex = graft.corpus.Corpus.lexicon.toSeq.sorted
    val (w1, w2, w3) = (lex(0), lex(1), lex(2))
    Seq(("http://a/", w1, 3), ("http://c/", w1, 5)).toDF("url", "term", "tf")
      .write.parquet(s"$segDir/batch=0")
    Seq(("http://a/", w2, 2), ("http://b/", w3, 1)).toDF("url", "term", "tf")
      .write.parquet(s"$segDir/batch=1")
    // per-url page markers (what indexIngest's sink writes): url C was
    // RE-CRAWLED in batch 1 but its new content emitted ZERO postings —
    // only the marker proves the re-crawl, and C must drop from the index
    Seq("http://a/", "http://c/").toDF("url")
      .write.parquet(s"$segDir/${StreamIngest.UrlMarkers}/batch=0")
    Seq("http://a/", "http://b/", "http://c/").toDF("url")
      .write.parquet(s"$segDir/${StreamIngest.UrlMarkers}/batch=1")

    val built = StreamIngest.mergeStreamed(spark, segDir, parts = 2, blockSize = 64)
    val dict = built.dictionary.collect().map(e => e.term -> e.df).toMap
    // w1 came only from A's and C's STALE crawls — last write wins, so gone
    assert(!dict.contains(w1), s"stale posting survived the re-crawl merge: $dict")
    assert(dict.get(w2).contains(1L) && dict.get(w3).contains(1L), s"got $dict")
    val docs = built.docs.collect().map(d => d.url -> d.dl).toMap
    assert(docs == Map("http://a/" -> 2L, "http://b/" -> 1L),
      s"doc lengths must reflect only the latest crawls (and drop zero-posting C), got $docs")
  }

  test("streamed index ingest is rank-identical to the batch build; restart skips committed batches") {
    import spark.implicits._
    val numDocs = 200
    val base = Files.createTempDirectory("stream").toString
    val pagesDir = s"$base/pages"
    val segDir = s"$base/segments"
    val ckpt = s"$base/ckpt"
    // stage pages as multiple files so the stream sees several micro-batches
    Corpus.generate(spark, numDocs).repartition(6).write.parquet(pagesDir)

    val q1 = StreamIngest.indexIngest(spark, pagesDir, segDir, ckpt, Corpus.lexicon, maxFilesPerTrigger = Some(2))
    q1.awaitTermination(240000)
    val batchesAfterFirst = new java.io.File(segDir).list().count(_.startsWith("batch="))
    assert(batchesAfterFirst >= 2, s"expected multiple micro-batches, got $batchesAfterFirst")

    val streamedIdx = StreamIngest.mergeStreamed(spark, segDir, parts = 4, blockSize = 64)
    val batchIdx = IndexBuild.build(spark, Corpus.generate(spark, numDocs),
      Corpus.lexicon, parts = 4, blockSize = 64)
    val sStream = Searcher.fromIndex(streamedIdx, numDocs)
    val sBatch = Searcher.fromIndex(batchIdx, numDocs)
    for (q <- Seq("galaxy", "galaxy engine search", "the", "prince officer soldier",
                  "running running galaxy"))
      assert(sStream.referenceTopK(q) == sBatch.referenceTopK(q), s"query '$q'")

    // restart with no new files: checkpoint ensures no batch re-runs
    val q2 = StreamIngest.indexIngest(spark, pagesDir, segDir, ckpt, Corpus.lexicon, maxFilesPerTrigger = Some(2))
    q2.awaitTermination(120000)
    val batchesAfterRestart = new java.io.File(segDir).list().count(_.startsWith("batch="))
    assert(batchesAfterRestart == batchesAfterFirst, "restart must not re-ingest committed batches")
  }
}
