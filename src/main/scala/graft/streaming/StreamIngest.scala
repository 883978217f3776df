package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface.
  *
  * The reference has no streaming abstraction (SURVEY.md §2.9) — its only
  * incremental behaviors are the crawler frontier loop and manual
  * stage-restarts. This module supplies the Spark-native equivalents:
  *
  *  - [[eventsHourly]]: event-time windowed aggregation with a watermark —
  *    the streaming twin of the batch q17 query;
  *  - [[indexIngest]]: incremental index ingestion — `readStream` over a
  *    page directory, each micro-batch tokenized via `foreachBatch` into
  *    append-only posting-segment files; the global merge
  *    ([[graft.index.SegmentedIndex.merge]]-equivalent tail) runs over ALL
  *    accumulated segments, so a crashed/restarted stream resumes from its
  *    checkpoint and never re-tokenizes committed batches.
  */
object StreamIngest {

  /** Directory under `segmentsDir` of [[indexIngest]]'s per-url batch
    * markers (`url_markers/batch=<id>/`), beside the `batch=<id>/` segments. */
  private[streaming] val UrlMarkers = "url_markers"

  /** Streaming hourly event aggregation with watermarking (late data beyond
    * the watermark is dropped). Returns the started query (memory sink). */
  def eventsHourly(spark: SparkSession, sourceDir: String, queryName: String,
                   watermark: String = "2 hours"): StreamingQuery = {
    val schema = spark.read.parquet(sourceDir).schema
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      // watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("cnt"), col("sum_value"))
      .writeStream
      // UPDATE, not complete: under complete mode a watermark is a no-op —
      // late data is never dropped and every window group is retained (and
      // re-emitted) forever, so a long-lived stream leaks state without
      // bound. Update mode lets the watermark evict finalized windows; a
      // one-shot AvailableNow replay emits each group once either way.
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental tokenization: stream page parquet files; per micro-batch,
    * tokenize and append (url, term, tf) segment files under
    * `segmentsDir/batch=<id>/`. Checkpointed: restarts skip committed
    * batches (exactly-once file-sink semantics come from the foreachBatch
    * writer being idempotent per batchId path). */
  def indexIngest(spark: SparkSession, pagesDir: String, segmentsDir: String,
                  checkpointDir: String, lexicon: Set[String],
                  maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val lex = spark.sparkContext.broadcast(lexicon)
    val schema = spark.read.parquet(pagesDir).schema
    val src = spark.readStream.schema(schema)
    // rate limit is the CALLER's choice: unlimited by default (one batch
    // per trigger's available files); tests pass a small value to force
    // multi-batch replays. A hardcoded tiny limit would turn a 10^4-file
    // production directory into thousands of micro-batches + batch=N dirs.
    maxFilesPerTrigger.foreach(n => src.option("maxFilesPerTrigger", n.toString))
    src.parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark2 = batch.sparkSession
        import spark2.implicits._
        // ONE page per url per batch, picked DETERMINISTICALLY (latest
        // warc_ts, content hash as tie-break): a url crawled twice inside
        // one trigger would otherwise emit duplicate (url, term) postings —
        // which violate fromUrlTermTf's precondition — and an arbitrary
        // dropDuplicates pick would break the idempotent-rewrite guarantee
        // this sink relies on for exactly-once
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
          .orderBy(col("warc_ts").desc, md5(col("html")).desc)
        val pages = batch
          .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
          .persist()
        pages.select("url", "html").as[(String, Array[Byte])]
          .flatMap { case (url, html) =>
            graft.text.Text.postings(url, new String(html, "UTF-8"), lex.value)
              .map { case (term, tf) => (url, term, tf) }
          }
          .toDF("url", "term", "tf")
          .write.mode("overwrite") // idempotent per-batch path
          .parquet(s"$segmentsDir/batch=$batchId")
        // per-url batch MARKER, independent of how many postings tokenize
        // emitted: a re-crawl whose tokens all fail the lexicon filter
        // produces ZERO posting rows, and deriving "latest batch per url"
        // from postings would keep serving the stale crawl. mergeStreamed
        // reads only the `batch=` dirs as segments, so this sidecar stays
        // out of the postings read.
        pages.select(col("url")) // `batch` comes from the partition dir name
          .write.mode("overwrite").parquet(s"$segmentsDir/$UrlMarkers/batch=$batchId")
        pages.unpersist()
        ()
      }
      .start()
  }

  /** Global merge over streamed segments → a searchable index (same shared
    * tail as SegmentedIndex.merge, reading the stream's segment files).
    *
    * LAST WRITE WINS per url: a page re-crawled in a later micro-batch
    * replaces its earlier tokenization. Without this, duplicate (url, term)
    * postings reach the build tail — two postings for one doc_id in a term
    * run, which either dies in the varbyte ascending-ids check or silently
    * double-counts df/dl. The `batch=<id>` partition column from the
    * segment layout is the version; one url-keyed shuffle filters each url
    * to its latest batch before the shared tail (no-op cost when nothing
    * was re-crawled beyond the shuffle itself — an offline merge step). */
  private val lastMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def mergeStreamed(spark: SparkSession, segmentsDir: String, parts: Int = 8,
                    blockSize: Int = graft.index.IndexBuild.DefaultBlockSize): graft.index.BuiltIndex = {
    // the segment dirs only, listed explicitly: the marker sidecar shares
    // `segmentsDir`, and a `_`-prefixed name Spark would hide itself makes
    // the markers read below log "All paths were ignored"
    val segPath = new org.apache.hadoop.fs.Path(segmentsDir)
    val batchDirs = segPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(segPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString)
    val raw = spark.read.option("basePath", segmentsDir).parquet(batchDirs.toIndexedSeq: _*)
      .select(col("url"), col("term"), col("tf"), col("batch").cast("long").as("batch"))
    // latest batch per url from the PAGE markers, not the posting rows: a
    // re-crawl whose content tokenizes to zero postings must still supersede
    // the old crawl (its marker exists; its posting set is empty)
    val latest = spark.read.parquet(s"$segmentsDir/$UrlMarkers")
      .groupBy(col("url")).agg(max(col("batch").cast("long")).as("batch"))
    val seg = raw.join(latest, Seq("url", "batch")).select("url", "term", "tf")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // release the PREVIOUS merge's pinned cache for this segment dir — the
    // stream-then-merge loop would otherwise pin one full posting copy per
    // merge until the session dies (an older BuiltIndex stays correct, just
    // recomputes on next use)
    Option(lastMergeCache.put(segmentsDir, seg)).foreach(_.unpersist())
    graft.index.IndexBuild.fromUrlTermTf(spark, seg, parts, blockSize)
  }
}
