package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.corpus.Corpus
import graft.index.{BuiltIndex, IndexBuild}
import graft.query.DirectIndex

/** Calls into the engine's public functions, timed from outside and wrapped
  * in spans named after the engine's layers. */
final class Engine(val tracer: Tracer, val work: File) {

  var spark: SparkSession = _
  var counters: SparkCounters = _
  var cpus: Int = 0

  /** Start (or restart at another parallelism) the local Spark session.
    * Shuffle and build partitions are two waves of tasks per core. */
  def startSession(level: Int): Double = {
    val t0 = System.nanoTime()
    if (spark != null) spark.stop()
    tracer.span("spark", s"SparkSession.start[local[$level]]") {
      spark = SparkSession.builder()
        .master(s"local[$level]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", (level * 2).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      counters = SparkCounters.register(spark.sparkContext)
    }
    cpus = level
    (System.nanoTime() - t0) / 1e9
  }

  def stop(): Unit = if (spark != null) {
    Host.log("stopping Spark")
    spark.stop(); spark = null
    Host.log("stopped")
  }

  private def sparkCounts: Option[() => Map[String, Long]] =
    Some(() => { SparkCounters.drain(spark.sparkContext); counters.snapshot() })

  /** Run `body` under a span and return its result with its wall seconds. */
  def timed[A](layer: String, name: String, sparkSpan: Boolean = false)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(layer, name, if (sparkSpan) sparkCounts else None)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One index build: seeded corpus → IndexBuild.build → blocks, docs and
    * dictionary materialized → DirectIndex sidecar written to `dir`. */
  def build(numDocs: Long, corpusSeed: Long, dir: String): Engine.Built = {
    SparkCounters.drain(spark.sparkContext)
    val stagesBefore = counters.stageIds
    val before = counters.snapshot()
    val t0 = System.nanoTime()
    val (built, buildS) = timed("index", "IndexBuild.build", sparkSpan = true) {
      IndexBuild.build(spark,
        Corpus.generate(spark, numDocs, seed = corpusSeed, slices = Some(cpus * 2)),
        Corpus.lexicon, parts = cpus * 2)
    }
    val (blocks, blocksS) = timed("index", "blocks.count", sparkSpan = true)(built.blocks.count())
    val (docs, docsS) = timed("index", "docs.count", sparkSpan = true)(built.docs.count())
    val (_, dictS) = timed("index", "dictionary.count", sparkSpan = true)(built.dictionary.count())
    val (_, writeS) = timed("direct", "DirectIndex.write", sparkSpan = true)(DirectIndex.write(built, dir))
    val wallS = (System.nanoTime() - t0) / 1e9
    SparkCounters.drain(spark.sparkContext)
    val after = counters.snapshot()
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
    Engine.Built(built, dir, numDocs, docs, blocks, Engine.dirBytes(new File(dir)),
      wallS, Map("index.build_s" -> buildS, "index.blocks_s" -> blocksS,
        "index.docs_s" -> docsS, "index.dict_s" -> dictS, "direct.write_s" -> writeS),
      delta, counters.widestStageSkew(stagesBefore), cpus)
  }

  /** The page store sidecar for the detail route: (reference row-key hash,
    * html) of every corpus page, written next to the index. */
  def writePages(numDocs: Long, corpusSeed: Long, dir: String): Double = {
    val session = spark
    import session.implicits._
    timed("direct", "DirectIndex.writePages", sparkSpan = true) {
      val keyed = Corpus.generate(spark, numDocs, seed = corpusSeed, slices = Some(cpus * 2))
        .map(p => (graft.util.RefHasher.hash(p.url), new String(p.html, "UTF-8")))
        .toDF("key", "html")
      DirectIndex.writePages(keyed, dir)
    }._2
  }
}

object Engine {

  /** A built index and what its build cost. `spark` holds listener deltas
    * over the whole build; `skew` is max ÷ median task time of its widest
    * stage. */
  final case class Built(index: BuiltIndex, dir: String, numDocs: Long,
                         docCount: Long, blocks: Long, sidecarBytes: Long,
                         wallS: Double, stepS: Map[String, Double],
                         spark: Map[String, Long], skew: Double, level: Int) {
    def docsPerS: Double = numDocs / wallS

    /** Σ task run time ÷ (wall × cores): how busy the build kept its cores. */
    def busyRatio: Double = spark("spark.task_run_ms") / (wallS * 1000.0 * level)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}
