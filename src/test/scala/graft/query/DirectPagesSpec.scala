package graft.query

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.util.RefHasher

/** The no-Spark-job doc-detail tier: [[DirectIndex.writePages]] +
  * [[DirectPages]] must return `GET /query/:url` payloads byte-identical to
  * [[Serving.pageInfoJson]] over the stored page, schedule zero Spark jobs
  * per lookup, and read only a tiny fraction of the page store. */
class DirectPagesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("direct-pages-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val n = 300
  lazy val keyed = {
    import spark.implicits._
    spark.createDataset(Corpus.generateLocal(n))
      .map(p => (RefHasher.hash(p.url), p.url, new String(p.html, "UTF-8")))
      .toDF("key", "url", "html")
  }
  lazy val sidecarDir = {
    val d = Files.createTempDirectory("graft-pages-direct").toFile.getAbsolutePath
    DirectIndex.writePages(keyed, d)
    d
  }

  test("direct doc detail is payload-identical to pageInfoJson over the stored page, zero jobs per lookup") {
    val rows = keyed.select("url", "html").collect().map(r => (r.getString(0), r.getString(1)))
    val htmlByUrl = rows.toMap
    val urls = rows.map(_._1)
    val probe = urls.take(7) ++ urls.takeRight(3) ++
      Seq("http://absent.example/none", "not a url at all", "")
    // expectations first (collecting `keyed` above DID run jobs)
    val expected = probe.map(u => u -> Serving.pageInfoJson(u, htmlByUrl.get(u))).toMap

    val direct = DirectPages.open(sidecarDir)
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (u <- probe)
        assert(direct.detailJson(u) == expected(u), s"payload mismatch for '$u'")
      Thread.sleep(300)
      assert(jobs == 0, s"direct doc detail scheduled $jobs Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a lookup reads a tiny fraction of the page store") {
    val direct = DirectPages.open(sidecarDir)
    val total = direct.storeBytes
    assert(total > 0)
    val u = keyed.select("url").collect().map(_.getString(0)).apply(n / 2)
    val before = direct.bytesRead.get()
    assert(direct.html(RefHasher.hash(u)).nonEmpty)
    val per = direct.bytesRead.get() - before
    assert(per > 0 && per < total / 20,
      s"lookup read $per of $total page-store bytes — not a point fetch")
  }

  test("a tiny shard cap rolls page shards, lookups identical") {
    val d = Files.createTempDirectory("graft-pages-split").toFile.getAbsolutePath
    val cap = 32768L
    DirectIndex.writePages(keyed, d, maxShardBytes = cap)
    val gen = new java.io.File(DirectIndex.resolveDir(d, "pages"))
    val files = gen.listFiles().filter(f =>
      f.getName.startsWith("pages-") && f.getName.endsWith(".bin"))
    assert(files.length > 4, s"expected rolled page shards, got ${files.length}")
    for (f <- files) assert(f.length() <= cap, s"${f.getName} over cap: ${f.length()}")
    val split = DirectPages.open(d)
    val whole = DirectPages.open(sidecarDir)
    val urls = keyed.select("url").collect().map(_.getString(0))
    for (u <- urls.take(10) ++ urls.takeRight(5) ++ Seq("http://absent.example/none"))
      assert(split.html(RefHasher.hash(u)) == whole.html(RefHasher.hash(u)), s"'$u'")
  }

  test("empty pages table round-trips; absent and malformed keys miss cleanly") {
    val d = Files.createTempDirectory("graft-pages-empty").toFile.getAbsolutePath
    DirectIndex.writePages(keyed.limit(0), d)
    val direct = DirectPages.open(d)
    assert(direct.html(RefHasher.hash("http://x/")).isEmpty)
    assert(direct.detailJson("http://x/") == Serving.pageInfoJson("http://x/", None))
    val full = DirectPages.open(sidecarDir)
    assert(full.html("tooshort").isEmpty)
    assert(full.html("").isEmpty)
  }

  test("a pages.idx with bytes appended fails loudly at open") {
    val d = Files.createTempDirectory("graft-pages-padded").toFile.getAbsolutePath
    DirectIndex.writePages(keyed, d)
    val idx = new java.io.File(DirectIndex.resolveDir(d, "pages"), "pages.idx")
    Files.write(idx.toPath, new Array[Byte](8), java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException](DirectPages.open(d))
    assert(e.getMessage.contains("pages.idx"), e.getMessage)
  }
}
