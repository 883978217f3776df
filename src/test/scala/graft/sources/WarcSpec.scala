package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{Corpus, Page}

/** The WARC roundtrip must be byte-exact per record, survive payloads that
  * embed the record magic (length-driven parse, never delimiter-driven),
  * parse multi-record segments, and be deterministic across parallelism. */
class WarcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("warc-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("adversarial payload containing the WARC magic roundtrips byte-exact") {
    val evil = ("<html>\r\n\r\nWARC/1.0\r\nContent-Length: 999\r\n\r\n" +
      "not a record</html>").getBytes(UTF_8)
    val pages = Seq(
      Page("http://a/x", ts(1700000000L), evil, "t", "en"),
      Page("http://a/y", ts(1700000001L), Array[Byte](), "t", "en"), // empty body
      Page("http://b/z", ts(1700000002L), "plain".getBytes(UTF_8), "t", "en"))
    val seg = pages.flatMap(p => Warc.record(p.url, p.warc_ts, p.html)).toArray
    val parsed = Warc.parseSegment(seg).toSeq
    assert(parsed.map(_._1) == pages.map(_.url))
    assert(parsed.map(_._2) == pages.map(p => Warc.warcDate(p.warc_ts)))
    assert(parsed.zip(pages).forall { case ((_, _, got), p) =>
      java.util.Arrays.equals(got, p.html) })
  }

  test("distributed write + read over the synthetic corpus is lossless") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc").toString
    val pages = Corpus.generate(spark, 200).repartition(5)
    val segments = Warc.writeSegments(pages, dir)
    assert(segments >= 2, s"expected multiple segments, got $segments")
    // a non-segment file in the directory is not read
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "notes.txt"),
      "WARC/1.0 not a segment".getBytes(UTF_8))
    val back = Warc.read(spark, dir)
      .select($"url", $"warc_date", org.apache.spark.sql.functions.md5($"html").as("h"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    def md5hex(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("MD5").digest(b).map("%02x".format(_)).mkString
    val want = Corpus.generateLocal(200).map(p =>
      (p.url, Warc.warcDate(p.warc_ts), md5hex(p.html))).toSet
    assert(back == want)
  }

  test("truncated segment fails loudly") {
    val rec = Warc.record("http://a/x", ts(1L), "body".getBytes(UTF_8))
    val cut = java.util.Arrays.copyOfRange(rec, 0, rec.length - 6)
    val e = intercept[IllegalArgumentException](Warc.parseSegment(cut).toSeq)
    assert(e.getMessage.contains("truncated"))
  }

  test("CDX extents tile each segment exactly and point-fetch every record byte-exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc-cdx").toString
    Warc.writeSegments(Corpus.generate(spark, 120).repartition(4), dir)
    val cdx = Warc.cdxIndex(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(cdx.length == 120)
    // extents tile: per segment, sorted offsets are contiguous from 0 to
    // the file size — no gap, no overlap
    cdx.groupBy(_._3).foreach { case (seg, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"$seg does not start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, s"gap/overlap in $seg")
        case _ => ()
      }
      val last = sorted.last
      assert(last._4 + last._5 ==
        java.nio.file.Files.size(java.nio.file.Paths.get(dir, seg)))
    }
    // every record point-fetches byte-exact through its extent
    val want = Corpus.generateLocal(120).map(p => p.url -> p.html).toMap
    cdx.foreach { case (url, date, seg, off, len) =>
      val (u, d, html) = Warc.fetchAt(dir, seg, off, len)
      assert(u == url && d == date)
      assert(java.util.Arrays.equals(html, want(url)), s"bytes differ for $url")
    }
  }

  test("an extent spanning two records is refused") {
    val dir = java.nio.file.Files.createTempDirectory("warc-cdx2").toString
    val r1 = Warc.record("http://a/1", ts(1L), "one".getBytes(UTF_8))
    val r2 = Warc.record("http://a/2", ts(2L), "two".getBytes(UTF_8))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "seg.warc"), r1 ++ r2)
    val e = intercept[IllegalArgumentException](
      Warc.fetchAt(dir, "seg.warc", 0L, (r1.length + r2.length).toLong))
    assert(e.getMessage.contains("spans"))
  }
}
