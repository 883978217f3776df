package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Page

/** WARC/1.0 segment source — the archived-crawl ingestion format (Common
  * Crawl ships exactly this shape). The reference ACQUIRES pages by
  * crawling (crawler/Crawler.java); the batch-engine twin of that
  * acquisition is reading archived crawl segments, so this module closes
  * the source-format gap: write a corpus out as standard WARC response
  * records (one segment file per task — how CC segments are produced) and
  * read segments back as a DataFrame with a DISTRIBUTED parser.
  *
  * Parsing is Content-Length-driven, never delimiter-driven: payload
  * bytes are sliced by the declared length, so HTML containing
  * "\r\n\r\nWARC/1.0" (or any other marker) cannot desynchronize the
  * walk — the adversarial case WarcSpec pins. One task parses one segment
  * file (`binaryFile` source); segments are the parallelism unit exactly
  * as in Common Crawl processing, and a 100 TB crawl is just more
  * segments. Records carry a deterministic `WARC-Record-ID` (md5 of the
  * target URI) so output bytes are reproducible — a re-run produces
  * byte-identical segments, which is what makes the roundtrip testable
  * and the write idempotent.
  */
object Warc {

  private val DateFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** WARC-Date string for a fetch timestamp (second precision, UTC). */
  def warcDate(ts: java.sql.Timestamp): String = DateFmt.format(ts.toInstant)

  /** One serialized WARC/1.0 response record. */
  def record(url: String, ts: java.sql.Timestamp, html: Array[Byte]): Array[Byte] = {
    val header =
      s"""WARC/1.0\r
WARC-Type: response\r
WARC-Record-ID: <urn:md5:${graft.ml.PortableHash.md5hex(url)}>\r
WARC-Target-URI: $url\r
WARC-Date: ${warcDate(ts)}\r
Content-Type: text/html\r
Content-Length: ${html.length}\r
\r
""".getBytes(UTF_8)
    val out = new Array[Byte](header.length + html.length + 4)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(html, 0, out, header.length, html.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Writes `pages` as WARC segment files, one per input partition
    * (`segment-<pid>.warc`), each task streaming its own partition to the
    * shared filesystem like the index shard writers do. Returns the
    * number of non-empty segments. */
  def writeSegments(pages: Dataset[Page], dir: String): Int = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val written = pages.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val path = java.nio.file.Paths.get(dir, f"segment-$pid%05d.warc")
        val out = java.nio.file.Files.newOutputStream(path)
        try it.foreach(p => out.write(record(p.url, p.warc_ts, p.html)))
        finally out.close()
        Iterator.single(1)
      }
    }(org.apache.spark.sql.Encoders.scalaInt)
    written.reduce(_ + _)
  }

  /** Parses one segment's bytes into (url, warc_date, html) records —
    * Content-Length-sliced, loud on malformed headers. */
  def parseSegment(bytes: Array[Byte]): Iterator[(String, String, Array[Byte])] =
    parseSegmentWithOffsets(bytes).map { case (u, d, h, _, _) => (u, d, h) }

  /** [[parseSegment]] plus each record's byte extent within the segment:
    * (url, warc_date, html, offset, length) — length spans header +
    * payload + trailing CRLFCRLF, so `bytes[offset, offset+length)` is one
    * complete re-parseable record. The extent is what a CDX index stores
    * (see [[cdxIndex]]/[[fetchAt]]). */
  def parseSegmentWithOffsets(bytes: Array[Byte]): Iterator[(String, String, Array[Byte], Long, Long)] =
    new Iterator[(String, String, Array[Byte], Long, Long)] {
      private var off = 0
      override def hasNext: Boolean = off < bytes.length
      override def next(): (String, String, Array[Byte], Long, Long) = {
        val headerEnd = indexOfBlankLine(bytes, off)
        require(headerEnd > off, s"no header terminator at offset $off")
        val header = new String(bytes, off, headerEnd - off, UTF_8)
        require(header.startsWith("WARC/1.0"), s"bad record magic at $off")
        def field(name: String): String = header.linesIterator
          .find(_.startsWith(s"$name: "))
          .getOrElse(throw new IllegalArgumentException(s"missing $name at $off"))
          .drop(name.length + 2).trim
        val len = field("Content-Length").toInt
        val payloadStart = headerEnd + 4 // past \r\n\r\n
        require(payloadStart + len + 4 <= bytes.length,
          s"truncated record at $off: need ${payloadStart + len + 4}, have ${bytes.length}")
        val payload = java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + len)
        val start = off
        off = payloadStart + len + 4 // past the record's trailing \r\n\r\n
        (field("WARC-Target-URI"), field("WARC-Date"), payload,
          start.toLong, (off - start).toLong)
      }
      private def indexOfBlankLine(b: Array[Byte], from: Int): Int = {
        var i = from
        while (i + 3 < b.length) {
          if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
            return i
          i += 1
        }
        -1
      }
    }

  /** Reads a directory of WARC segments as (url, warc_date, html) — one
    * task per segment via the binaryFile source. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.warc").load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap(parseSegment)
      .toDF("url", "warc_date", "html")
  }

  /** Builds a CDX-style capture index over a segment directory — the
    * lookup table Common Crawl publishes next to its segments: one row per
    * record (url, warc_date, segment filename, offset, length). One task
    * per segment; record bytes are parsed for headers but only the
    * INDEX rows (no payloads) leave the task. At archive scale the CDX is
    * what turns "fetch one url" from a segment scan into [[fetchAt]]'s
    * single ranged read. */
  def cdxIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.warc").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val seg = path.substring(path.lastIndexOf('/') + 1)
        parseSegmentWithOffsets(bytes).map { case (u, d, _, o, l) => (u, d, seg, o, l) }
      }
      .toDF("url", "warc_date", "segment", "offset", "length")
  }

  /** Point-fetches ONE record by its CDX extent — a single ranged read of
    * `length` bytes at `offset`, no Spark job, no segment scan (the
    * archived-crawl analog of the DirectPages mmap tier). */
  def fetchAt(dir: String, segment: String, offset: Long,
              length: Long): (String, String, Array[Byte]) = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(dir, segment),
      java.nio.file.StandardOpenOption.READ)
    try {
      val buf = java.nio.ByteBuffer.allocate(length.toInt)
      var pos = offset
      while (buf.hasRemaining) {
        val n = ch.read(buf, pos)
        require(n > 0, s"truncated read at $segment:$pos")
        pos += n
      }
      val it = parseSegment(buf.array())
      val rec = it.next()
      require(!it.hasNext, s"extent $segment:$offset+$length spans >1 record")
      rec
    } finally ch.close()
  }
}
