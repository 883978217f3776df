package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sitemap protocol (sitemaps.org) source — the crawl-seeding counterpart
  * to the WARC archive source: sites publish `<urlset>` files (url +
  * optional lastmod) and `<sitemapindex>` files pointing at them; a
  * crawler turns those into frontier candidates. Writer emits one urlset
  * file per input partition (task-per-file like the WARC segment writer);
  * the reader runs one task per file via binaryFile and parses with a
  * dependency-free tag walk (the three-tag subset of the protocol —
  * `<url>`, `<loc>`, `<lastmod>` — with XML entity escaping for the five
  * predefined entities, the only ones sitemap XML may use).
  *
  * 100 TB story: a host's sitemap is one file — the parallelism unit is
  * the file, exactly like WARC segments; nothing is driver-sized.
  */
object Sitemap {

  private[sources] def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  private[sources] def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  /** Serialize one urlset document. `lastmod` is the W3C date (yyyy-MM-dd)
    * or null to omit the tag. */
  def urlsetXml(entries: Seq[(String, String)]): String = {
    val body = entries.map { case (loc, lastmod) =>
      val lm = if (lastmod == null) "" else s"<lastmod>${escape(lastmod)}</lastmod>"
      s"<url><loc>${escape(loc)}</loc>$lm</url>"
    }.mkString("\n")
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
      body + "\n</urlset>\n"
  }

  /** Parse one urlset document → (loc, lastmod-or-null) in file order.
    * Loud on a <url> without <loc> (a sitemap that can't seed anything
    * is corrupt, not empty). */
  def parseUrlset(xml: String): Seq[(String, String)] = {
    val urlRe = "(?s)<url>(.*?)</url>".r
    val locRe = "(?s)<loc>(.*?)</loc>".r
    val lmRe = "(?s)<lastmod>(.*?)</lastmod>".r
    urlRe.findAllMatchIn(xml).map { m =>
      val inner = m.group(1)
      val loc = locRe.findFirstMatchIn(inner)
        .getOrElse(throw new IllegalArgumentException(
          s"<url> entry without <loc>: ${inner.take(80)}"))
        .group(1).trim
      val lm = lmRe.findFirstMatchIn(inner).map(_.group(1).trim).orNull
      (unescape(loc), if (lm == null) null else unescape(lm))
    }.toSeq
  }

  /** Write `entries` (loc, lastmod) as sitemap files, one per input
    * partition (`sitemap-<pid>.xml`). Returns the number written. */
  def write(entries: Dataset[(String, String)], dir: String): Int = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val written = entries.mapPartitions { it =>
      val rows = it.toSeq
      if (rows.isEmpty) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"sitemap-$pid%05d.xml"),
          urlsetXml(rows).getBytes(UTF_8))
        Iterator.single(1)
      }
    }(org.apache.spark.sql.Encoders.scalaInt)
    written.reduce(_ + _)
  }

  /** Read a directory of sitemap files as (url, lastmod) — one task per
    * file via binaryFile; lastmod stays a nullable string (the protocol
    * allows date or datetime forms). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.xml").load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap(b => parseUrlset(new String(b, UTF_8)))
      .toDF("url", "lastmod")
  }
}
