package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SitemapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sitemap-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("urlset roundtrips entities in loc and optional lastmod") {
    val entries = Seq(
      ("http://a.example/p?x=1&y=<2>", "2026-01-02"),
      ("http://a.example/it's \"quoted\"", null),
      ("http://b.example/plain", "2026-03-04"))
    val xml = Sitemap.urlsetXml(entries)
    assert(xml.contains("&amp;") && xml.contains("&lt;") && xml.contains("&apos;"))
    assert(Sitemap.parseUrlset(xml) == entries)
  }

  test("a <url> without <loc> fails loudly") {
    val bad = "<?xml version=\"1.0\"?><urlset><url><lastmod>2026-01-01</lastmod></url></urlset>"
    val e = intercept[IllegalArgumentException](Sitemap.parseUrlset(bad))
    assert(e.getMessage.contains("without <loc>"))
  }

  test("distributed write + read is lossless and file-per-partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sitemap").toString
    val entries = (0 until 200)
      .map(i => (s"http://h${i % 7}.example/p/$i", f"2026-01-${i % 28 + 1}%02d"))
    val n = Sitemap.write(entries.toDF("url", "lastmod")
      .as[(String, String)].repartition(5), dir)
    assert(n == 5)
    // a non-sitemap file in the directory is not read
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "robots.txt"),
      "<urlset><url><loc>http://stray.example/</loc></url></urlset>".getBytes("UTF-8"))
    val back = Sitemap.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == entries.toSet)
  }
}
