package graft.query

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.index.IndexBuild
import graft.util.RefHasher

/** End-to-end reference response bodies over the direct tier: the
  * ranked-list JSON of `/query` and the keyed point-lookup detail JSON of
  * `/query/:url`, with the reference's HashMap-order serialization and
  * default branches, byte-identical through the HTTP routes. */
class ServingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("serving-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val numDocs = 120

  test("HTTP surface round-trips byte-identical bodies over the direct tier") {
    import spark.implicits._
    // direct-tier artifacts: index + pages + ranks sidecars
    val pages = Corpus.generate(spark, numDocs)
    val built = IndexBuild.build(spark, pages, Corpus.lexicon, parts = 4, blockSize = 64)
    val dir = Files.createTempDirectory("serving-http").toString
    DirectIndex.write(built, dir)
    DirectIndex.writePages(
      pages.map(p => (RefHasher.hash(p.url), p.url, new String(p.html, "UTF-8")))
        .toDF("key", "url", "html"), dir)
    val (ranksDs, _) = graft.rank.PageRank.compute(spark, pages)
    DirectIndex.writeRanks(ranksDs, dir)

    val ds = DirectSearcher.open(dir, numDocs)
    val dp = DirectPages.open(dir)
    val dr = DirectRanks.open(dir)
    val srv = HttpServing.start(ds, dp, Some(dr))
    try {
      def get(pathAndQuery: String): (Int, String, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${srv.port}$pathAndQuery")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        val body = if (is == null) "" else
          try new String(is.readAllBytes(), "UTF-8") finally is.close()
        (code, body, conn.getHeaderField("Content-Type"))
      }
      // hello route, verbatim (Backend.java:36-38)
      assert(get("/") == ((200, "<html><h2>HELLO</h2></html>", "text/html")))
      // /query: byte-identical to Serving.searchJson over the SAME tier,
      // incl. the pagerank blend and a '+'-encoded multi-term query
      for (q <- Seq("galaxy", "galaxy engine search", "the", "zzzabsent")) {
        val enc = java.net.URLEncoder.encode(q, "UTF-8")
        val (code, body, ct) = get(s"/query?query=$enc")
        assert(code == 200 && ct == "application/json")
        assert(body == Serving.searchJson(
          x => ds.referenceTopK(x, Some(dr.prFunction)), q), s"query '$q'")
      }
      // /query body shape: a JSON array of url/score objects
      val ranked = get("/query?query=galaxy+engine")._2
      assert(ranked.startsWith("[{\"url\":\"") && ranked.endsWith("\"}]"))
      // /query/:url: keyed point lookup + HashMap-order info JSON, hit + miss
      val url = Corpus.urlOf(7, 16)
      val html = new String(Corpus.makePage(7, numDocs, 16, 42L).html, "UTF-8")
      val hit = dp.detailJson(url)
      assert(hit == Serving.pageInfoJson(url, Some(html)))
      // quirk: extracted title rides under "abstract"; "title" stays the url
      assert(hit.contains("\"abstract\":\"" + DocDetail.getTitle(html) + "\""))
      assert(hit.contains("\"title\":\"" + url + "\""))
      // all three keys present exactly once, object-shaped
      assert(hit.count(_ == '{') == 1 && hit.count(_ == '}') == 1)
      val encUrl = java.net.URLEncoder.encode(url, "UTF-8")
      assert(get(s"/query/$encUrl")._2 == hit)
      val miss = java.net.URLEncoder.encode("http://nowhere.example/x", "UTF-8")
      val missBody = get(s"/query/$miss")._2
      assert(missBody == Serving.pageInfoJson("http://nowhere.example/x", None))
      assert(missBody.contains("\"abstract\":\"No Information Available\""))
      // missing query param serves the empty query's list; junk path 404s
      assert(get("/query")._1 == 200)
      assert(get("/nope")._1 == 404)
      // malformed %-escapes are client errors: 400, not the generic 500,
      // in both decode positions
      assert(get("/query?query=%zz")._1 == 400)
      assert(get("/query/http%zz")._1 == 400)
    } finally srv.stop()
  }
}
