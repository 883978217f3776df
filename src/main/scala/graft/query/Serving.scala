package graft.query

/** The reference Backend's two HTTP response bodies, composed end-to-end
  * over this engine's artifacts (the Spark library's "switch-over surface"
  * for a reference user; the HTTP framing itself is out of scope per the
  * north rule — these are the exact payload strings).
  *
  *  - `GET /query?query=…` → ranked-result JSON array
  *    (Backend.java:74-139, 613-635);
  *  - `GET /query/:url` → page-info JSON object (Backend.java:416-482,
  *    638-655) over the page a point lookup keyed by `Hasher.hash(url)`
  *    returns ([[DirectPages.detailJson]]), via the title-regex info map.
  */
object Serving {

  /** Backend.toJson over Backend.getPageInfo — key ORDER replicated
    * bug-for-bug by building the SAME `java.util.HashMap` with the
    * reference's insertion sequence and iterating its entry set (the
    * reference serializes HashMap iteration order, Backend.java:638-655;
    * deterministic for this fixed key set). Quirk preserved: the extracted
    * title lands under "abstract", "title" stays the url. */
  def pageInfoJson(url: String, page: Option[String]): String = {
    // NOTE (parity, not an oversight): like the reference's Backend.toJson
    // (Backend.java:638-655), values are emitted UNESCAPED — a url or title
    // containing '"' or '\\' produces the same invalid JSON the reference
    // serves. The scorer's hygiene filter keeps quoted urls out of RESULT
    // lists, but this endpoint echoes the caller's url verbatim, exactly as
    // the reference does. Byte-identity mandate wins over JSON validity.
    // ONE copy of the info-map rules: values come from DocDetail.pageInfo
    // (null-safe, quirk-preserving); this function only contributes the
    // reference's java.util.HashMap INSERTION SEQUENCE, whose iteration
    // order the Backend serializes
    val info = DocDetail.pageInfo(url, page)
    val m = new java.util.HashMap[String, String]()
    m.put("url", info("url"))
    m.put("title", info("title"))
    m.put("abstract", info("abstract"))
    val sb = new StringBuilder("{")
    var first = true
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!first) sb.append(",")
      sb.append("\"").append(e.getKey).append("\":\"").append(e.getValue).append("\"")
      first = false
    }
    sb.append("}").toString
  }

  /** `GET /query` response body: rank via any scorer tier (eager
    * [[Searcher]], [[DirectSearcher]]), serialize like Backend.java:613-635. */
  def searchJson(topK: String => List[(String, Double)], query: String): String =
    DocDetail.toJsonArray(topK(query))
}
