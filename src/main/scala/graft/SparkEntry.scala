package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator from SURVEY.md §2's
  * inventory as an idiomatic Spark plan over the driver's testdata tables;
  * [[oracleSql]] carries the DuckDB-equivalent SQL the driver uses as the
  * correctness oracle. Column names/aliases match pairwise (the driver's
  * compare sorts columns by name before hashing). Doubles produced by
  * arithmetic are rounded to 4 decimals on BOTH sides so summation order
  * cannot flip the hash.
  */
object SparkEntry {
  import Tables.t

  /** Flagship: end-to-end inverted-index build + reference-scored search on
    * the deterministic synthetic web-page corpus (url, warc_ts, html, text,
    * lang). Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    searchQuery(spark, numDocs = 500, query = "galaxy engine search")

  /** Oracle-input aux tables: queries whose inputs are generated in-flight
    * (synthetic corpus, LSH bucket assignments, link graph) dump those
    * DETERMINISTIC inputs here so the DuckDB oracle can recompute the result
    * independently via read_parquet. These are inputs, not results — the SQL
    * re-derives every downstream step (ids, serving order, scoring, top-k).
    *
    * The location is a system property so [[Verify]] can co-locate the aux
    * tables with its output dir (which the DuckDB compare provably reads);
    * oracle SQL embeds the resolved absolute path because [[oracleSql]] is
    * generated in the same JVM AFTER the queries ran. */
  def auxDir: String = sys.props.getOrElse("graft.aux.dir", "/tmp/graft_aux")

  private def dumpAux(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(s"${auxDir}/$name")

  /** Runs a streaming frame to a memory sink with AvailableNow and
    * returns the sink table. The stream runs at a state-store-sized
    * shuffle-partition count (state-store instances = shuffle partitions
    * PER stateful op PER micro-batch — size them to the replay's volume,
    * not the batch suite's core count; the setting is cloned into the
    * stream at start). The session conf is restored even if planning or
    * start() throws, so a failed replay cannot poison later queries. */
  private def runReplay(s: SparkSession, name: String, out: DataFrame,
                        parts: Int = 8, timeoutMs: Long = 300000L,
                        mode: String = "append"): DataFrame = {
    val old = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      // (tmpfs checkpointLocation was tried for the replay state stores and
      // measured no faster — micro-batch scheduling, not checkpoint IO,
      // dominates these replays — and explicit checkpoint dirs escape
      // Spark's temp-dir auto-cleanup; the default temp location stays)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(timeoutMs)) {
        q.stop()
        throw new IllegalStateException(
          s"$name streaming replay timed out after ${timeoutMs / 1000}s")
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", old)
    s.table(name)
  }

  /** Sorted parquet file paths directly under `dir` — closes the
    * directory stream (Files.list leaks an fd otherwise). */
  private def listParquetFiles(dir: java.nio.file.Path): Seq[String] = {
    val s0 = java.nio.file.Files.list(dir)
    try s0.toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
    finally s0.close()
  }

  /** Single-file KEY-SORTED layout — for tables whose point is row-group
    * min/max pruning of point lookups (q36 pages). A plain coalesce(1) after
    * sortWithinPartitions would concatenate sorted partitions in partition-
    * index order (NOT globally sorted); repartition(1)+sort is. */
  private def dumpAuxSorted(df: DataFrame, name: String, key: String): Unit =
    df.repartition(1).sortWithinPartitions(key)
      .write.mode("overwrite").parquet(s"${auxDir}/$name")

  /** In-query corpus index builds + searchers are cached per (session,
    * corpus size): the index is an ARTIFACT — built once, served by every
    * query over that corpus — so q30/q31 (2000 docs) and q33/q35/q39/q40
    * (1000 docs) share one build instead of re-tokenizing per query. Keyed
    * by applicationId so entries never cross Spark sessions. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), graft.index.BuiltIndex]()
  private val searcherCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), graft.query.Searcher]()

  /** appId → its SparkContext, captured at first cache insert, so entries
    * belonging to STOPPED sessions can be evicted on the next access (an
    * appId key alone can't answer "is this session dead?"). Without this,
    * a long-lived JVM cycling sessions accumulates dead BuiltIndex entries
    * (and their persisted-RDD references) forever. */
  private val cacheOwners =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.SparkContext]()
  private def purgeStoppedSessions(current: SparkSession): Unit = {
    cacheOwners.putIfAbsent(current.sparkContext.applicationId, current.sparkContext)
    val it = cacheOwners.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isStopped) {
        val app = e.getKey
        it.remove()
        indexCache.keySet.removeIf(_._1 == app)
        searcherCache.keySet.removeIf(_._1 == app)
        linkGraphCache.keySet.removeIf(_._1 == app)
      }
    }
  }

  private def builtFor(s: SparkSession, n: Int): graft.index.BuiltIndex = {
    purgeStoppedSessions(s)
    indexCache.computeIfAbsent((s.sparkContext.applicationId, n), _ =>
      graft.index.IndexBuild.build(s, graft.corpus.Corpus.generate(s, n),
        graft.corpus.Corpus.lexicon, parts = searchParts(s)))
  }

  /** A SECOND index over the same n-doc corpus with deliberately small
    * posting blocks (32 postings), so the block-max WAND path (q86) has
    * many blocks per term to prune at test scale — the default 4096-posting
    * blocks hold a whole small-corpus term in one block, where pruning is
    * vacuous. Cached under the NEGATED doc count (the cache key is
    * (appId, Int); no positive corpus uses a negative n). */
  private def wandIndexFor(s: SparkSession, n: Int): graft.index.BuiltIndex = {
    purgeStoppedSessions(s)
    indexCache.computeIfAbsent((s.sparkContext.applicationId, -n), _ =>
      graft.index.IndexBuild.build(s, graft.corpus.Corpus.generate(s, n),
        graft.corpus.Corpus.lexicon, parts = searchParts(s), blockSize = 32))
  }

  private def searcherFor(s: SparkSession, n: Int): graft.query.Searcher = {
    purgeStoppedSessions(s)
    searcherCache.computeIfAbsent((s.sparkContext.applicationId, n), _ =>
      graft.query.Searcher.fromIndex(builtFor(s, n), n))
  }

  /** The n-page link GRAPH is, like the index, an ARTIFACT of the corpus:
    * ten link-analysis queries (q68/q75/q78/q83/q88/q92/q118/q135/q139/
    * q154) all derive the same (nodes, edges) frames from the SAME
    * `PageRank.init` over the same seed-42 corpus. Extracted + persisted
    * once per session as RELATIONAL DataFrames — columnar cache, no typed
    * RankState re-deserialization per leaf scan (caching the typed Dataset
    * measured ~3x SLOWER on multi-leaf consumers like q92: 66 object-
    * decoding cache scans beat by the raw pipeline) — instead of re-running
    * the page-parse/link-extraction pipeline once per query. Same artifact
    * discipline and appId-keyed lifecycle as `builtFor`. Results are
    * unchanged: every consumer reads the same deterministic rows it
    * previously recomputed. (q32/q116 consume the typed RankState — their
    * converge loop builds it fresh, as before.) */
  private val linkGraphCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), (DataFrame, DataFrame)]()
  private def linkGraphFor(s: SparkSession, n: Int): (DataFrame, DataFrame) = {
    purgeStoppedSessions(s)
    linkGraphCache.computeIfAbsent((s.sparkContext.applicationId, n), _ => {
      import s.implicits._
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // the parent typed state is deliberately NOT persisted: unpersisting
      // it after the children materialize makes the CacheManager rebuild
      // the dependent entries, and later scans silently recompute the whole
      // raw pipeline (measured: q92's plan regrew to 66 Range leaves / 200
      // Exchanges). Two init runs (one per child count) are the cheaper,
      // correct trade.
      val state0 = graft.rank.PageRank.init(s, graft.corpus.Corpus.generate(s, n))
      // no repartition before the persist: a Repartition node in the cached
      // plan defeats the CacheManager's subtree matching for consumers built
      // from the same frames (measured: 1 of 34 leaves hit the cache), and a
      // columnar scan of these tiny frames doesn't need parallelism
      val nodes = state0.map(_.url).toDF("url").persist(lvl)
      val edges = state0.flatMap(st => st.links.map(l => (st.url, l)))
        .toDF("src", "dst").persist(lvl)
      nodes.count(); edges.count()
      (nodes, edges)
    })
  }

  /** Partition count for the in-query corpus index builds: these corpora
    * are small (500-2000 docs), where 32-way stages cost more in
    * task-scheduling + range-sampling overhead than the parallelism wins.
    * Results are partition-count-invariant (IndexSpec determinism test). */
  private def searchParts(s: SparkSession): Int =
    math.min(s.sparkContext.defaultParallelism, 8)

  /** (url, term, tf) tokenizer triples of the n-doc seed-42 corpus — the
    * oracle input for the search/dictionary queries, dumped ONCE per corpus
    * size per JVM (q30/q31 share triples_2000; q33/q35/q39/q40 share
    * triples_1000 — one tokenize pass instead of five). Tokenization itself
    * is verified byte-identically against the COMPILED reference classes in
    * TextSpec; the SQL oracle independently recomputes everything the
    * distributed engine does downstream of tokenize. */
  private val dumpedTriples = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def triplesName(n: Int): String = s"triples_$n"
  /** The postings-triples table (url, term, tf) over the n-doc corpus —
    * the shape the triples-level serving ops (q104 sharded, q106 pruned)
    * consume and the oracle SQL recomputes from. */
  private def makeTriples(s: SparkSession, n: Int): DataFrame = {
    import s.implicits._
    val lex = s.sparkContext.broadcast(graft.corpus.Corpus.lexicon)
    graft.corpus.Corpus.generate(s, n).flatMap { p =>
      graft.text.Text.postings(p.url, new String(p.html, "UTF-8"), lex.value)
        .map { case (t, tf) => (p.url, t, tf) }
    }.toDF("url", "term", "tf")
  }
  private def dumpTriplesOnce(s: SparkSession, n: Int): Unit = {
    val name = triplesName(n)
    if (!dumpedTriples.add(s"${auxDir}/$name")) return
    dumpAux(makeTriples(s, n), name)
  }

  /** Build (or reuse) the index over an n-doc synthetic corpus and run one
    * reference-scored query, returning (rank, url, score) rows. */
  private def searchQuery(spark: SparkSession, numDocs: Int, query: String,
                          dump: Boolean = false): DataFrame = {
    import spark.implicits._
    if (dump) dumpTriplesOnce(spark, numDocs)
    val searcher = searcherFor(spark, numDocs)
    val hits = searcher.referenceTopK(query)
    spark.createDataset(hits.zipWithIndex.map { case ((url, score), i) =>
      (i + 1, url, math.rint(score * 1e6) / 1e6)
    }).toDF("rank", "url", "score")
  }

  /** Collect a rank-ordered (url, score) serving result (≤ 200 rows by
    * construction — only result rows transit the driver) and attach
    * 1-based ranks, scores rounded with the exact math.rint ↔ round_even
    * pairing the other scorer oracles use. */
  private def rankRounded(s: SparkSession, hits: DataFrame): DataFrame = {
    import s.implicits._
    s.createDataset(hits.collect().toIndexedSeq.zipWithIndex.map { case (r, i) =>
      (i + 1, r.getString(0), math.rint(r.getDouble(1) * 1e6) / 1e6)
    }).toDF("rank", "url", "score")
  }

  /** Query-term expansion with reference semantics (surface terms first,
    * stems appended, LinkedHashMap put-overwrite) → (term, factor, qidx).
    * Shared by the oracle-SQL generators so the SQL carries exactly the
    * weights the engine uses. */
  private def refTermWeights(query: String): Seq[(String, Double, Int)] =
    // the ONE expansion implementation (RefScore.termWeights) — the single-
    // query and batch oracle generators must draw identical semantics
    graft.query.RefScore.termWeights(query).zipWithIndex
      .map { case ((t, f), i) => (t, f, i) }

  /** DuckDB SQL for the full reference scorer over a dumped triples table.
    * Every fractional literal is e-notation (DuckDB decimal-point literals
    * are DECIMAL, not DOUBLE — e0 forces the exact double math the engine
    * uses). Summation per url is an ORDERED fold in query-term order
    * (list_reduce over list(... ORDER BY qidx)) — bit-identical to the
    * driver-side scorer's sequential accumulation. Corpus urls are clean by
    * construction, so the Backend url-decode filter is the identity here
    * (adversarial urls are covered by IndexSpec against the in-repo oracle). */
  private def refSearchSql(query: String, n: Int, triplesName: String,
                           withRank: Boolean): String = {
    val vals = refTermWeights(query)
      .map { case (t, f, i) => s"('$t', ${f}e0, $i)" }.mkString(", ")
    val select =
      if (withRank)
        """SELECT row_number() OVER (ORDER BY score DESC, url ASC) AS rank, url,
           round_even(score * 1e6, 0) / 1e6 AS score
           FROM comb ORDER BY score DESC, url ASC LIMIT 200"""
      else
        "SELECT url, round(score, 6) AS score FROM comb ORDER BY score DESC, url ASC LIMIT 200"
    s"""WITH t(term, factor, qidx) AS (VALUES $vals),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       dict AS (SELECT term, count(*) AS df, max(tf) AS max_tf FROM tr GROUP BY term),
       posts AS (
         SELECT tr.url, tr.tf, d.df, d.max_tf, t.factor, t.qidx,
                row_number() OVER (PARTITION BY tr.term
                                   ORDER BY tr.tf DESC, tr.url ASC) AS rnk
         FROM tr JOIN dict d USING (term) JOIN t USING (term)),
       scored AS (
         SELECT url, qidx,
                (0.4e0 + 0.6e0 * tf / max_tf) * (ln(($n // df)) / ln(500)) * factor AS s
         FROM posts
         WHERE rnk <= 200 AND ($n // df) > 1),
       comb AS (
         SELECT url, list_reduce(list(s ORDER BY qidx), (a, b) -> a + b) AS score
         FROM scored GROUP BY url)
       $select"""
  }

  /** DuckDB SQL for the reference scorer over a STATICALLY PRUNED index:
    * per term only the top ⌈frac·count⌉ postings by (tf desc, url asc)
    * survive, df/max-tf stats FROZEN from the full table (q106 —
    * [[graft.index.StaticPrune]]'s exact algebra). */
  private def prunedSearchSql(query: String, n: Int, frac: Double,
                              triplesName: String): String = {
    val vals = refTermWeights(query)
      .map { case (t, f, i) => s"('$t', ${f}e0, $i)" }.mkString(", ")
    s"""WITH t(term, factor, qidx) AS (VALUES $vals),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       dict AS (SELECT term, count(*) AS df, max(tf) AS max_tf FROM tr GROUP BY term),
       ranked AS (
         SELECT url, term, tf,
                row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, url ASC) AS prnk,
                count(*) OVER (PARTITION BY term) AS cnt
         FROM tr),
       pruned AS (SELECT url, term, tf FROM ranked
                  WHERE prnk <= ceil(${frac}e0 * cnt)),
       posts AS (
         SELECT p.url, p.tf, d.df, d.max_tf, t.factor, t.qidx,
                row_number() OVER (PARTITION BY p.term
                                   ORDER BY p.tf DESC, p.url ASC) AS rnk
         FROM pruned p JOIN dict d USING (term) JOIN t USING (term)),
       scored AS (
         SELECT url, qidx,
                (0.4e0 + 0.6e0 * tf / max_tf) * (ln(($n // df)) / ln(500)) * factor AS s
         FROM posts
         WHERE rnk <= 200 AND ($n // df) > 1),
       comb AS (
         SELECT url, list_reduce(list(s ORDER BY qidx), (a, b) -> a + b) AS score
         FROM scored GROUP BY url)
       SELECT row_number() OVER (ORDER BY score DESC, url ASC) AS rank, url,
              round_even(score * 1e6, 0) / 1e6 AS score
       FROM comb ORDER BY score DESC, url ASC LIMIT 200"""
  }

  /** DuckDB SQL for the CERTIFIED pruned scorer (q119): prunedSearchSql's
    * algebra plus the drop bound B = qidx-ordered fold of each live
    * term's highest-impact pruned-away posting score; certified compares
    * the RAW (pre-rounding) score against B, exactly like the engine. */
  private def certifiedSearchSql(query: String, n: Int, frac: Double,
                                 triplesName: String): String = {
    val vals = refTermWeights(query)
      .map { case (t, f, i) => s"('$t', ${f}e0, $i)" }.mkString(", ")
    s"""WITH t(term, factor, qidx) AS (VALUES $vals),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       dict AS (SELECT term, count(*) AS df, max(tf) AS max_tf FROM tr GROUP BY term),
       ranked AS (
         SELECT url, term, tf,
                row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, url ASC) AS prnk,
                count(*) OVER (PARTITION BY term) AS cnt
         FROM tr),
       pruned AS (SELECT url, term, tf FROM ranked
                  WHERE prnk <= ceil(${frac}e0 * cnt)),
       tf_drop AS (SELECT term, max(tf) AS tf_drop FROM ranked
                   WHERE prnk > ceil(${frac}e0 * cnt) GROUP BY term),
       bound AS (SELECT t.qidx,
                        (0.4e0 + 0.6e0 * dr.tf_drop / d.max_tf)
                          * (ln(($n // d.df)) / ln(500)) * t.factor AS bb
                 FROM t JOIN dict d USING (term) JOIN tf_drop dr USING (term)
                 WHERE ($n // d.df) > 1),
       bsum AS (SELECT coalesce(list_reduce(
                  list_prepend(0e0, list(bb ORDER BY qidx)),
                  (a, b) -> a + b), 0e0) AS b FROM bound),
       posts AS (
         SELECT p.url, p.tf, d.df, d.max_tf, t.factor, t.qidx,
                row_number() OVER (PARTITION BY p.term
                                   ORDER BY p.tf DESC, p.url ASC) AS rnk
         FROM pruned p JOIN dict d USING (term) JOIN t USING (term)),
       scored AS (
         SELECT url, qidx,
                (0.4e0 + 0.6e0 * tf / max_tf) * (ln(($n // df)) / ln(500)) * factor AS s
         FROM posts
         WHERE rnk <= 200 AND ($n // df) > 1),
       comb AS (
         SELECT url, list_reduce(list(s ORDER BY qidx), (a, b) -> a + b) AS score
         FROM scored GROUP BY url)
       SELECT row_number() OVER (ORDER BY score DESC, url ASC) AS rank, url,
              round_even(score * 1e6, 0) / 1e6 AS score,
              score >= (SELECT b FROM bsum) AS certified
       FROM comb ORDER BY score DESC, url ASC LIMIT 200"""
  }

  /** DuckDB SQL for the PMI-EXPANDED reference scorer (q114 —
    * [[graft.query.ExpandedSearch]]'s exact algebra): per surface term the
    * top co-occurring term by the exact rational n_pairs/(df₁·df₂)
    * (PMI-monotone, IEEE-identical across engines where ranking by ln
    * itself could flip on a 1-ulp difference), first pick wins on
    * duplicates, qidx continuing after the base weights; then the
    * standard scoring body over the UNION weight table. */
  private def expandedSearchSql(query: String, n: Int, minPairs: Long,
                                factor: Double, triplesName: String): String = {
    val base = refTermWeights(query)
    val vals = base.map { case (t, f, i) => s"('$t', ${f}e0, $i)" }.mkString(", ")
    val surface = graft.text.Text.parseQuery(query).distinct.filter(_.nonEmpty)
    val svals = surface.zipWithIndex.map { case (t, i) => s"('$t', $i)" }.mkString(", ")
    val baseIn = base.map(t => s"'${t._1}'").mkString(", ")
    s"""WITH t0(term, factor, qidx) AS (VALUES $vals),
       s(qterm, sidx) AS (VALUES $svals),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       dict AS (SELECT term, count(*) AS df, max(tf) AS max_tf FROM tr GROUP BY term),
       qp AS (SELECT tr.url, s.qterm, s.sidx FROM tr JOIN s ON tr.term = s.qterm),
       cand AS (SELECT qp.qterm, qp.sidx, tr2.term, count(*)::BIGINT AS n_pairs
                FROM qp JOIN tr tr2 USING (url)
                WHERE tr2.term <> qp.qterm AND tr2.term NOT IN ($baseIn)
                GROUP BY 1, 2, 3 HAVING count(*) >= $minPairs),
       rk AS (SELECT cand.qterm, cand.sidx, cand.term,
                     row_number() OVER (PARTITION BY cand.qterm
                       ORDER BY cand.n_pairs / (c1.df::DOUBLE * c2.df::DOUBLE) DESC,
                                cand.term ASC) AS rnk
              FROM cand
              JOIN dict c1 ON c1.term = cand.qterm
              JOIN dict c2 ON c2.term = cand.term),
       pick1 AS (SELECT term, min(sidx) AS sidx FROM rk WHERE rnk = 1 GROUP BY term),
       picks AS (SELECT term, ${factor}e0 AS factor,
                        ${base.size} - 1 + row_number() OVER (ORDER BY sidx) AS qidx
                 FROM pick1),
       t AS (SELECT * FROM t0 UNION ALL SELECT * FROM picks),
       posts AS (
         SELECT tr.url, tr.tf, d.df, d.max_tf, t.factor, t.qidx,
                row_number() OVER (PARTITION BY tr.term
                                   ORDER BY tr.tf DESC, tr.url ASC) AS rnk
         FROM tr JOIN dict d USING (term) JOIN t USING (term)),
       scored AS (
         SELECT url, qidx,
                (0.4e0 + 0.6e0 * tf / max_tf) * (ln(($n // df)) / ln(500)) * factor AS s
         FROM posts
         WHERE rnk <= 200 AND ($n // df) > 1),
       comb AS (
         SELECT url, list_reduce(list(s ORDER BY qidx), (a, b) -> a + b) AS score
         FROM scored GROUP BY url)
       SELECT row_number() OVER (ORDER BY score DESC, url ASC) AS rank, url,
              round_even(score * 1e6, 0) / 1e6 AS score
       FROM comb ORDER BY score DESC, url ASC LIMIT 200"""
  }

  /** DuckDB SQL for exhaustive BM25(k1=1.2, b=0.75) over a dumped triples
    * table (the engine's block-max path returns exactly these scores — the
    * finish pass makes early termination score-exact). */
  /** DuckDB replay of [[graft.query.Bm25f]]'s exact algebra over a dumped
    * (doc_id, field, term, tf) table — shared by every BM25F query so the
    * oracle and the engine can't drift field by field. */
  private def bm25fSql(dumpName: String, terms: Seq[String],
                       weights: Map[String, (Double, Double)],
                       k1: Double, k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    def caseOf(sel: ((Double, Double)) => Double): String =
      "CASE q.field " + weights.toSeq.sortBy(_._1)
        .map { case (f, wb) => s"WHEN '$f' THEN ${sel(wb)}e0" }
        .mkString(" ") + " END"
    s"""WITH ft AS (SELECT doc_id, field, term, tf
                    FROM read_parquet('${auxDir}/$dumpName/*.parquet')),
       fl AS (SELECT doc_id, field, sum(tf)::BIGINT AS flen
              FROM ft GROUP BY doc_id, field),
       av AS (SELECT field, sum(flen)::DOUBLE / count(*) AS a
              FROM fl GROUP BY field),
       nd AS (SELECT count(DISTINCT doc_id) AS n FROM ft),
       q AS (SELECT * FROM ft WHERE term IN ($inList)),
       w1 AS (SELECT q.doc_id, q.term,
                ${caseOf(_._1)} * q.tf /
                (1.0e0 + ${caseOf(_._2)} * (fl.flen / av.a - 1.0e0)) AS wtf1
              FROM q JOIN fl USING (doc_id, field) JOIN av USING (field)),
       wt AS (SELECT doc_id, term, sum(wtf1) AS wtf
              FROM w1 GROUP BY doc_id, term),
       dict AS (SELECT term, count(DISTINCT doc_id) AS df
                FROM q GROUP BY term),
       sc AS (SELECT wt.doc_id,
                sum(ln((nd.n - d.df + 0.5e0) / (d.df + 0.5e0) + 1.0e0)
                  * wt.wtf / (wt.wtf + ${k1}e0)) AS raw
              FROM wt JOIN dict d USING (term) CROSS JOIN nd
              GROUP BY wt.doc_id)
       SELECT doc_id, round_even(raw * 1e6, 0) / 1e6 AS score
       FROM sc ORDER BY raw DESC, doc_id ASC LIMIT $k"""
  }

  private def bm25Sql(query: String, k: Int, triplesName: String): String = {
    val terms = graft.text.Text.parseQuery(query).toSet
      .flatMap((t: String) => Set(t, graft.text.PorterStemmer.stem(t)))
      .toSeq.sorted
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       docs AS (SELECT url, sum(tf) AS dl FROM tr GROUP BY url),
       stats AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl, count(*) AS nd FROM docs),
       dict AS (SELECT term, count(*) AS df FROM tr GROUP BY term),
       contrib AS (
         SELECT tr.url,
                ln((s.nd - d.df + 0.5e0) / (d.df + 0.5e0) + 1.0e0)
                  * (tr.tf * (1.2e0 + 1)) / (tr.tf + 1.2e0 * (1 - 0.75e0 + 0.75e0 * dc.dl / s.avgdl)) AS c
         FROM tr
         JOIN dict d USING (term)
         JOIN docs dc USING (url)
         CROSS JOIN stats s
         WHERE tr.term IN ($inList)),
       scored AS (SELECT url, sum(c) AS score FROM contrib GROUP BY url)
       SELECT row_number() OVER (ORDER BY score DESC, url ASC) AS rank, url,
              round_even(score * 1e6, 0) / 1e6 AS score
       FROM scored ORDER BY score DESC, url ASC LIMIT $k"""
  }

  /** Five unrolled BPE training rounds over a dumped (w, freq) segmented
    * vocabulary: pair counts (p_i), pinned argmax (b_i), boundary-exact
    * list_reduce re-segmentation (w_i) — shared by the q155 (merge list)
    * and q156 (encoded vocabulary) oracles. */
  private def bpeRoundsSql(wordsTable: String): String = {
    def round(i: Int, prev: String) =
      s""", p$i AS (SELECT u.p[1] AS l, u.p[2] AS r, sum(freq)::BIGINT AS cnt
            FROM (SELECT freq,
                    unnest(list_zip(sy[1:len(sy)-1], sy[2:len(sy)])) AS p
                  FROM (SELECT freq, string_split(w, ' ') AS sy
                        FROM $prev)) u
            GROUP BY 1, 2),
          b$i AS (SELECT l, r, cnt FROM p$i
                  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
          w$i AS (SELECT list_reduce(string_split($prev.w, ' '),
              (acc, x) -> CASE WHEN x = b$i.r AND
                  (acc = b$i.l OR ends_with(acc, ' ' || b$i.l))
                THEN acc || b$i.r ELSE acc || ' ' || x END) AS w, freq
            FROM $prev CROSS JOIN b$i)"""
    s"""WITH w0 AS (SELECT w, freq
            FROM read_parquet('${auxDir}/$wordsTable/*.parquet'))""" +
      (1 to 5).map(i => round(i, if (i == 1) "w0" else s"w${i - 1}")).mkString
  }

  /** DuckDB SQL for fixed-iteration PageRank over the dumped link graph:
    * one CTE per iteration (reference algebra: keep-alive, 0.85·rank/outdeg,
    * inner-join dangling drop, +0.15 flat offset). */
  private def pagerankSql(iters: Int, nodesTbl: String = "q32_nodes",
                          edgesTbl: String = "q32_edges",
                          nodeCol: String = "url",
                          keyAlias: String = "url"): String = {
    val head =
      s"""WITH nodes AS (SELECT $nodeCol AS url FROM read_parquet('${auxDir}/$nodesTbl/*.parquet')),
         edges AS (SELECT src, dst FROM read_parquet('${auxDir}/$edgesTbl/*.parquet')),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         live AS (SELECT e.src, e.dst FROM edges e JOIN nodes nn ON e.dst = nn.url),
         r0 AS (SELECT url, 1.0e0 AS rank FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s""", r$i AS (
         SELECT n.url, coalesce(s.mass, 0.0e0) + 0.15e0 AS rank
         FROM nodes n LEFT JOIN (
           SELECT l.dst AS url, sum(0.85e0 * r.rank / d.outdeg) AS mass
           FROM live l JOIN r${i - 1} r ON l.src = r.url JOIN deg d ON d.src = l.src
           GROUP BY l.dst) s ON n.url = s.url)"""
    }.mkString
    head + iterCtes +
      s" SELECT url AS $keyAlias, round_even(rank * 1e6, 0) / 1e6 AS rank FROM r$iters"
  }

  /** DuckDB SQL for the WARM-START PageRank chain (q116): `iters1` cold
    * iterations over edges1 from the flat init, then `iters2` warm
    * iterations over edges2 seeded from the cold result — the whole chain
    * recomputed from scratch, no engine state trusted. */
  private def warmstartSql(iters1: Int, iters2: Int): String = {
    val head =
      s"""WITH nodes AS (SELECT url FROM read_parquet('${auxDir}/q116_nodes/*.parquet')),
         e1 AS (SELECT src, dst FROM read_parquet('${auxDir}/q116_edges1/*.parquet')),
         e2 AS (SELECT src, dst FROM read_parquet('${auxDir}/q116_edges2/*.parquet')),
         deg1 AS (SELECT src, count(*) AS outdeg FROM e1 GROUP BY src),
         deg2 AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src),
         live1 AS (SELECT e.src, e.dst FROM e1 e JOIN nodes nn ON e.dst = nn.url),
         live2 AS (SELECT e.src, e.dst FROM e2 e JOIN nodes nn ON e.dst = nn.url),
         r0 AS (SELECT url, 1.0e0 AS rank FROM nodes)"""
    def iterCte(name: String, prev: String, live: String, deg: String) =
      s""", $name AS (
         SELECT n.url, coalesce(s.mass, 0.0e0) + 0.15e0 AS rank
         FROM nodes n LEFT JOIN (
           SELECT l.dst AS url, sum(0.85e0 * r.rank / d.outdeg) AS mass
           FROM $live l JOIN $prev r ON l.src = r.url JOIN $deg d ON d.src = l.src
           GROUP BY l.dst) s ON n.url = s.url)"""
    val cold = (1 to iters1).map(i =>
      iterCte(s"r$i", s"r${i - 1}", "live1", "deg1")).mkString
    val warm = (1 to iters2).map(i =>
      iterCte(s"w$i", if (i == 1) s"r$iters1" else s"w${i - 1}", "live2", "deg2")).mkString
    head + cold + warm +
      s" SELECT url, round_even(rank * 1e6, 0) / 1e6 AS rank FROM w$iters2"
  }

  /** DuckDB SQL for fixed-iteration personalized PageRank over the dumped
    * q88 graph: [[pagerankSql]]'s per-iteration shape with the uniform
    * +0.15 replaced by (1 − 0.85e0)·teleport(v), teleport = 1/|seeds| on
    * seeds else 0 — literals and operation order match the engine
    * ((1-damping)*t + coalesce(mass, 0)). */
  private def personalizedPagerankSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (SELECT url FROM read_parquet('${auxDir}/q88_nodes/*.parquet')),
         edges AS (SELECT src, dst FROM read_parquet('${auxDir}/q88_edges/*.parquet')),
         seeds AS (SELECT DISTINCT url FROM read_parquet('${auxDir}/q88_seeds/*.parquet')),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         live AS (SELECT e.src, e.dst FROM edges e JOIN nodes nn ON e.dst = nn.url),
         tele AS (SELECT n.url,
                         CASE WHEN s.url IS NOT NULL
                              THEN 1.0e0 / (SELECT count(*) FROM seeds)
                              ELSE 0.0e0 END AS t
                  FROM nodes n LEFT JOIN seeds s ON n.url = s.url),
         r0 AS (SELECT url, t AS rank FROM tele)"""
    val iterCtes = (1 to iters).map { i =>
      s""", r$i AS (
         SELECT te.url, (1 - 0.85e0) * te.t + coalesce(s.mass, 0.0e0) AS rank
         FROM tele te LEFT JOIN (
           SELECT l.dst AS url, sum(0.85e0 * r.rank / d.outdeg) AS mass
           FROM live l JOIN r${i - 1} r ON l.src = r.url JOIN deg d ON d.src = l.src
           GROUP BY l.dst) s ON te.url = s.url)"""
    }.mkString
    head + iterCtes +
      s" SELECT url, round_even(rank * 1e8, 0) / 1e8 AS rank FROM r$iters"
  }

  /** DuckDB SQL for q135: TWO unrolled power-iteration chains over the
    * dumped graph — t* teleports to the trusted whitelist (TrustRank),
    * g* to every node (the PageRank baseline) — then the relative
    * spam-mass division on the unrounded chain values. Same per-iteration
    * algebra as [[personalizedPagerankSql]]. */
  private def trustRankSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (SELECT url FROM read_parquet('${auxDir}/q135_nodes/*.parquet')),
         edges AS (SELECT src, dst FROM read_parquet('${auxDir}/q135_edges/*.parquet')),
         seeds AS (SELECT DISTINCT url FROM read_parquet('${auxDir}/q135_trusted/*.parquet')),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         live AS (SELECT e.src, e.dst FROM edges e JOIN nodes nn ON e.dst = nn.url),
         telet AS (SELECT n.url,
                          CASE WHEN s.url IS NOT NULL
                               THEN 1.0e0 / (SELECT count(*) FROM seeds)
                               ELSE 0.0e0 END AS t
                   FROM nodes n LEFT JOIN seeds s ON n.url = s.url),
         teleg AS (SELECT url, 1.0e0 / (SELECT count(*) FROM nodes) AS t
                   FROM nodes),
         t0 AS (SELECT url, t AS rank FROM telet),
         g0 AS (SELECT url, t AS rank FROM teleg)"""
    val iterCtes = (1 to iters).map { i =>
      s""", t$i AS (
         SELECT te.url, (1 - 0.85e0) * te.t + coalesce(s.mass, 0.0e0) AS rank
         FROM telet te LEFT JOIN (
           SELECT l.dst AS url, sum(0.85e0 * r.rank / d.outdeg) AS mass
           FROM live l JOIN t${i - 1} r ON l.src = r.url JOIN deg d ON d.src = l.src
           GROUP BY l.dst) s ON te.url = s.url),
         g$i AS (
         SELECT te.url, (1 - 0.85e0) * te.t + coalesce(s.mass, 0.0e0) AS rank
         FROM teleg te LEFT JOIN (
           SELECT l.dst AS url, sum(0.85e0 * r.rank / d.outdeg) AS mass
           FROM live l JOIN g${i - 1} r ON l.src = r.url JOIN deg d ON d.src = l.src
           GROUP BY l.dst) s ON te.url = s.url)"""
    }.mkString
    head + iterCtes +
      s""" SELECT g.url,
             round_even(g.rank * 1e8, 0) / 1e8 AS pr,
             round_even(t.rank * 1e8, 0) / 1e8 AS trust,
             round_even((CASE WHEN g.rank > 0 THEN (g.rank - t.rank) / g.rank
                              ELSE 0.0e0 END) * 1e6, 0) / 1e6 AS spam_mass
           FROM g$iters g JOIN t$iters t USING (url)"""
  }

  /** DuckDB SQL for q139: fixed-iteration SALSA over the dumped graph —
    * [[hitsSql]]'s two-CTE-per-round shape with degree-normalized sums and
    * NO max normalization (the walk conserves mass). */
  private def salsaSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (SELECT url FROM read_parquet('${auxDir}/q139_nodes/*.parquet')),
         edges AS (SELECT src, dst FROM read_parquet('${auxDir}/q139_edges/*.parquet')),
         live AS (SELECT e.src, e.dst FROM edges e
                  JOIN nodes ns ON e.src = ns.url
                  JOIN nodes nd ON e.dst = nd.url),
         odeg AS (SELECT src, count(*) AS outdeg FROM live GROUP BY src),
         ideg AS (SELECT dst, count(*) AS indeg FROM live GROUP BY dst),
         h0 AS (SELECT url, 1.0e0 AS hub FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s""", a$i AS (SELECT n.url, coalesce(s.v, 0e0) AS auth
           FROM nodes n LEFT JOIN (
             SELECT l.dst AS url, sum(h.hub / o.outdeg) AS v
             FROM live l JOIN h${i - 1} h ON l.src = h.url
                         JOIN odeg o ON o.src = l.src
             GROUP BY l.dst) s ON n.url = s.url),
         h$i AS (SELECT n.url, coalesce(s.v, 0e0) AS hub
           FROM nodes n LEFT JOIN (
             SELECT l.src AS url, sum(a.auth / d.indeg) AS v
             FROM live l JOIN a$i a ON l.dst = a.url
                         JOIN ideg d ON d.dst = l.dst
             GROUP BY l.src) s ON n.url = s.url)"""
    }.mkString
    head + iterCtes +
      s""" SELECT h.url, round_even(h.hub * 1e8, 0) / 1e8 AS hub,
                  round_even(a.auth * 1e8, 0) / 1e8 AS auth
           FROM h$iters h JOIN a$iters a USING (url)"""
  }

  /** DuckDB SQL for fixed-iteration max-normalized HITS over the dumped
    * link graph: two CTEs per iteration (auth from hubs, hub from auths),
    * each zero-filled over all nodes and divided by its max. */
  private def hitsSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (SELECT url FROM read_parquet('${auxDir}/q68_nodes/*.parquet')),
         edges AS (SELECT src, dst FROM read_parquet('${auxDir}/q68_edges/*.parquet')),
         live AS (SELECT e.src, e.dst FROM edges e
                  JOIN nodes ns ON e.src = ns.url
                  JOIN nodes nd ON e.dst = nd.url),
         h0 AS (SELECT url, 1.0e0 AS hub FROM nodes)"""
    // each CTE references its predecessor exactly ONCE (the max is a
    // window over the same scan, not a second CTE reference) — DuckDB
    // inlines CTEs, so a double reference per level would expand 2^iters
    val iterCtes = (1 to iters).map { i =>
      s""", ra$i AS (SELECT n.url, coalesce(s.v, 0e0) AS raw
           FROM nodes n LEFT JOIN (
             SELECT l.dst AS url, sum(h.hub) AS v
             FROM live l JOIN h${i - 1} h ON l.src = h.url
             GROUP BY l.dst) s ON n.url = s.url),
         a$i AS (SELECT url, CASE WHEN max(raw) OVER () = 0 THEN raw
                                  ELSE raw / max(raw) OVER () END AS auth
                 FROM ra$i),
         rh$i AS (SELECT n.url, coalesce(s.v, 0e0) AS raw
           FROM nodes n LEFT JOIN (
             SELECT l.src AS url, sum(a.auth) AS v
             FROM live l JOIN a$i a ON l.dst = a.url
             GROUP BY l.src) s ON n.url = s.url),
         h$i AS (SELECT url, CASE WHEN max(raw) OVER () = 0 THEN raw
                                  ELSE raw / max(raw) OVER () END AS hub
                 FROM rh$i)"""
    }.mkString
    head + iterCtes +
      s""" SELECT h.url, round_even(h.hub * 1e6, 0) / 1e6 AS hub,
                  round_even(a.auth * 1e6, 0) / 1e6 AS auth
          FROM h$iters h JOIN a$iters a ON h.url = a.url"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projection / filter (SURVEY §2.1 fromTable/filter) ----
    "q01_scan_project" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),
    "q02_filter" -> ((s, d) => {
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value") > 50.0)
        .select(col("event_id"), col("user_id"), col("value"))
    }),

    // ---- aggregation (SURVEY §2.1 foldByKey / fold) ----
    "q03_agg_group" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }),
    "q04_agg_global" -> ((s, d) => {
      t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))
    }),

    // ---- joins (SURVEY §2.1 join/cogroup; semi/anti are Spark-free extras) ----
    "q05_join_inner" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 4).as("sum_price"))
    }),
    "q06_join_broadcast" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
             count(lit(1)).as("cnt"))
    }),
    "q07_semi_join" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
    }),
    "q08_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val big = t(s, d, "orders").filter(col("o_totalprice") > 300000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q09_outer_join" -> ((s, d) => {
      val n = t(s, d, "nation"); val sup = t(s, d, "supplier")
      n.join(sup, n("n_nationkey") === sup("s_nationkey"), "left_outer")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("s_suppkey")).as("n_supp"))
    }),
    // full-outer cogroup shape (reference /cogroup, flame/Worker.java:505-572):
    // per-key grouped value lists from both inputs, outer-merged.
    "q10_cogroup" -> ((s, d) => {
      val c = t(s, d, "customer")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("c_name")))).as("customers"))
      val sup = t(s, d, "supplier")
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("s_name")))).as("suppliers"))
      c.join(sup, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
                coalesce(col("customers"), lit("")).as("customers"),
                coalesce(col("suppliers"), lit("")).as("suppliers"))
    }),

    // ---- set ops (SURVEY §2.1 distinct/intersection + union/except) ----
    "q11_distinct" -> ((s, d) => {
      t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()
    }),
    "q12_union" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }),
    "q13_except" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_totalprice") > 350000.0).select(col("o_custkey").as("custkey")).distinct()
        .except(o.filter(col("o_totalprice") > 450000.0).select(col("o_custkey").as("custkey")).distinct())
    }),
    "q14_intersect" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")).distinct())
    }),

    // ---- sort / limit / top-k (SURVEY §2.3 rank+limit) ----
    "q15_topk" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ---- window (posting-rank shape: top row per key) ----
    "q16_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, d, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
    }),

    // ---- event-time bucketing (streaming-adjacent batch shape) ----
    "q17_events_hourly" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
    }),

    // ---- deduplication (training-data pipeline ops) ----
    "q18_dedup_exact" -> ((s, d) =>
      graft.ml.Dedup.exactHashGroups(t(s, d, "documents"), "text")),
    "q19_token_counts" -> ((s, d) => {
      val doc = t(s, d, "documents")
      doc.select(col("doc_id"),
        graft.ml.TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        graft.ml.TextAnalysis.bpeIshTokenCount(col("text")).as("bpeish_tokens"))
    }),
    "q20_quality" -> ((s, d) => {
      val doc = t(s, d, "documents")
      doc.select(col("doc_id"),
        graft.ml.TextAnalysis.stopwordCount(col("text")).as("stopwords"),
        round(graft.ml.TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        graft.ml.TextAnalysis.qualityScore(col("text")).as("quality"))
    }),
    "q21_fingerprint" -> ((s, d) => {
      val doc = t(s, d, "documents")
      doc.select(col("doc_id"),
        graft.ml.TextAnalysis.normalizedHash(col("text")).as("norm_hash"))
    }),
    // minhash LSH banding: per-band bucket stats (signature path is
    // murmur3-based → rows-only driver check; exactness vs a local oracle is
    // covered in MlSpec)
    "q22_minhash_bands" -> ((s, d) => {
      val bands = graft.ml.Dedup.minhashBands(t(s, d, "documents"), "doc_id", "text")
      bands.groupBy(col("band"))
        .agg(countDistinct(col("band_hash")).as("n_buckets"), count(lit(1)).as("n_rows"))
    }),
    "q23_simhash" -> ((s, d) =>
      graft.ml.Dedup.simhashes(t(s, d, "documents"), "doc_id", "text")),
    // n-gram Jaccard verification over a fixed candidate set (adjacent ids)
    "q24_jaccard_pairs" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val cand = doc.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        .filter(col("id1") < 50)
      graft.ml.Dedup.jaccardVerify(doc, cand, "doc_id", "text")
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // ---- similarity search over embeddings ----
    "q25_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      emb.filter(col("vec_id") > 0)
        .select(col("vec_id"),
          round(graft.ml.Dedup.cosineCol(col("embedding").cast("array<double>"),
            typedLit(q)), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),
    // IVF probe + top-k over the ON-DISK centroid-partitioned routing
    // table: `ivfWrite` partitions by centroid, the probe's isin is a
    // PARTITION filter (non-probed directories are never read — the
    // physical path the 100 TB story needs, now the oracle-checked one).
    // The oracle reads the same hive-partitioned table + the probe set.
    "q26_ann_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val cents = graft.ml.Ann.centroids(emb, "vec_id", "embedding", c = 8)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      val assigned = graft.ml.Ann.ivfAssign(emb.filter(col("vec_id") > 0), "vec_id", "embedding", cents)
      graft.ml.Ann.ivfWrite(assigned, s"${auxDir}/q26_ivf", cents)
      // probe via the centroids STORED WITH the layout (serving never
      // retrains; the sidecar travels with the index)
      val probes = graft.ml.Ann.probeSet(
        graft.ml.Ann.readCentroids(s"${auxDir}/q26_ivf"), q, nProbe = 3)
      dumpAux(probes.toDF("centroid"), "q26_probe")
      s.read.parquet(s"${auxDir}/q26_ivf")
        .filter(col("centroid").isin(probes: _*))
        .select(col("vec_id"),
          round(graft.ml.Dedup.cosineCol(col("vec"), typedLit(q.toIndexedSeq)), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),
    // multi-table hyperplane LSH (16 planes × 4 tables: small buckets at
    // scale, recall recovered by table union), bucket-capped; the bucket
    // assignments are dumped so the oracle recomputes pairs + cosine
    "q27_emb_dup_pairs" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      dumpAux(graft.ml.Dedup.hyperplaneBuckets(emb, "vec_id", "embedding",
        nPlanes = 16, tables = 4, dim = 64, seed = 42L), "q27_buckets")
      graft.ml.Dedup.embeddingDupPairs(emb, "vec_id", "embedding", threshold = 0.25)
    }),

    // PQ/ADC compressed-codes ANN: train deterministic codebooks, encode
    // vectors to m=8 sub-centroid ids (a narrow map; ~32× smaller scan than
    // raw floats), query via the broadcast ADC lookup table. Codebooks +
    // codes are dumped; the oracle recomputes the distance table and fold.
    "q38_pq_topk" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val model = graft.ml.Pq.train(emb, "vec_id", "embedding")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      val codes = graft.ml.Pq.encode(emb.filter(col("vec_id") > 0), "vec_id", "embedding", model)
      dumpAux(codes, "q38_codes")
      val cbRows = for (mi <- 0 until model.m; ci <- 0 until model.k)
        yield (mi, ci, model.codebooks(mi)(ci).toIndexedSeq)
      dumpAux(cbRows.toDF("m", "cid", "sub"), "q38_codebooks")
      graft.ml.Pq.adcTopK(codes, "vec_id", q, model, 10)
    }),

    // ---- text analysis ----
    "q28_langid" -> ((s, d) =>
      graft.ml.TextAnalysis.withLangId(t(s, d, "documents"), "text")
        .groupBy(col("lang_id"), col("source")).agg(count(lit(1)).as("n"))),

    // ---- multimodal plumbing (decode stage stubbed, see Multimodal) ----
    // the deterministic asset table is dumped; the oracle re-derives the
    // stub features from the raw media bytes (hex walk) in SQL
    "q29_media_features" -> ((s, _) => {
      val assets = graft.ml.Multimodal.generateAssets(s, 300)
      dumpAux(assets.toDF().select(col("asset_id"), col("kind"), col("media")), "q29_assets")
      val feats = graft.ml.Multimodal.extractFeatures(assets)
      feats.groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
             sum(col("n_bytes")).as("total_bytes"),
             round(sum(element_at(col("features"), 1)), 2).as("f0_sum"))
    }),

    // ---- the search engine itself (domain ops over the pages corpus) ----
    "q30_search_reference" -> ((s, _) =>
      searchQuery(s, 2000, "galaxy engine search", dump = true)),
    "q31_search_bm25" -> ((s, _) => {
      import s.implicits._
      val n = 2000
      dumpTriplesOnce(s, n)
      val hits = searcherFor(s, n).bm25TopK("distributed storage system", 20)
      s.createDataset(hits.zipWithIndex.map { case ((url, score), i) =>
        (i + 1, url, math.rint(score * 1e6) / 1e6)
      }).toDF("rank", "url", "score")
    }),
    // fixed-iteration mode (threshold/percent set so convergence never
    // fires) → the oracle unrolls exactly 15 iterations in SQL; the
    // reference's CONVERGENCE semantics are oracle-tested in PageRankSpec
    "q32_pagerank" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      dumpAux(nodes, "q32_nodes")
      dumpAux(edges, "q32_edges")
      val state0 = graft.rank.PageRank.init(s, graft.corpus.Corpus.generate(s, 500))
      val (ranks, _) = graft.rank.PageRank.run(s, state0,
        threshold = -1.0, percent = 2.0, maxIter = 15)
      ranks.map(r => (r.url, math.rint(r.rank * 1e6) / 1e6)).toDF("url", "rank")
    }),
    // sample: declared-but-unimplemented in the reference (FlameRDD.java:120,
    // FlameRDDImpl.java:53-56 returns null). Implemented as a DETERMINISTIC
    // content-hash Bernoulli sample (~1%): same rows at any parallelism or
    // cluster size — the scale-correct sampling operator (Spark's seeded
    // .sample is partition-dependent, hence not oracle-checkable).
    "q34_sample" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(conv(substring(md5(concat_ws("|",
            col("l_orderkey"), col("l_linenumber"))), 1, 15), 16, 10)
          .cast("long") % 100 === 0)
        .agg(count(lit(1)).as("n_sampled"),
             round(avg(col("l_quantity")), 4).as("avg_qty"))
    }),
    // the query path as pure Dataset operations (broadcast dictionary,
    // block-metadata pruning, fold-ordered summation) — bit-identical to the
    // driver-side searcher (IndexSpec)
    "q35_search_dataset" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      graft.query.QueryOps.referenceTopK(s, builtFor(s, n), "prince officer soldier", n)
        .select(col("url"), round(col("score"), 6).as("score"))
    }),
    "q33_dictionary" -> ((s, _) => {
      dumpTriplesOnce(s, 1000)
      builtFor(s, 1000).dictionary.toDF()
        .orderBy(col("df").desc, col("term").asc).limit(100)
    }),

    // ---- query-log replay: score a BATCH of queries in one distributed
    // pass (blocks of shared terms decoded once for the whole batch);
    // per-query results bit-identical to the serving scorer (IndexSpec) ----
    "q39_batch_queries" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      graft.query.QueryOps.batchReferenceTopK(s, builtFor(s, n), batchQueries, n)
        .select(col("query_id"), col("rank"), col("url"), round(col("score"), 6).as("score"))
    }),

    // ---- the NO-SPARK-JOB serving tier (reference Backend point-fetch
    // shape, Backend.java:221): sidecar block/doc shards written by
    // DirectIndex, served via mmap point reads with zero Spark jobs per
    // query — the result must match the same SQL oracle as every other
    // scorer tier ----
    "q40_search_direct" -> ((s, _) => {
      import s.implicits._
      val n = 1000
      dumpTriplesOnce(s, n)
      val dir = s"${auxDir}/_direct_$n"
      if (dumpedTriples.add(dir)) // once per JVM, like the triples
        graft.query.DirectIndex.write(builtFor(s, n), dir)
      val hits = graft.query.DirectSearcher.open(dir, n)
        .referenceTopK("galaxy engine search")
      s.createDataset(hits.zipWithIndex.map { case ((url, score), i) =>
        (i + 1, url, math.rint(score * 1e6) / 1e6)
      }).toDF("rank", "url", "score")
    }),

    // ---- OPEN-VOCABULARY build path: no term dictionary anywhere (no
    // distinct-term collect), string-keyed blocks shuffle — for corpora
    // whose vocabulary is unbounded. Must serve the same results under the
    // same SQL oracle as the dictionary-encoded build. ----
    "q41_search_openvocab" -> ((s, _) => {
      import s.implicits._
      val n = 1000
      dumpTriplesOnce(s, n)
      // the dumped triples ARE the corpus tokenization — read them back
      // instead of re-tokenizing (one pass, and the open-vocab input is
      // byte-identical to what the oracle reads)
      val triples = s.read.parquet(s"${auxDir}/${triplesName(n)}")
      val built = graft.index.IndexBuild.fromUrlTermTf(s, triples,
        parts = searchParts(s), openVocabulary = true)
      val hits = graft.query.Searcher.fromIndex(built, n)
        .referenceTopK("compression encoding decoder")
      s.createDataset(hits.zipWithIndex.map { case ((url, score), i) =>
        (i + 1, url, math.rint(score * 1e6) / 1e6)
      }).toDF("rank", "url", "score")
    }),

    // ---- CHECKPOINT-RESUMABLE segmented build + merge (north rule:
    // "resumable from checkpoint with per-partition lineage"): the corpus
    // is bucketed, each bucket tokenized into a fingerprinted segment
    // table partition, then SEGMENTS ARE BUILT TWICE — the second pass must
    // reuse every clean bucket (zero re-tokenization) — and the merged
    // index must serve the same results under the same SQL oracle ----
    "q43_segmented_merge" -> ((s, _) => {
      import s.implicits._
      val n = 1000
      dumpTriplesOnce(s, n)
      val dir = s"${auxDir}/_segments_$n"
      // persisted: the lifecycle takes three actions over the corpus
      // (fingerprint scan, tokenize write, resume fingerprint scan)
      val pages = graft.corpus.Corpus.generate(s, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val built = try {
        graft.index.SegmentedIndex.buildSegments(s, pages, graft.corpus.Corpus.lexicon,
          dir, buckets = 8)
        // resume pass: identical input → every bucket carried, none rebuilt
        val resume = graft.index.SegmentedIndex.buildSegments(s, pages,
          graft.corpus.Corpus.lexicon, dir, buckets = 8)
        require(resume.rebuilt.isEmpty && resume.reused.size == 8,
          s"resume must reuse all clean buckets, got $resume")
        graft.index.SegmentedIndex.merge(s, dir, parts = searchParts(s))
      } finally pages.unpersist()
      val hits = graft.query.Searcher.fromIndex(built, n)
        .referenceTopK("12 station")
      s.createDataset(hits.zipWithIndex.map { case ((url, score), i) =>
        (i + 1, url, math.rint(score * 1e6) / 1e6)
      }).toDF("rank", "url", "score")
    }),

    // ---- sessionization (training-data/event-pipeline op): gap-based
    // gaps-and-islands over the events table; the streaming twin
    // (flatMapGroupsWithState custom state) is equality-tested in
    // StreamSessionizeSpec ----
    "q37_sessionize" -> ((s, d) =>
      graft.streaming.Sessionize.batch(t(s, d, "events"), gapSec = 86400L)),

    // ---- STREAMING sessionization under the SAME oracle as the batch
    // twin: the events table replays as a file stream (plus one far-future
    // sentinel event per user that closes every trailing session and whose
    // own open session never emits), through the flatMapGroupsWithState
    // custom-state operator, into exactly the batch result — so q42's
    // oracle SQL is q37's verbatim ----
    "q42_sessionize_stream" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col => c}
      val gap = 86400L
      val real = t(s, d, "events")
      val tsType = real.schema("ts").dataType
      val src = java.nio.file.Files.createTempDirectory("graft_q42")
      java.nio.file.Files.createSymbolicLink(
        src.resolve("part-0.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      val maxSec = real.select(max(c("ts").cast("timestamp").cast("long")))
        .head().getLong(0)
      real.select(c("user_id")).distinct()
        .withColumn("event_id", c("user_id") + 10_000_000L)
        .withColumn("ts", (lit(maxSec) + gap * 10).cast("timestamp").cast(tsType))
        .withColumn("event_type", lit("sentinel"))
        .withColumn("value", lit(0.0))
        .withColumn("props", lit(""))
        .select(real.columns.map(c): _*)
        .write.mode("append").parquet(src.toString)
      val stream = s.readStream.schema(real.schema).parquet(src.toString)
      val name = s"graft_q42_${System.nanoTime()}"
      val q = graft.streaming.Sessionize.streaming(stream, gap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // a timed-out stream must fail LOUDLY, not hand a partial memory sink
      // to the oracle compare
      val finished = q.awaitTermination(300000)
      if (!finished) { q.stop(); throw new IllegalStateException("q42 streaming query timed out after 300s") }
      // emit the batch twin's exact parquet types (source is TimestampNTZ;
      // session timezone is UTC, so the cast is value-preserving)
      s.table(name).select(c("user_id"),
        c("session_start").cast(tsType).as("session_start"),
        c("session_end").cast(tsType).as("session_end"),
        c("n_events"), c("sum_value"))
    }),

    // ---- doc-detail point lookup (reference GET /query/:url flow,
    // Backend.java:416-482): the pages table is keyed by the reference
    // row-key hash, written key-sorted (row-group stats prune the point
    // fetch), looked up by key, and the title regexes produce the info map
    // (live-code quirk: extracted title lands under "abstract") ----
    "q36_doc_detail" -> ((s, _) => {
      import s.implicits._
      val n = 500L
      dumpPagesOnce(s, n)
      val keys = detailDocIds
        .map(i => graft.util.RefHasher.hash(graft.corpus.Corpus.urlOf(i, 16)))
      s.read.parquet(s"${auxDir}/q36_pages").filter(col("key").isin(keys: _*))
        .select(col("url"), col("html")).as[(String, String)]
        .map { case (u, h) =>
          val info = graft.query.DocDetail.pageInfo(u, Some(h))
          (u, info("title"), info("abstract"))
        }.toDF("url", "title", "abstract")
    }),

    // ---- the SAME GET /query/:url flow on the NO-SPARK-JOB tier: the
    // pages table is written as DirectIndex sidecar shards (mmap'd
    // fixed-width key tables — the reference Backend's point KVS fetch
    // shape) and the five lookups run with zero jobs; same oracle as q36 ----
    "q44_doc_detail_direct" -> ((s, _) => {
      import s.implicits._
      val n = 500L
      dumpPagesOnce(s, n)
      val dir = java.nio.file.Files.createTempDirectory("graft_q44").toFile.getAbsolutePath
      graft.query.DirectIndex.writePages(keyedPages(s, n), dir)
      val pages = graft.query.DirectPages.open(dir)
      val rows = detailDocIds.map { i =>
        val url = graft.corpus.Corpus.urlOf(i, 16)
        val info = graft.query.DocDetail.pageInfo(url,
          pages.html(graft.util.RefHasher.hash(url)))
        (url, info("title"), info("abstract"))
      }
      s.createDataset(rows).toDF("url", "title", "abstract")
    }),

    // ---- REAL media decode (retires the round-3 stub boundary for the
    // image + audio modalities): deterministic pixels/samples → REAL
    // PNG/BMP encode (javax.imageio) and WAV encode (RIFF/16-bit PCM) →
    // decode from the BYTES ALONE (container sniffed by magic, not a
    // trusted format column) → exact integer metadata + pixel/sample sums.
    // The oracle recomputes the sums from the closed-form generator
    // formulas in pure SQL, so a header misparse, dropped channel, or
    // sample-endianness slip hash-mismatches. ----
    "q45_media_decode" -> ((s, _) =>
      graft.ml.MediaCodec.decodeAll(graft.ml.MediaCodec.generate(s, 300)).toDF()),

    // ---- the PRODUCTION streaming sessionizer (EventTimeTimeout +
    // watermark, nonzero out-of-orderness delay) under the batch oracle
    // VERBATIM. Unlike q42 there are NO per-user sentinels: every trailing
    // session closes via the watermark-timeout flush. A single synthetic
    // user's two far-future heartbeat events (separate micro-batches via
    // maxFilesPerTrigger=1 + ordered mod-times) advance the GLOBAL
    // watermark — the stand-in, for a bounded replay, for the later
    // traffic any live stream has; the heartbeat user itself is excluded
    // from the output (its open session never flushes anyway unless a
    // trailing no-data batch runs). ----
    "q46_sessionize_watermark" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col => c}
      val gap = 86400L
      val real = t(s, d, "events")
      val tsType = real.schema("ts").dataType
      val src = java.nio.file.Files.createTempDirectory("graft_q46")
      java.nio.file.Files.createSymbolicLink(
        src.resolve("part-0.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      val maxSec = real.select(max(c("ts").cast("timestamp").cast("long")))
        .head().getLong(0)
      // heartbeat k: one event for user -1 at maxSec + k·10·gap, written as
      // its own file with an explicit mod-time so the file source replays
      // real → hb1 → hb2 as three ordered micro-batches. During hb2's batch
      // the watermark (= hb1 − delay) exceeds every real session_end + gap,
      // so ALL real users flush through the timeout path.
      def heartbeat(k: Int): Unit = {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft_q46_hb")
        Seq((-k.toLong, -1L, "heartbeat", 0.0, ""))
          .toDF("event_id", "user_id", "event_type", "value", "props")
          .withColumn("ts", (lit(maxSec) + gap * 10L * k).cast("timestamp").cast(tsType))
          .select(real.columns.map(c): _*)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles().find(_.getName.startsWith("part-")).get
        val dst = src.resolve(f"part-$k%d-heartbeat.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + k * 60000L))
      }
      heartbeat(1); heartbeat(2)
      val stream = s.readStream.schema(real.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
      val name = s"graft_q46_${System.nanoTime()}"
      val q = graft.streaming.Sessionize
        .streamingWithTimeout(stream, gap, delay = "60 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000)
      if (!finished) { q.stop(); throw new IllegalStateException("q46 streaming query timed out after 300s") }
      s.table(name).filter(c("user_id") =!= -1L).select(c("user_id"),
        c("session_start").cast(tsType).as("session_start"),
        c("session_end").cast(tsType).as("session_end"),
        c("n_events"), c("sum_value"))
    }),

    // ---- near-dup CLUSTER formation: connected components over pair
    // matches (the step a 100 TB dedup pipeline needs after LSH/verify —
    // pairs alone don't say which docs to keep). Deterministic multi-hop
    // graph over real doc ids: chains of 10 plus long-range links merging
    // chains, so the iterative min-label + pointer-jumping propagation does
    // real multi-round work, not 1-hop cliques. The oracle recomputes
    // min-reachable-id per node from the dumped pairs with a recursive CTE. ----
    "q47_dedup_components" -> ((s, d) => {
      val doc = t(s, d, "documents").select(col("doc_id"))
      val pairs = doc.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .union(doc.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("a"), (col("doc_id") + 23).as("b")))
      dumpAux(pairs, "q47_pairs")
      // cluster over the DUMPED pairs — one compute of the generator plan,
      // and the component input is byte-identical to the oracle's
      graft.ml.Dedup.connectedComponents(s.read.parquet(s"${auxDir}/q47_pairs"))
        .select(col("id").as("doc_id"), col("comp").as("component"))
    }),

    // ---- sequence packing: documents → fixed-token-budget training shards
    // in global id order, computed as a TWO-PHASE distributed prefix sum
    // (range partitions → one sum row per partition → broadcast offsets),
    // never a one-task global window. The oracle is the literal global
    // window cumsum the two-phase scan must equal. ----
    "q48_seq_packing" -> ((s, d) => {
      val doc = t(s, d, "documents")
      graft.ml.TextAnalysis.packSequences(doc, "doc_id",
        graft.ml.TextAnalysis.wsTokenCount(col("text")), maxTokens = 1024L)
    }),

    // ---- training-mix curation: stratified top-25-by-quality per language
    // (the C4/Gopher-style cheap filters ranked within each stratum; ties
    // broken by doc_id; ranking on the ROUNDED score both engines compute
    // identically — q20 pins the rounded values corpus-wide) ----
    "q49_quality_stratified" -> ((s, d) => {
      val doc = t(s, d, "documents")
      // qualityScore already rounds to 4 decimals (the q20-pinned values)
      val scored = doc.select(col("doc_id"), col("lang"),
        graft.ml.TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 25)
    }),

    // ---- REAL video decode (retires the LAST codec stub): deterministic
    // indexed-palette frames → REAL multi-frame animated-GIF encode
    // (ImageIO sequence writer) → frame explosion from the BYTES ALONE
    // (sequence reader, per-frame grayscale sums). The palette round-trips
    // losslessly, so the oracle recomputes the exact integer sums from the
    // generator formulas in pure SQL. ----
    "q50_video_frames" -> ((s, _) =>
      graft.ml.MediaCodec.explodeVideoFrames(
        graft.ml.MediaCodec.generateVideos(s, 120)).toDF()),

    // ---- DISTRIBUTED batch BM25 replay (offline relevance eval at scale):
    // every live-term block decoded once for the whole batch, dl+url joined
    // in one shuffle, per-(query,doc) contributions folded in pinned
    // term-asc order, per-query top-k. Scores = exhaustive BM25 — the same
    // contract the driver tier's finish pass guarantees (q31), oracled here
    // with the same 1e-6 rounding. ----
    "q52_batch_bm25" -> ((s, _) => {
      import s.implicits._
      val n = 1000
      dumpTriplesOnce(s, n)
      val raw = graft.query.QueryOps.batchBm25TopK(s, builtFor(s, n), batchQueries, 10)
      // the distributed job computes everything; only the ≤ k×queries result
      // rows transit the driver, rounded with the exact math.rint ↔
      // round_even pairing every other scorer oracle uses (q30/q31/q32)
      s.createDataset(raw.collect().toIndexedSeq.map(r =>
        (r.getInt(0), r.getInt(1), r.getString(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6)))
        .toDF("query_id", "rank", "url", "score")
    }),

    // ---- CONTENT-ADDRESSED media asset dedup: the pipeline op a 100 TB
    // multimodal corpus runs right after decode — re-crawled/re-hosted
    // copies of one asset share a content address computed from the DECODED
    // canonical form (container re-encodes of identical pixels/samples
    // collapse), exact-dedup keeps the min-id representative. 300 assets
    // carry 100 distinct contents (asset_id % 100), decoded by the REAL
    // q45 codecs from the bytes alone; the oracle recomputes the decoded
    // records from the generator formulas and replays the same min-id
    // grouping in SQL. ----
    "q53_media_dedup" -> ((s, _) => {
      import s.implicits._
      val assets = s.range(300).mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { rid =>
          val cid = rid % 100 // three re-hosted copies of each content
          graft.ml.RealAsset(rid, graft.ml.MediaCodec.formatOf(cid),
            graft.ml.MediaCodec.encode(cid))
        }
      }
      val decoded = graft.ml.MediaCodec.decodeAll(assets).toDF()
      // the address is the DECODED form only — format deliberately excluded,
      // so a PNG and a BMP holding identical pixels share one address
      val addressed = decoded.withColumn("content_key",
        concat_ws("|", col("width"), col("height"),
          col("sample_rate"), col("n_units"), col("checksum")))
      graft.ml.Dedup.exactDedup(addressed, "content_key", "asset_id")
        .select(col("asset_id"), col("format"), col("n_units"), col("checksum"))
    }),

    // ---- snapshot TIME TRAVEL under the oracle: build segments over
    // corpus A (snapshot v1), overwrite with a mutated corpus (v2), then
    // read v1 BY SNAPSHOT ID — the result must be exactly corpus A's
    // tokenizer triples (the dumped oracle input), proving the superseded
    // snapshot's manifest + data files survive the v2 commit untouched ----
    "q51_time_travel" -> ((s, _) => {
      import s.implicits._
      val n = 500
      dumpTriplesOnce(s, n)
      val dir = java.nio.file.Files.createTempDirectory("graft_q51").toString
      val pages = graft.corpus.Corpus.generate(s, n)
      val r1 = graft.index.SegmentedIndex.buildSegments(
        s, pages, graft.corpus.Corpus.lexicon, dir, buckets = 8)
      val mutated = pages.map { p =>
        if (p.url.endsWith("/p/7"))
          p.copy(html = new String(p.html, "UTF-8")
            .replace("<p>", "<p>timetravel mutation galaxy ").getBytes("UTF-8"))
        else p
      }
      graft.index.SegmentedIndex.buildSegments(
        s, mutated, graft.corpus.Corpus.lexicon, dir, buckets = 8)
      graft.tables.TableIO.read(s, dir, Some(r1.snapshotId))
        .select(col("url"), col("term"), col("tf"))
    }),

    // ---- snapshot EXPIRY chained with time travel (the retention op a
    // production table written hourly needs): v1 = a mutated corpus, v2 =
    // corpus A (rebuilding only the mutated bucket — v2 carries v1's clean
    // buckets as HARD LINKS), v3 = another mutation. Expire keep-2: v1's
    // metadata and dir entries go away (reading it fails loudly — required
    // in-query), while the RETAINED superseded v2 still reads verbatim —
    // including the buckets whose only surviving directory entries are the
    // links v2 carried from the now-expired v1. The oracle is corpus A's
    // tokenizer triples, q51's contract. ----
    "q54_snapshot_expiry" -> ((s, _) => {
      import s.implicits._
      val n = 500
      dumpTriplesOnce(s, n)
      val dir = java.nio.file.Files.createTempDirectory("graft_q54").toString
      val pages = graft.corpus.Corpus.generate(s, n)
      def mutate(tag: String) = pages.map { p =>
        if (p.url.endsWith("/p/7"))
          p.copy(html = new String(p.html, "UTF-8")
            .replace("<p>", s"<p>$tag mutation galaxy ").getBytes("UTF-8"))
        else p
      }
      val r1 = graft.index.SegmentedIndex.buildSegments(
        s, mutate("expiry-v1"), graft.corpus.Corpus.lexicon, dir, buckets = 8)
      val r2 = graft.index.SegmentedIndex.buildSegments(
        s, pages, graft.corpus.Corpus.lexicon, dir, buckets = 8)
      require(r2.rebuilt.size == 1,
        s"v2 must rebuild only the mutated bucket, got ${r2.rebuilt}")
      graft.index.SegmentedIndex.buildSegments(
        s, mutate("expiry-v3"), graft.corpus.Corpus.lexicon, dir, buckets = 8)
      val expired = graft.tables.TableIO.expireSnapshots(dir, keepLast = 2)
      require(expired == Seq(r1.snapshotId), s"expected v1 expired, got $expired")
      require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "data", s"snap-${r1.snapshotId}")),
        "expired snapshot's data dir must be reclaimed")
      val v1Gone =
        try { graft.tables.TableIO.read(s, dir, Some(r1.snapshotId)); false }
        catch { case e: IllegalStateException => e.getMessage.contains("expired") }
      require(v1Gone, "time travel to the expired snapshot must fail loudly")
      graft.tables.TableIO.read(s, dir, Some(r2.snapshotId))
        .select(col("url"), col("term"), col("tf"))
    }),

    // ---- C4-style LINE-LEVEL corpus dedup: drop every 10-token line that
    // appears in >= 2 distinct documents (cross-document boilerplate),
    // reassemble the survivors in order. 127 of sf0.01's 2,798 lines are
    // cross-doc duplicates, so the pass is non-trivial on the real table ----
    "q55_line_dedup" -> ((s, d) =>
      graft.ml.TextAnalysis.lineDedup(t(s, d, "documents"), "doc_id", "text")),

    // ---- repetition-ratio quality signals: duplicate bi/tri-gram fraction
    // per document (Gopher/RefinedWeb repetition filters) ----
    "q56_repetition" -> ((s, d) => {
      val doc = t(s, d, "documents")
      doc.select(col("doc_id"),
        round(graft.ml.TextAnalysis.repetitionRatio(col("text"), 2), 4)
          .as("dup_bigram_frac"),
        round(graft.ml.TextAnalysis.repetitionRatio(col("text"), 3), 4)
          .as("dup_trigram_frac"))
    }),

    // ---- tf-idf "more like this": top-5 lexically most similar docs for
    // each of 5 query docs, cosine over tf-idf vectors with term-ordered
    // FP folds (the related-pages op, served off the posting shape) ----
    "q57_more_like_this" -> ((s, d) =>
      graft.ml.MoreLikeThis.topK(t(s, d, "documents"), "doc_id", "text",
          queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))),

    // ---- anchor-text aggregation (link inversion): per link TARGET, the
    // inlink count + sorted distinct anchor terms — one shuffle keyed by
    // target over (target, term) pairs, HTML never shuffles ----
    "q58_anchor_text" -> ((s, _) => {
      dumpPagesOnce(s, 500L)
      val pages = s.read.parquet(s"${auxDir}/q36_pages").select(col("url"), col("html"))
      graft.index.AnchorText.aggregate(pages, "url", "html")
    }),

    // ---- CONJUNCTIVE (AND-semantics) batch BM25: only docs containing
    // EVERY parsed query term are candidates, scored with the exhaustive
    // BM25 algebra over those terms; the AND filter is a per-(query,doc)
    // matched-term-count equality after the pinned-order fold ----
    "q59_conjunctive_bm25" -> ((s, _) => {
      import s.implicits._
      val n = 1000
      dumpTriplesOnce(s, n)
      val raw = graft.query.QueryOps.conjunctiveBm25TopK(s, builtFor(s, n), batchQueries, 10)
      s.createDataset(raw.collect().toIndexedSeq.map(r =>
        (r.getInt(0), r.getInt(1), r.getString(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6)))
        .toDF("query_id", "rank", "url", "score")
    }),

    // ---- "did you mean" spell correction against the index dictionary:
    // absent query terms get the closest dictionary term (levenshtein <= 2,
    // ties by df desc then term asc) via ONE broadcast-probed dictionary
    // scan; present and hopeless terms emit no row ----
    "q60_spell_correct" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      graft.query.SpellCorrect.didYouMean(builtFor(s, n).dictionary,
        Seq("galxy", "enginee", "stattion", "distrubuted", "qery", "oficer",
          "history", "zzzzzzzz"))
    }),

    // ---- result-page snippets: per doc, the best 15-token window (max
    // query-term hits, earliest on ties) — entirely narrow: explode over
    // window starts + a map-side-combined min over a packed struct ----
    "q61_snippets" -> ((s, d) =>
      graft.query.Snippets.bestWindow(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "query", "table"), 15)),

    // ---- benchmark DECONTAMINATION (GPT-3/PaLM 13-gram overlap rule): flag
    // corpus docs sharing any 13-token run with the benchmark set (here:
    // docs 0-9 stand in for the eval suite — deterministic, in-corpus, and
    // guaranteed non-trivial since those docs flag themselves) ----
    "q62_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ml.Decontaminate.flag(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 10), "text", n = 13)
    }),

    // ---- PII redaction (pre-training scrub): mask emails then IPv4s with
    // per-doc counts; deterministic synthetic PII is appended so the pass
    // is non-trivial on every row (the corpus text itself is PII-free) ----
    "q63_pii_redact" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org from 10."), (col("doc_id") % 200).cast("string"),
          lit(".0."), (col("doc_id") % 250).cast("string"), lit(" port 8080"))
          .as("text"))
      graft.ml.TextAnalysis.redactPii(aug, "doc_id", "text")
    }),

    // ---- deterministic mixture resampling (data mixing): downsample each
    // source to weight (k+1)/210 of a 300-doc budget via the portable-hash
    // coin — stable across partitionings, no window, no global sort ----
    "q64_mixture_sample" -> ((s, d) => {
      val weights = (0 until 20).map(k => s"src$k" -> (k + 1) / 210.0).toMap
      graft.ml.Mixture.resample(t(s, d, "documents"), "doc_id", "source",
        weights, total = 300L)
    }),

    // ---- bigram-LM perplexity scoring (CCNet-style quality filter):
    // add-one-smoothed corpus bigram model, per-doc avg negative
    // log-likelihood with a position-ordered FP fold ----
    "q65_lm_perplexity" -> ((s, d) =>
      graft.ml.LmScore.bigramNll(t(s, d, "documents"), "doc_id", "text")),

    // ---- search-box autocomplete: top-5 dictionary completions per typed
    // prefix by (df desc, term asc), one broadcast-probed dictionary scan;
    // a prefix with no completion (zz) emits no row ----
    "q66_autocomplete" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      graft.query.Autocomplete.complete(builtFor(s, n).dictionary,
        Seq("sta", "eng", "dis", "qu", "zz"), k = 5)
    }),

    // ---- positional phrase search ("exact phrase" — beyond the tf-only
    // reference index): positional-posting intersection via (doc, start)
    // equi-joins of term-filtered postings, top-20 by occurrence count ----
    "q67_phrase_search" -> ((s, d) => {
      val pos = graft.query.PhraseSearch.positions(
        t(s, d, "documents"), "doc_id", "text")
      graft.query.PhraseSearch.topK(pos, Seq("table", "hash"), k = 20)
    }),

    // ---- HITS hubs & authorities (the second link-analysis scorer next
    // to q32's PageRank): 8 max-normalized iterations over the same
    // 500-page link graph, oracle = 16-CTE unrolled SQL ----
    "q68_hits" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      dumpAux(nodes, "q68_nodes")
      dumpAux(edges, "q68_edges")
      graft.rank.Hits.run(nodes, edges, iters = 8)
        .select(col("url"),
          (bround(col("hub") * 1e6) / 1e6).as("hub"),
          (bround(col("auth") * 1e6) / 1e6).as("auth"))
    }),

    // ---- PMI related terms ("related searches"): document-level
    // co-occurrence over the top-200 df-capped vocabulary, top-20 pairs by
    // PMI with a >= 5 co-occurrence floor ----
    "q69_related_terms" -> ((s, d) =>
      graft.ml.Pmi.relatedTerms(t(s, d, "documents"), "doc_id", "text",
        topTerms = 200, minPairs = 5, k = 20)),

    // ---- ANALYZE-style table profiling: exact per-column row/null/
    // distinct counts in ONE pass (a nullified derived column makes the
    // null stats non-trivial — the raw tables are null-free) ----
    "q70_profile" -> ((s, d) => {
      val src = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        nullif(col("l_linestatus"), lit("F")).as("status_or_null"))
      graft.tables.TableProfile.profile(src,
        Seq("l_orderkey", "l_returnflag", "l_quantity", "status_or_null"))
    }),

    // ---- as-of (point-in-time) join: each purchase picks up the most
    // recent preceding view by the same user — union + ordered window
    // scan, ONE shuffle on the key, no inequality join (the oracle is an
    // independent LATERAL top-1 implementation of the same rule) ----
    "q71_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsOfJoin.asOf(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", tieBreak = "event_id")
    }),

    // ---- exact grouped quantiles (percentile_cont): distributed sort +
    // rank-targeted interpolation, state bounded by the sort buffer — not
    // by group cardinality like Spark's value-count-map `percentile` ----
    "q72_quantiles" -> ((s, d) =>
      graft.operators.Quantiles.exact(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))),

    // ---- CUBE aggregation (all four grouping sets in one Expand pass,
    // partially aggregated map-side); exact integer cents so summation
    // order can't flip the hash ----
    "q73_cube" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"),
          (grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).cast("int").as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n_orders"), col("total_cents"))),

    // ---- recrawl snapshot delta: classify keys added/removed/changed/
    // unchanged by content fingerprint — the shuffle carries (key, md5),
    // never text; downstream incremental ingest re-tokenizes the delta
    // only. The v2 snapshot drops ids < 20, edits every 7th doc, and adds
    // 20 synthetic pages so all four classes are non-empty ----
    "q74_recrawl_delta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") >= 20)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(s.range(20).select((col("id") + 10000L).as("doc_id"),
          concat(lit("new page "), col("id")).as("text")))
      graft.crawl.RecrawlDelta.diff(oldSnap, newSnap, "doc_id", "text")
    }),

    // ---- politeness-aware crawl-frontier scheduling: per-host priority
    // queues as ONE window pass (priority = link indegree over the same
    // 500-page graph q68 analyzes), capped at a 25-url per-host budget ----
    "q75_frontier" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      dumpAux(nodes, "q75_nodes")
      dumpAux(edges, "q75_edges")
      val indeg = edges.groupBy(col("dst").as("url"))
        .agg(count(lit(1)).as("indegree"))
      val cand = nodes.join(indeg, Seq("url"), "left")
        .select(col("url"), coalesce(col("indegree"), lit(0L)).as("indegree"))
      graft.crawl.Frontier.schedule(cand, "url", "indegree", maxPerHost = 25)
    }),

    // ---- small-file compaction (Iceberg rewrite_data_files analog): a
    // fragmented partitioned write collapses to ONE file per partition in
    // a new snapshot — rows verbatim, lineage kept, pre-compaction
    // snapshot still time-travelable; the oracle recomputes the final agg
    // straight from the source table, so any row lost or duplicated by
    // the rewrite flips the hash ----
    "q76_compact" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_q76").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(8, col("doc_id")) // fragment: up to 8 files per lang
      val v1 = graft.tables.TableIO.write(docs, dir, "append", Some("lang"))
      val v2 = graft.tables.TableIO.compact(s, dir, Some("lang"))
      require(v2 == v1 + 1, "compaction must commit a new snapshot")
      val perPart = graft.tables.TableIO.manifest(s, dir, Some(v2))
        .filter(_.path.nonEmpty).groupBy(_.partition).values.map(_.size)
      require(perPart.nonEmpty && perPart.forall(_ == 1),
        s"expected 1 file per partition after compaction, got $perPart")
      require(graft.tables.TableIO.read(s, dir, Some(v1)).count() ==
        graft.tables.TableIO.read(s, dir, Some(v2)).count(),
        "compaction changed the row count")
      graft.tables.TableIO.read(s, dir, Some(v2))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- fixed-size weighted sampling without replacement (A-ES): 50
    // docs drawn ∝ length via the portable-hash exponential-key trick —
    // TakeOrdered top-k, no global sort, reproducible across engines ----
    "q77_weighted_sample" -> ((s, d) => {
      val sampled = graft.ml.WeightedSample.topK(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 50, seed = "g77")
      sampled.select(col("doc_id"), col("n_chars"),
        (bround(col("samp_key") * 1e6) / 1e6).as("samp_key"))
    }),

    // ---- bibliographic-coupling related pages (third link-analysis
    // scorer next to q32 PageRank / q68 HITS): shared-outlink pair counts
    // with hub targets capped BEFORE the quadratic self-join ----
    "q78_related_pages" -> ((s, _) => {
      import s.implicits._
      val (_, edges) = linkGraphFor(s, 500)
      dumpAux(edges, "q78_edges")
      graft.rank.RelatedPages.biblioCoupling(edges, maxIndegree = 25, k = 20)
    }),

    // ---- index df-skew statistics (the planning input behind the build's
    // term salting): exact GLOBAL quantiles of the dictionary's document-
    // frequency distribution via the range-partitioned two-phase rank
    // targeting — the single-group case grouped quantiles must not serve ----
    "q79_index_stats" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      val dfs = builtFor(s, n).dictionary.toDF().select(col("df"))
      graft.operators.Quantiles.exactGlobal(dfs, "df",
        Seq(0.0, 0.5, 0.9, 0.99, 1.0))
    }),

    // ---- equi-width histogram profiling (TableProfile's distribution
    // companion): one tiny min/max agg broadcast back + one map-side-
    // combined count per bin — no sort, no window ----
    "q80_histogram" -> ((s, d) =>
      graft.tables.TableProfile.histogram(
        t(s, d, "lineitem"), "l_extendedprice", bins = 8)),

    // ---- skew-defusing salted join: the fact side scatters across 8 salt
    // lanes by a deterministic row hash, the dim side replicates — result
    // EXACTLY equals the plain join the oracle runs ----
    "q81_salted_join" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "value")
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment", (col("user_id") % 5).cast("int"))
      graft.operators.SaltedJoin.inner(ev, dim, "user_id", salts = 8)
        .groupBy("segment")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
    }),

    // ---- index-generation delta: after a recrawl rebuilds ONE bucket
    // (q43/q54's resume machinery), diff the two snapshot generations'
    // postings — the incremental "what changed in the index" audit. The
    // oracle recomputes BOTH generations' tokenizer truth independently,
    // so the whole build→resume→snapshot-read pipeline must agree with
    // the tokenizer for every (url, term) of both versions ----
    "q82_index_delta" -> ((s, _) => {
      import s.implicits._
      val n = 500
      val dir = java.nio.file.Files.createTempDirectory("graft_q82").toString
      val pages = graft.corpus.Corpus.generate(s, n)
      val mutated = pages.map { p =>
        if (p.url.endsWith("/p/7"))
          p.copy(html = new String(p.html, "UTF-8")
            .replace("<p>", "<p>galaxy engine prince station soldier ")
            .getBytes("UTF-8"))
        else p
      }
      val r1 = graft.index.SegmentedIndex.buildSegments(
        s, mutated, graft.corpus.Corpus.lexicon, dir, buckets = 8)
      val r2 = graft.index.SegmentedIndex.buildSegments(
        s, pages, graft.corpus.Corpus.lexicon, dir, buckets = 8)
      require(r2.rebuilt.size == 1,
        s"v2 must rebuild only the mutated bucket, got ${r2.rebuilt}")
      val lex = s.sparkContext.broadcast(graft.corpus.Corpus.lexicon)
      def trip(ds: org.apache.spark.sql.Dataset[graft.corpus.Page], name: String): Unit =
        dumpAux(ds.flatMap { p =>
          graft.text.Text.postings(p.url, new String(p.html, "UTF-8"), lex.value)
            .map { case (t, tf) => (p.url, t, tf) }
        }.toDF("url", "term", "tf"), name)
      trip(mutated, "q82_tripv1")
      trip(pages, "q82_tripv2")
      def postingsOf(snap: Long) =
        graft.tables.TableIO.read(s, dir, Some(snap))
          .select(col("url"), col("term"), col("tf"))
      val v1 = postingsOf(r1.snapshotId)
        .withColumnRenamed("tf", "tf_v1").withColumn("_in1", lit(true))
      val v2 = postingsOf(r2.snapshotId)
        .withColumnRenamed("tf", "tf_v2").withColumn("_in2", lit(true))
      v1.join(v2, Seq("url", "term"), "full_outer")
        .withColumn("status",
          when(col("_in1").isNull, lit("added"))
            .when(col("_in2").isNull, lit("removed"))
            .when(col("tf_v1") === col("tf_v2"), lit("unchanged"))
            .otherwise(lit("changed")))
        .filter(col("status") =!= "unchanged")
        .select(col("url"), col("term"), col("tf_v1"), col("tf_v2"),
          col("status"))
    }),

    // ---- multi-source BFS crawl depth: min hop distance from the seed
    // list over the SAME link graph q32/q68 score, frontier-iterated
    // (per-round shuffle is O(frontier × degree), never O(V+E)); the
    // oracle is an independent recursive-CTE reachability expansion ----
    "q83_bfs_depth" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      val seeds = nodes
        .filter(col("url").endsWith("/p/0") || col("url").endsWith("/p/250"))
      dumpAux(edges, "q83_edges")
      dumpAux(seeds, "q83_seeds")
      graft.rank.Bfs.hops(seeds, edges, maxHops = 6)
    }),

    // ---- SymSpell-style all-pairs edit-distance-1 vocabulary neighbors:
    // deletion-neighborhood candidate join (linear in |V|) + levenshtein
    // verify, proved equal to the |V|² cross join the oracle runs ----
    "q84_term_neighbors" -> ((s, _) => {
      val vocab = builtFor(s, 1000).dictionary.toDF().select("term", "df")
      dumpAux(vocab, "q84_vocab")
      graft.query.TermNeighbors.editDistance1(vocab, minLen = 3)
    }),

    // ---- bucketized range (band) join: events land in the overlapping
    // 2-step windows containing them via a bucket equi-join + residual
    // containment filter — never a BroadcastNestedLoopJoin; the oracle IS
    // the naive inequality join ----
    "q85_range_join" -> ((s, d) => {
      val ev = t(s, d, "events") // ts is NTZ; UTC session makes the cast value-preserving
        .select(unix_micros(col("ts").cast("timestamp")).as("p"), col("value"))
      val r = ev.agg(min(col("p")), max(col("p"))).collect()(0)
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val step = (mx - mn) / 40 // integer floor-div, == DuckDB `//`
      val win = s.range(40).select(col("id").as("window_id"),
        (lit(mn) + col("id") * lit(step)).as("ws"),
        (lit(mn) + col("id") * lit(step) + lit(2 * step)).as("we"))
      graft.operators.RangeJoin
        .pointInInterval(ev, "p", win, "ws", "we", bucketWidth = 2.0 * step)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
    }),

    // ---- DISTRIBUTED block-max WAND batch BM25 (north star verbatim:
    // "block-max WAND pruning expressed as Dataset operations"): seed-block
    // θ bound → per-(query,term) block-max prune thresholds → kept-block
    // lower-bound scoring → exact candidate rescore. Runs over a
    // small-block (32-posting) build of the SAME corpus so pruning is real
    // at test scale; results are EXACTLY the exhaustive BM25 the q52
    // oracle recomputes (block size never changes scores). ----
    "q86_bm25_blockmax" -> ((s, _) => {
      import s.implicits._
      val n = 1000
      dumpTriplesOnce(s, n)
      val raw = graft.query.BlockMaxWand.batchBm25WandTopK(
        s, wandIndexFor(s, n), wandQueries, 10)
      s.createDataset(raw.collect().toIndexedSeq.map(r =>
        (r.getInt(0), r.getInt(1), r.getString(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6)))
        .toDF("query_id", "rank", "url", "score")
    }),

    // ---- duplicate-substring SPAN detection (Lee et al. 2022): maximal
    // token spans covered by corpus-repeated 10-grams, merged with the
    // gaps-and-islands window; only the rare (doc, pos) hits shuffle — the
    // text never does. The oracle replays the same gram/merge algebra. ----
    // the count/join keys are xxhash64(gram) — 8-byte shuffle keys; the
    // string-semantics oracle below matches on this corpus (DupSpansSpec
    // pins the operator to string-keyed expectations)
    "q87_dup_spans" -> ((s, d) =>
      graft.ml.DupSpans.spans(t(s, d, "documents"), "doc_id", "text", n = 10)),

    // ---- personalized PageRank: 0.85-damped walks restarting at a 2-url
    // seed set over the q32-style link graph, 10 fixed power-iteration
    // rounds (threshold-free → the unrolled-CTE oracle is exact); the
    // frontier filter keeps early rounds sparse without changing values ----
    "q88_personalized_pagerank" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      val seeds = nodes
        .filter(col("url").endsWith("/p/0") || col("url").endsWith("/p/250"))
      dumpAux(nodes, "q88_nodes")
      dumpAux(edges, "q88_edges")
      dumpAux(seeds, "q88_seeds")
      graft.rank.Personalized.run(s, nodes, edges, seeds, iters = 10)
        .as[(String, Double)]
        .map { case (u, r) => (u, math.rint(r * 1e8) / 1e8) }
        .toDF("url", "rank")
    }),

    // ---- asymmetric containment near-dup pairs (Broder): shared df-capped
    // 8-grams over min(|A|,|B|) — catches "short doc inside long doc" that
    // Jaccard (q24) and MinHash (q22) structurally miss ----
    // distinct/df-window/self-join all key on xxhash64(gram) (8-byte keys;
    // the self-join's Sigma-df-squared shuffle shrinks ~8x); ContainmentSpec
    // pins the operator to string-keyed expectations, oracle unchanged
    "q89_containment" -> ((s, d) =>
      graft.ml.Containment.pairs(t(s, d, "documents"), "doc_id", "text",
          n = 8, maxGramDf = 50, minContainment = 0.5)
        .withColumn("containment", round(col("containment"), 6))),

    // ---- STREAM-STREAM event-time interval join (click attribution):
    // views and clicks replay as independent file streams in 1-file
    // micro-batches (forcing real symmetric join state across batches);
    // INNER join output is batch-equivalent under any slicing, so the
    // plain batch join IS the oracle ----
    "q90_stream_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col => c}
      val real = t(s, d, "events")
      val tsType = real.schema("ts").dataType
      def dump(tpe: String): String = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft_q90_$tpe")
        real.filter(c("event_type") === tpe).repartition(3)
          .write.mode("overwrite").parquet(dir.toString)
        dir.toString
      }
      val (vDir, cDir) = (dump("view"), dump("click"))
      def stream(dir: String) = s.readStream.schema(real.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      // The replay shuffles rows across files, so an event can arrive a
      // whole data-span "late" relative to the watermark — size the delay
      // to the observed span so the replay drops nothing and the batch SQL
      // oracle is exact. (A live feed would use the feed's real
      // out-of-orderness bound instead; StreamJoinSpec covers eviction.)
      val secs = c("ts").cast("timestamp").cast("long") // NTZ can't cast to long directly
      val span = real.agg(
          (org.apache.spark.sql.functions.max(secs) -
           org.apache.spark.sql.functions.min(secs)).as("s"))
        .head().getLong(0)
      runReplay(s, s"graft_q90_${System.nanoTime()}",
          graft.streaming.StreamJoin.clickAttribution(
            stream(vDir), stream(cDir), windowSec = 3600,
            delay = s"${span + 3601} seconds"))
        .select(c("imp_id"), c("click_id"), c("user_id"),
          c("imp_ts").cast(tsType).as("imp_ts"),
          c("click_ts").cast(tsType).as("click_ts"), c("value"))
    }),

    // ---- streaming exactly-once ingest dedup + chained hourly rollup
    // (the 4th state primitive: dedup state, and the first chained
    // stateful pipeline): the replay delivers EVERY file twice
    // (at-least-once feed) in 1-file micro-batches; the dedup collapses
    // redeliveries so the oracle is the plain hourly rollup. delay = data
    // span (replay exactness — a live feed would use its real
    // redelivery/out-of-orderness bound); a far-future heartbeat file
    // replayed LAST (later mtime → FileStreamSource order) flushes the
    // final windows and its own window never emits ----
    "q91_stream_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col => c}
      val real = t(s, d, "events")
      val tsType = real.schema("ts").dataType
      val secs = c("ts").cast("timestamp").cast("long")
      val Array(mn, mx) = real.agg(
          org.apache.spark.sql.functions.min(secs),
          org.apache.spark.sql.functions.max(secs))
        .head() match { case r => Array(r.getLong(0), r.getLong(1)) }
      val span = mx - mn
      val delay = span + 2
      val dir = java.nio.file.Files.createTempDirectory("graft_q91")
      val stage = java.nio.file.Files.createTempDirectory("graft_q91_stage")
      real.select("event_id", "ts", "value").repartition(3)
        .write.mode("overwrite").parquet(stage.toString)
      val base = System.currentTimeMillis()
      var i = 0
      listParquetFiles(stage).foreach { f =>
        Seq("a", "b").foreach { redelivery => // the SAME file twice
          val dst = dir.resolve(f"feed-$i%03d-$redelivery.parquet")
          java.nio.file.Files.copy(java.nio.file.Paths.get(f), dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(base))
        }
        i += 1
      }
      val hbStage = java.nio.file.Files.createTempDirectory("graft_q91_hb")
      real.limit(1).select(lit(-1L).as("event_id"),
          (lit(mx + delay + 7200).cast("timestamp")).cast(tsType).as("ts"),
          lit(0.0).as("value"))
        .coalesce(1).write.mode("overwrite").parquet(hbStage.toString)
      val hbFile = listParquetFiles(hbStage).head
      val hbDst = dir.resolve("zz-heartbeat.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(hbFile), hbDst)
      java.nio.file.Files.setLastModifiedTime(hbDst,
        java.nio.file.attribute.FileTime.fromMillis(base + 600_000L))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        s"event_id BIGINT, ts ${tsType.sql}, value DOUBLE")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      runReplay(s, s"graft_q91_${System.nanoTime()}",
          graft.streaming.StreamDedup.dedupedHourlyCounts(
            stream, "event_id", "ts", s"$delay seconds"))
        .select(c("hour").cast(tsType).as("hour"), c("cnt"),
          round(c("sum_value"), 4).as("sum_value"))
    }),

    // ---- per-node triangle counts via the degree-oriented wedge join;
    // the oracle brute-enumerates ordered triples over the canonical
    // undirected edges ----
    "q92_triangles" -> ((s, _) => {
      import s.implicits._
      // deliberately NOT the linkGraphFor cache: the wedge join's ~36-join
      // plan re-plans every join as a separate static BroadcastExchange once
      // the cached frame carries accurate tiny stats (36 sequential driver
      // broadcast builds ≈ +2s), where the unknown-stats raw pipeline keeps
      // shuffle exchanges that ReuseExchange dedupes — measured 1.5s vs 3.3s
      val state0 = graft.rank.PageRank.init(s, graft.corpus.Corpus.generate(s, 500))
      val edges = state0.flatMap(st => st.links.map(l => (st.url, l)))
        .toDF("src", "dst")
      dumpAux(edges, "q92_edges")
      graft.rank.Triangles.perNode(edges)
    }),

    // ---- pivot (long → wide): daily revenue matrix by event type. The
    // values list is EXPLICIT — at 100 TB `pivot(col)` without values runs
    // a distinct scan first and then builds however many columns it finds;
    // pinning the list keeps it one pass and a fixed schema ----
    "q93_pivot" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 4))
        .orderBy("day")),

    // ---- Z-order clustering key (OPTIMIZE ... ZORDER BY analog): the
    // Morton key over (user bucket, hour bucket) that ZOrder.writeZOrdered
    // clusters files by so footer min/max stats prune on EITHER dimension;
    // ZOrderSpec proves the file-pruning effect, the oracle pins the
    // interleave bit-for-bit ----
    "q94_zorder_key" -> ((s, d) => {
      val ev = t(s, d, "events")
      val x = col("user_id").bitwiseAND(lit(65535L))
      val y = floor(col("ts").cast("timestamp").cast("long") / 3600)
        .cast("long").bitwiseAND(lit(65535L))
      ev.select(col("event_id"),
        graft.tables.ZOrder.zKey(x, y, 16).as("zkey"))
    }),

    // ---- MERGE INTO analog: one keyed changeset deletes, replaces and
    // inserts against a committed snapshot table (copy-on-write, old
    // snapshot stays time-travelable); the oracle replays the same
    // changeset algebra over the raw documents table ----
    "q95_table_merge" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("len"))
      val dir = java.nio.file.Files.createTempDirectory("graft_q95").toString
      graft.tables.TableIO.write(base, dir, "append")
      // insert keys offset past max(doc_id) so the changeset's key sets
      // stay disjoint at ANY scale factor (a fixed offset would collide
      // with real ids once the corpus outgrows it)
      val off = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val changes = base.filter(col("doc_id") % 7 === 3)
          .withColumn("_op", lit("delete"))
        .unionByName(base.filter(col("doc_id") % 7 === 4)
          .select(col("doc_id"), col("lang"), lit(-1L).as("len"),
            lit("upsert").as("_op")))
        .unionByName(base.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + off).as("doc_id"),
            lit("new").as("lang"), lit(0L).as("len"), lit("upsert").as("_op")))
      graft.tables.TableIO.merge(s, dir, changes, "doc_id")
      graft.tables.TableIO.read(s, dir)
    }),

    // ---- bucketed co-located join: both tables pre-hashed into the same
    // 16 buckets on the join key, so the fact-to-fact join plans with
    // ZERO Exchange nodes (required loudly below — the plan shape IS the
    // operator); the oracle is the plain join ----
    "q96_bucketed_join" -> ((s, d) => {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val (lt, ot) = (s"graft_q96_lineitem_$tag", s"graft_q96_orders_$tag")
      graft.tables.Bucketing.writeBucketed(
        t(s, d, "lineitem").select("l_orderkey", "l_quantity"), lt, "l_orderkey", 16)
      graft.tables.Bucketing.writeBucketed(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus"), ot, "o_orderkey", 16)
      val joined = graft.tables.Bucketing.bucketedJoin(s, lt, ot,
        "l_orderkey", "o_orderkey")
      require(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed join must plan without a shuffle")
      joined.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
    }),

    // ---- HyperLogLog registers (distinct-user cardinality without a
    // distinct shuffle — fixed 2^9-row aggregate at any data volume);
    // the oracle recomputes every register from the same portable hash,
    // so the CHECK is the registers verbatim, not the estimate ----
    "q97_hll_registers" -> ((s, d) =>
      graft.ml.Sketches.hllRegisters(t(s, d, "events"), col("user_id"), p = 9)),

    // ---- Count-Min counter table (per-key frequency without a per-key
    // groupBy — fixed 4×256 counters); same verbatim-register contract ----
    "q98_countmin" -> ((s, d) =>
      graft.ml.Sketches.countMin(t(s, d, "events"), col("user_id"), d = 4, w = 256)
        .select(col("row").as("hrow"), col("col").as("hcol"), col("cnt"))),

    // ---- SCD-2 page version history: 4 deterministic recrawl
    // generations of every document (gen g mutates docs whose id divides
    // g+1) collapse into validity intervals — consecutive identical
    // fetches merge, reverted content opens a NEW version, the live
    // version stays open; the oracle replays the same window algebra ----
    "q99_version_history" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val fetches = (1 to 4).map { g =>
        doc.select(col("doc_id"), lit(g).as("gen"),
          when(col("doc_id") % (g + 1) === 0,
            concat(col("text"), lit("#"), lit(g.toString)))
            .otherwise(col("text")).as("content"))
      }.reduce(_.unionByName(_))
      graft.crawl.VersionHistory.intervals(fetches, "doc_id", "gen", "content")
    }),

    // ---- incrementally-maintained HLL: the q97 sketch kept live by a
    // stream (complete-mode max-aggregation — registers merge by max, so
    // the final table must be REGISTER-IDENTICAL to the batch sketch;
    // the oracle is q97's verbatim). This is the sketch+stream
    // composition a live cardinality dashboard runs: fixed 2^p-row state
    // forever, regardless of feed volume ----
    "q100_stream_hll" -> ((s, d) => {
      val real = t(s, d, "events").select("event_id", "user_id")
      val dir = java.nio.file.Files.createTempDirectory("graft_q100")
      real.repartition(4).write.mode("overwrite").parquet(dir.toString)
      val stream = s.readStream
        .schema("event_id BIGINT, user_id BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      runReplay(s, s"graft_q100_${System.nanoTime()}",
        graft.ml.Sketches.hllRegisters(stream, col("user_id"), p = 9),
        mode = "complete")
    }),

    // ---- WARC segment source (archived-crawl ingestion): the corpus is
    // serialized to standard WARC/1.0 response records (one segment per
    // task) and re-read with the distributed Content-Length-driven
    // parser; the oracle holds the pre-serialization truth, so a header
    // or length slip mismatches md5/length verbatim ----
    "q101_warc_roundtrip" -> ((s, _) => {
      val pages = graft.corpus.Corpus.generate(s, 500).repartition(6)
      import s.implicits._
      val truth = pages.map(p => (p.url, graft.sources.Warc.warcDate(p.warc_ts)))
        .toDF("url", "warc_date")
        .join(pages.toDF().select(col("url"),
          length(col("html")).cast("long").as("content_len"),
          md5(col("html")).as("content_md5")), Seq("url"))
      dumpAux(truth, "q101_truth")
      val dir = java.nio.file.Files.createTempDirectory("graft_q101").toString
      graft.sources.Warc.writeSegments(pages, dir)
      graft.sources.Warc.read(s, dir)
        .select(col("url"), col("warc_date"),
          length(col("html")).cast("long").as("content_len"),
          md5(col("html")).as("content_md5"))
    }),

    // ---- robots.txt admission filter over the crawl frontier: per-host
    // Allow/Disallow globs through the GOLDEN reference matcher
    // (CrawlUrl.ruleToRegex), first matching rule in file order wins,
    // rules broadcast to the frontier; the oracle replays the join +
    // arg_min(first-match) over the dumped compiled regexes ----
    "q102_robots_filter" -> ((s, _) => {
      import s.implicits._
      val urlRe = "^http://([^/]+)(/.*)$"
      val frontier = graft.corpus.Corpus.generate(s, 500).toDF().select(
          regexp_extract(col("url"), urlRe, 1).as("host"),
          regexp_extract(col("url"), urlRe, 2).as("path"))
        .distinct()
      dumpAux(frontier, "q102_frontier")
      val hosts = frontier.select("host").distinct().as[String].collect().sorted
      val ruleRows = hosts.toIndexedSeq.flatMap(h => Seq(
        (h, 0, "allow", "/p/*2"),     // ...ending in 2: allowed even if /p/1*
        (h, 1, "disallow", "/p/1*"),  // block the /p/1 prefix otherwise
        (h, 2, "disallow", "/p/7")))  // exact-path block (anchored: not /p/70)
      dumpAux(ruleRows.map { case (h, i, t, r) =>
          (h, i, t, graft.crawl.CrawlUrl.ruleToRegex(r)) }
        .toDF("host", "idx", "rtype", "regex"), "q102_rules")
      graft.crawl.RobotsFilter.allowed(
        frontier, ruleRows.toDF("host", "idx", "rtype", "rule"))
    }),

    // ---- largest-remainder crawl-budget apportionment: a 300-fetch
    // budget split across hosts proportional to pending counts, summing
    // to the budget BY CONSTRUCTION (all-integer math the oracle replays
    // bit-for-bit; remainder ties break host-asc) ----
    "q103_crawl_budget" -> ((s, _) => {
      val urlRe = "^http://([^/]+)(/.*)$"
      val counts = graft.corpus.Corpus.generate(s, 500).toDF()
        .select(regexp_extract(col("url"), urlRe, 1).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n"))
      dumpAux(counts, "q103_counts")
      graft.crawl.Apportion.largestRemainder(counts, "host", "n", budget = 300L)
    }),

    // ---- document-partitioned sharded serving: 8 shards generate
    // per-term candidates locally (top-200 in posting order), a merge
    // re-ranks the union, global df/max-tf stats broadcast — results
    // must be rank-identical to the UNSHARDED scorer, so the oracle is
    // q30's own unsharded SQL over the same triples ----
    "q104_sharded_search" -> ((s, _) => {
      val n = 2000
      dumpTriplesOnce(s, n)
      rankRounded(s, graft.query.ShardedSearch.topK(
        s, makeTriples(s, n), n, "prince officer soldier", shards = 8))
    }),

    // ---- host-collapse SERP diversification: at most 2 results per
    // host survive, re-ranked by the serving tier's original rank ----
    "q105_diversify" -> ((s, _) => {
      val base = searchQuery(s, 2000, "galaxy engine search")
      dumpAux(base, "q105_base")
      graft.query.Diversify.hostCollapse(base, perHost = 2, k = 20)
    }),

    // ---- static index pruning: per-term impact prefix (tf desc, url
    // asc — the scorer's own order) at frac=0.25, stats FROZEN from the
    // full corpus; the oracle recomputes prune + score from the dumped
    // triples ----
    "q106_pruned_search" -> ((s, _) => {
      val n = 2000
      dumpTriplesOnce(s, n)
      rankRounded(s, graft.index.StaticPrune.topK(
        s, makeTriples(s, n), n, "compression encoding decoder", frac = 0.25))
    }),

    // ---- host-level PageRank: the link graph collapsed to its host
    // projection (reference normalizer + extractor, self-loops dropped,
    // per-host outlink union), then the reference iteration algebra for
    // a fixed 10 rounds — the oracle unrolls the same 10 iterations
    // over the dumped host graph ----
    "q107_host_rank" -> ((s, _) => {
      import s.implicits._
      val state0 = graft.rank.HostRank.init(s, graft.corpus.Corpus.generate(s, 500))
      dumpAux(state0.map(_.url).toDF("host"), "q107_nodes")
      dumpAux(state0.flatMap(st => st.links.map(l => (st.url, l)))
        .toDF("src", "dst"), "q107_edges")
      val (ranks, _) = graft.rank.HostRank.run(s, state0,
        threshold = -1.0, percent = 2.0, maxIter = 10)
      ranks.map(r => (r.url, math.rint(r.rank * 1e6) / 1e6)).toDF("host", "rank")
    }),

    // ---- query-reformulation mining: consecutive same-user queries
    // within 60 s and prev ≠ next, counted, count ≥ 2, top-30 — one
    // user-keyed lag window over a deterministic synthetic query log ----
    "q108_reformulations" -> ((s, _) => {
      val pool = Seq("galaxy", "galaxy engine", "running", "running shoes",
        "prince", "prince officer", "distributed storage", "storage system",
        "compression", "compression decoder")
      val poolCol = array(pool.map(lit): _*)
      val log = s.range(40 * 12).select(
          (col("id") / 12).cast("long").as("user"),
          pmod(col("id"), lit(12)).as("i"))
        .select(col("user"),
          // strictly increasing per user (jitter < the 50 s stride);
          // gaps land on both sides of the 60 s reformulation window
          to_timestamp(from_unixtime(lit(1700000000L) + col("user") * 100000L +
            col("i") * 50L + pmod(xxhash64(col("user"), col("i")), lit(40)))).as("ts"),
          element_at(poolCol,
            (pmod(xxhash64(col("user"), col("i") * 7), lit(pool.size)) + 1)
              .cast("int")).as("query"))
      dumpAux(log, "q108_log")
      graft.query.Reformulations.mine(log, gapSec = 60L, minCount = 2L, k = 30)
    }),

    // ---- token-budget corpus selection: best-quality prefix within a
    // 5000-token budget — two-phase distributed prefix sum (range
    // partitions → one sum row per partition → broadcast offsets), the
    // oracle is one SQL cumsum window ----
    "q109_budget_select" -> ((s, d) => {
      val doc = t(s, d, "documents")
      graft.ml.CorpusSelect.selectByBudget(doc, "doc_id",
        graft.ml.TextAnalysis.qualityScore(col("text")),
        graft.ml.TextAnalysis.wsTokenCount(col("text")), budget = 5000L)
    }),

    // ---- per-source boilerplate strip: a 10-token chrome header is
    // injected per source (nav/footer template), then lines on ≥ half a
    // source's docs are stripped FROM THAT SOURCE ONLY ----
    "q110_boilerplate" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val withChrome = doc.select(col("doc_id"), col("source"),
        concat_ws(" ",
          lit("home nav menu about contact terms privacy copyright banner"),
          col("source"), col("text")).as("text"))
      graft.ml.Boilerplate.stripSourceBoilerplate(
        withChrome, "doc_id", "source", "text")
    }),

    // ---- crawl-trap detection: (host, digit-collapsed path template)
    // buckets where many urls share one shape and essentially all are
    // distinct — the synthetic calendar trap ranks first, the corpus's
    // own /p/N shape follows ----
    "q111_trap_detect" -> ((s, _) => {
      val crawled = graft.corpus.Corpus.generate(s, 2000).toDF().select(col("url"))
      val trap = s.range(400).select(concat(lit("http://trap.example/cal/"),
        (col("id") / 20).cast("long"), lit("/day/"),
        pmod(col("id"), lit(20))).as("url"))
      val urls = crawled.union(trap)
      dumpAux(urls, "q111_urls")
      graft.crawl.TrapDetect.urlTemplates(urls, "url", minCount = 100L)
    }),

    // ---- WARC CDX capture index + ranged point fetch: the distributed
    // index records each record's (segment, offset, length); five urls
    // are then point-read at their extents with NO segment scan and must
    // match the pre-serialization truth byte-for-byte (md5/length) ----
    "q112_warc_cdx" -> ((s, _) => {
      import s.implicits._
      val pages = graft.corpus.Corpus.generate(s, 400).repartition(5)
      val pick = Seq(3L, 57L, 123L, 250L, 399L)
        .map(i => graft.corpus.Corpus.urlOf(i, 16))
      val truth = pages.toDF().filter(col("url").isin(pick: _*))
        .select(col("url"), length(col("html")).cast("long").as("content_len"),
          md5(col("html")).as("content_md5"))
      dumpAux(truth, "q112_truth")
      val dir = java.nio.file.Files.createTempDirectory("graft_q112").toString
      val nSegs = graft.sources.Warc.writeSegments(pages, dir)
      // loud precondition: a transient empty write must fail HERE with a
      // count, not as an opaque glob miss inside the binaryFile source
      require(nSegs > 0, s"WARC write produced no segments in $dir")
      val hits = graft.sources.Warc.cdxIndex(s, dir)
        .filter(col("url").isin(pick: _*)).collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      val fetched = hits.toIndexedSeq.map { r =>
        val (u, _, html) = graft.sources.Warc.fetchAt(
          dir, r.getString(2), r.getLong(3), r.getLong(4))
        md.reset()
        (u, html.length.toLong,
          md.digest(html).map(b => f"$b%02x").mkString)
      }
      s.createDataset(fetched).toDF("url", "content_len", "content_md5")
    }),

    // ---- index-integrity audit (fsck for the inverted index): every
    // block decoded and checked (delta monotonicity, count, block-max),
    // dictionary reconciled against the blocks; the oracle recomputes
    // df/max-tf independently from the tokenizer-truth triples, so drift
    // in EITHER artifact mismatches ----
    "q113_index_audit" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      graft.index.IndexAudit.audit(builtFor(s, n), k = 100)
    }),

    // ---- PMI query expansion: each surface term brings its top
    // co-occurring term (exact-rational ranking, n_pairs >= 5) into the
    // query at factor 0.5; the oracle recomputes the picks AND the
    // expanded scoring end-to-end in SQL ----
    "q114_expanded_search" -> ((s, _) => {
      val n = 1000
      dumpTriplesOnce(s, n)
      rankRounded(s, graft.query.ExpandedSearch.topK(
        s, makeTriples(s, n), n, "galaxy station"))
    }),

    // ---- sitemap protocol source: per-partition urlset files written
    // task-per-file, read back with the distributed tag walk; is_new
    // marks urls outside the already-crawled set (replayed in SQL from
    // the url's own page number) ----
    "q115_sitemap" -> ((s, _) => {
      import s.implicits._
      val pages = graft.corpus.Corpus.generate(s, 500).repartition(4)
      val entries = pages.map(p =>
        (p.url, graft.sources.Warc.warcDate(p.warc_ts).substring(0, 10)))
      val truth = entries.toDF("url", "lastmod")
      dumpAux(truth, "q115_truth")
      val dir = java.nio.file.Files.createTempDirectory("graft_q115").toString
      val nFiles = graft.sources.Sitemap.write(entries, dir)
      require(nFiles > 0, s"sitemap write produced no files in $dir")
      graft.sources.Sitemap.read(s, dir)
        .withColumn("is_new",
          pmod(regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long"),
            lit(3)) === 0)
    }),

    // ---- WARM-START (incremental) PageRank: 10 cold iterations on the
    // crawl's graph, then a deterministic recrawl delta adds edges and 5
    // warm iterations run seeded from the previous ranks — the oracle
    // unrolls the full 15-CTE chain (10 cold on edges1, 5 warm on
    // edges2) from scratch, so the warm algebra is checked end-to-end ----
    "q116_pagerank_warmstart" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      dumpAux(nodes, "q116_nodes")
      dumpAux(edges, "q116_edges1")
      // persisted ACROSS the cold run and the state2 derivation (the
      // converge loop adopts a caller cache and won't evict it): one init
      // materialization instead of two
      val state0 = graft.rank.PageRank.init(s, graft.corpus.Corpus.generate(s, 500))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (v1, _) = graft.rank.PageRank.run(s, state0,
        threshold = -1.0, percent = 2.0, maxIter = 10)
      val minUrl = nodes.agg(min("url")).head().getString(0)
      val state2 = state0.map { st =>
        if (st.url.endsWith("1") && st.url != minUrl && !st.links.contains(minUrl))
          st.copy(links = st.links :+ minUrl)
        else st
      }
      dumpAux(state2.flatMap(st => st.links.map(l => (st.url, l)))
        .toDF("src", "dst"), "q116_edges2")
      val (v2, iters) = graft.rank.PageRank.warmStart(s, state2, v1,
        threshold = -1.0, percent = 2.0, maxIter = 5)
      require(iters == 5, s"warm start must run the fixed 5 rounds, ran $iters")
      state0.unpersist() // both converge loops have materialized their rounds
      v2.map(r => (r.url, math.rint(r.rank * 1e6) / 1e6)).toDF("url", "rank")
    }),

    // ---- offline relevance eval: the batch replay joined with a
    // deterministic judgment set → per-query NDCG@10 + MRR, ordered
    // position-discounted folds on both sides ----
    "q117_relevance_eval" -> ((s, _) => {
      val n = 1000
      val raw = graft.query.QueryOps.batchReferenceTopK(s, builtFor(s, n),
          wandQueries, n)
        .select(col("query_id"), col("rank"), col("url"))
      dumpAux(raw, "q117_run")
      val labels = raw.select(col("query_id"), col("url")).distinct()
        .withColumn("rel",
          pmod(xxhash64(col("query_id"), col("url")), lit(4)).cast("int"))
      dumpAux(labels, "q117_labels")
      graft.query.Eval.ndcgMrr(raw, labels, k = 10, relThreshold = 2)
    }),

    // ---- co-citation related pages (coupling's dual — pages the same
    // sources cite together), via the transposed-graph reuse of the one
    // coupling implementation ----
    "q118_cocitation" -> ((s, _) => {
      import s.implicits._
      val (_, edges) = linkGraphFor(s, 500)
      dumpAux(edges, "q118_edges")
      graft.rank.RelatedPages.coCitation(edges, maxOutdegree = 25, k = 20)
    }),

    // ---- certificate-carrying pruned serving: results from the pruned
    // index plus the drop-bound exactness certificate (score ≥ B ⇒ no
    // un-retrieved doc can outrank it) — the safety rail that makes
    // static pruning deployable ----
    "q119_certified_pruned" -> ((s, _) => {
      import s.implicits._
      val n = 2000
      dumpTriplesOnce(s, n)
      val rows = graft.index.StaticPrune.certifiedTopK(
        s, makeTriples(s, n), n, "running", frac = 0.25).collect()
      s.createDataset(rows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getString(0), math.rint(r.getDouble(1) * 1e6) / 1e6,
          r.getBoolean(2))
      }).toDF("rank", "url", "score", "certified")
    }),

    // ---- redirect-chain resolution by pointer doubling: 16 hops in 4
    // self-join rounds; chains end on terminals, the crafted cycle's
    // members report is_terminal = false; the oracle follows the same 16
    // hops with a recursive CTE ----
    "q120_redirects" -> ((s, _) => {
      import s.implicits._
      val pairs = (0L until 499L)
        .filter(i => i % 7 == 1 || i % 7 == 2)
        .map(i => (graft.corpus.Corpus.urlOf(i, 16),
          graft.corpus.Corpus.urlOf(i + 1, 16))) ++
        Seq(("http://cyc.example/a", "http://cyc.example/b"),
          ("http://cyc.example/b", "http://cyc.example/c"),
          ("http://cyc.example/c", "http://cyc.example/a"))
      val rmap = pairs.toDF("src", "dst")
      dumpAux(rmap, "q120_redirects")
      graft.crawl.Redirects.resolve(rmap, rounds = 4)
    }),

    // ---- multimodal training-pair assembly: captions equi-joined to
    // media assets (bytes never shuffle — fingerprints do), caption
    // quality gate, exact content-pair dedup keeping the smallest id ----
    "q121_pair_assembly" -> ((s, d) => {
      val assets = graft.ml.Multimodal.generateAssets(s, 300)
      dumpAux(assets.toDF().select(col("asset_id"), col("kind"),
        md5(col("media")).as("media_md5")), "q121_assets")
      val captions = t(s, d, "documents")
        .select(col("doc_id").as("id"), col("text"))
      graft.ml.PairAssembly.assemble(captions, assets, minQuality = 0.5)
    }),

    // ---- size-balanced training-shard assignment: global (tokens desc,
    // id) rank via the two-phase range-partition prefix pattern, shard =
    // rank mod S — the data-loader split that keeps data-parallel workers
    // fed evenly ----
    "q122_shard_balance" -> ((s, d) => {
      val doc = t(s, d, "documents")
      graft.ml.ShardBalance.assign(doc, "doc_id",
        graft.ml.TextAnalysis.wsTokenCount(col("text")), shards = 8)
    }),

    // ---- host facet counts over a batch SERP: the "results by site"
    // rollup a search UI renders; the oracle replays the aggregation +
    // facet ranking over the dumped serving output ----
    "q123_facets" -> ((s, _) => {
      val base = Seq("galaxy engine search", "prince officer soldier",
        "compression encoding decoder").zipWithIndex
        .map { case (q, i) => searchQuery(s, 2000, q).withColumn("qid", lit(i)) }
        .reduce(_ unionByName _)
      dumpAux(base, "q123_serp")
      graft.query.Facets.hostFacets(base, k = 5)
        .select("qid", "host", "n_results", "best_rank", "facet_rank")
    }),

    // ---- deterministic per-epoch corpus shuffle: pos = rank of
    // md5("epoch:id") within the epoch — reproducible on any engine at
    // any parallelism, so the oracle recomputes the identical
    // permutation from documents alone ----
    "q124_epoch_shuffle" -> ((s, d) => {
      val doc = t(s, d, "documents").select("doc_id")
      graft.ml.EpochShuffle.permute(doc, "doc_id", epochs = 3)
    }),

    // ---- term-proximity ranking: min token distance between the two
    // query terms, per doc containing both — positions grouped to one
    // row per (doc, term) BEFORE the join, linear tagged-merge fold ----
    "q125_proximity" -> ((s, d) => {
      val pos = graft.query.PhraseSearch.positions(
        t(s, d, "documents"), "doc_id", "text")
      graft.query.Proximity.topK(pos, "scan", "filter", k = 20)
    }),

    // ---- position-bias click model: attractiveness = clicks divided by
    // examination mass (dyadic bias → bit-identical at any agg order);
    // the log is deterministic integer math, dumped for the oracle ----
    "q126_click_model" -> ((s, _) => {
      import s.implicits._
      val log = (for { q <- 0 until 20; u <- 0 until 10; ses <- 0 until 25 }
        yield {
          val pos = 1 + ((q + u + ses) % 10)
          val clicked = if ((q * 7919 + u * 104729 + ses * 1299709) % 1000
            < 900 / pos) 1 else 0
          (q, s"http://site$u.test/page", pos, clicked)
        }).toDF("qid", "url", "position", "clicked")
      dumpAux(log, "q126_log")
      graft.query.ClickModel.attractiveness(log, minImpressions = 5L)
    }),

    // ---- BM25F field-weighted ranking: documents split into a
    // 12-token head field + body, head matches boosted 2× with its own
    // length normalization; the oracle replays the full BM25F algebra
    // over the dumped field postings ----
    "q127_bm25f" -> ((s, d) => {
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        t => t =!= lit(""))
      val fieldTf = t(s, d, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), explode(array(
          struct(lit("head").as("field"), slice(col("toks"), 1, 12).as("ts")),
          struct(lit("body").as("field"),
            slice(col("toks"), 13, 1 << 20).as("ts")))).as("f"))
        .select(col("doc_id"), col("f.field").as("field"),
          explode(col("f.ts")).as("term"))
        .groupBy("doc_id", "field", "term")
        .agg(count(lit(1)).cast("int").as("tf"))
      dumpAux(fieldTf, "q127_fieldtf")
      graft.query.Bm25f.topK(fieldTf, Seq("scan", "filter", "hash"),
        Map("head" -> (2.0, 0.5), "body" -> (1.0, 0.75)), k1 = 1.2, k = 20)
    }),

    // ---- incremental dedup admission: docs <400 are the frozen corpus,
    // the batch is docs >=400 plus re-crawled copies of docs <20 under
    // new ids (+1000); bands dumped, the oracle replays bucket-join +
    // shingle-Jaccard verify + verdict precedence ----
    "q128_incremental_dedup" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val existing = doc.filter(col("doc_id") < 400).select("doc_id", "text")
      val incoming = doc.filter(col("doc_id") >= 400).select("doc_id", "text")
        .unionByName(doc.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      val bOld = graft.ml.Dedup.minhashBands(existing, "doc_id", "text")
      val bNew = graft.ml.Dedup.minhashBands(incoming, "doc_id", "text")
      dumpAux(bOld, "q128_bands_old")
      dumpAux(bNew, "q128_bands_new")
      // verdicts ride the BATCH frame (one row per incoming row): the
      // oracle's final select is FROM inc, and at sf0.1 the fixture's
      // +1000 re-crawl ids collide with real ids, so the old
      // distinct-ids output under-emitted 20 duplicate rows there
      graft.ml.Dedup.incrementalVerdicts(existing.unionByName(incoming),
        bOld, bNew, "doc_id", "text", threshold = 0.8,
        incomingIds = Some(incoming.select(col("doc_id"))))
    }),

    // ---- HLL sketch rollup: per-day register tables merged to one
    // global table by register-wise max — LOSSLESS by the sketch
    // property, so the oracle recomputes registers from all raw events
    // directly and must match verbatim ----
    "q129_hll_merge" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
      val daily = graft.ml.Sketches.hllRegistersBy(
        ev, Seq("day"), col("user_id"), p = 8)
      graft.ml.Sketches.hllMerge(daily, Nil)
    }),

    // ---- BM25F over REAL web fields: anchor terms harvested from OTHER
    // documents' links (rank pages for words they never contain) + the
    // tag-stripped body; same Bm25f algebra, same generated oracle ----
    "q130_bm25f_anchor" -> ((s, _) => {
      dumpPagesOnce(s, 500L)
      val pages = s.read.parquet(s"${auxDir}/q36_pages")
        .select(col("url"), col("html"))
      val linkPat = "<a href=\"([^\"]*)\"[^>]*>([^<]*)</a>"
      def toks(c: org.apache.spark.sql.Column) =
        filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))
      val anchorTf = pages.select(col("url").as("src"),
          regexp_extract_all(col("html"), lit(linkPat), lit(1)).as("hrefs"),
          regexp_extract_all(col("html"), lit(linkPat), lit(2)).as("texts"))
        .select(col("src"), explode(arrays_zip(col("hrefs"), col("texts"))).as("z"))
        .select(col("src"), substring_index(col("z.hrefs"), "#", 1).as("doc_id"),
          col("z.texts").as("anchor"))
        .filter(col("doc_id") =!= col("src"))
        .select(col("doc_id"), explode(toks(col("anchor"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("int").as("tf"))
        .select(col("doc_id"), lit("anchor").as("field"), col("term"), col("tf"))
      val bodyTf = pages
        .select(col("url").as("doc_id"),
          explode(toks(regexp_replace(col("html"), "<[^>]*>", " "))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("int").as("tf"))
        .select(col("doc_id"), lit("body").as("field"), col("term"), col("tf"))
      val fieldTf = anchorTf.unionByName(bodyTf)
      dumpAux(fieldTf, "q130_fieldtf")
      graft.query.Bm25f.topK(fieldTf, Seq("rel", "voyage"),
        Map("anchor" -> (3.0, 0.1), "body" -> (1.0, 0.75)), k1 = 1.2, k = 20)
    }),

    // ---- tracking-param URL canonicalization: fragment + utm_/click-id
    // params dropped, survivors sorted, min-url keeper per group — pure
    // string/array built-ins, replayed verbatim by the oracle ----
    "q131_canonical_url" -> ((s, _) => {
      import s.implicits._
      val urls = (0 until 200).flatMap { i =>
        val base = s"http://host${i % 8}.example/p/${i / 2}"
        Seq(
          s"$base?id=$i",
          s"$base?utm_source=s$i&id=$i",
          s"$base?id=$i&utm_campaign=c${i % 5}#sec$i",
          s"$base?b=${i % 3}&id=$i",
          s"$base?id=$i&b=${i % 3}",
          if (i % 4 == 0) s"$base?fbclid=f$i" else s"$base?ref=tw&page=$i")
      }.toDF("url")
      dumpAux(urls, "q131_urls")
      graft.crawl.CanonicalUrl.withKeeper(urls, "url")
    }),

    // ---- rendezvous shard placement: 256 shards × 10 workers × 3
    // replicas by portable-hash HRW — any engine recomputes the
    // identical placement from ids alone ----
    "q132_shard_placement" -> ((s, _) => {
      import s.implicits._
      val shards = (0 until 256).map(i => s"shard-$i").toDF("sid")
      graft.query.ShardPlacement.assign(shards, "sid",
        (0 until 10).map(i => s"worker-$i"), replicas = 3)
    }),

    // ---- file-level min/max DATA SKIPPING (Iceberg manifest-stats
    // analog): lineitem range-clustered into 16 files, per-file bounds
    // recorded as a snapshot sidecar, then a 2k-orderkey range probe that
    // must PROVE most files disjoint and scan only the survivors; the
    // residual filter keeps the result stats-independent, so the oracle is
    // the plain full-scan predicate ----
    "q133_data_skipping" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val dir = java.nio.file.Files.createTempDirectory("graft_q133").toString
      graft.tables.TableIO.write(
        li.repartitionByRange(16, col("l_orderkey")), dir, "clustered")
      graft.tables.DataSkipping.analyze(s, dir, Seq("l_orderkey"))
      val total = graft.tables.TableIO.manifest(s, dir).count(_.path.nonEmpty)
      val kept = graft.tables.DataSkipping
        .survivingFiles(s, dir, "l_orderkey", "1000", "2999")
      require(kept.size < total,
        s"file skipping must prune the clustered layout: kept ${kept.size} of $total")
      graft.tables.DataSkipping.readBetween(s, dir, "l_orderkey", "1000", "2999")
    }),

    // ---- reciprocal rank fusion of two REAL scorers' rankings (the
    // reference tf-idf replay and exhaustive BM25) — rank-only combination,
    // per-(query, url) sum folded in system order so the oracle replays it
    // bit-identically from the dumped runs ----
    "q134_rank_fusion" -> ((s, _) => {
      val n = 1000
      val built = builtFor(s, n)
      val ref = graft.query.QueryOps.batchReferenceTopK(s, built, batchQueries, n)
        .where(col("rank") <= 20)
        .select(col("query_id"), col("url"), col("rank"), lit("ref").as("system"))
      val bm = graft.query.QueryOps.batchBm25TopK(s, built, batchQueries, 20)
        .select(col("query_id"), col("url"), col("rank"), lit("bm25").as("system"))
      val runs = ref.unionByName(bm)
      dumpAux(runs, "q134_runs")
      graft.query.Fusion.rrf(runs, k0 = 60, k = 20)
    }),

    // ---- TrustRank + relative spam mass over the corpus link graph:
    // trust walks from 3 whitelisted seeds, the global baseline is the
    // same damped walk with the uniform teleport (both via Personalized),
    // mass = (pr - trust)/pr — the link-spam demotion signal. Division on
    // UNROUNDED doubles both sides; outputs rounded like q88/q32 ----
    "q135_trustrank" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      val trusted = nodes.filter(col("url").endsWith("/p/0") ||
        col("url").endsWith("/p/100") || col("url").endsWith("/p/200"))
      dumpAux(nodes, "q135_nodes")
      dumpAux(edges, "q135_edges")
      dumpAux(trusted, "q135_trusted")
      graft.rank.TrustRank.spamMass(s, nodes, edges, trusted, iters = 10)
        .select(col("url"),
          (bround(col("pr") * 1e8, 0) / 1e8).as("pr"),
          (bround(col("trust") * 1e8, 0) / 1e8).as("trust"),
          (bround(col("spam_mass") * 1e6, 0) / 1e6).as("spam_mass"))
    }),

    // ---- query-log BURST detection (trending queries): hourly counts vs
    // the trailing 6-hour sum, integer-exact predicate (cnt·W > factor·
    // prev_sum), RANGE window over the hour index so silent hours dilute
    // the baseline. Log: 8 queries × 72 h of hash-driven base traffic plus
    // an injected 2-hour spike on "galaxy" ----
    "q136_trending" -> ((s, _) => {
      import s.implicits._
      val pool = Seq("galaxy", "prince", "engine", "running",
        "officer", "storage", "soldier", "compression")
      val poolCol = array(pool.map(lit): _*)
      val base = s.range(8L * 72)
        .select(element_at(poolCol, ((col("id") / 72) + 1).cast("int")).as("query"),
          pmod(col("id"), lit(72)).as("h"))
        .withColumn("reps", pmod(xxhash64(col("query"), col("h")), lit(3)).cast("int"))
        .where(col("reps") > 0)
        .select(col("query"), col("h"),
          explode(sequence(lit(1), col("reps"))).as("r"))
      val burst = s.range(60).select(lit("galaxy").as("query"),
        (lit(60) + (col("id") / 30).cast("long")).as("h"),
        (pmod(col("id"), lit(30)) + 100).cast("int").as("r"))
      val log = base.unionByName(burst).select(col("query"),
        to_timestamp(from_unixtime(lit(1699999200L) + col("h") * 3600L +
          pmod(xxhash64(col("query"), col("h"), col("r")), lit(3600)))).as("ts"))
      dumpAux(log, "q136_log")
      graft.query.Trending.bursts(log, windowHours = 6, factor = 3, minCount = 5)
    }),

    // ---- doc-id reordering compression accounting: total varbyte cost of
    // every term's posting-gap sequence under url-sorted vs hash-random id
    // assignment — integer-exact, and the proof behind the index's
    // url-ordered dense ids (clustered ids => smaller gaps => fewer bytes)
    "q137_id_reorder" -> ((s, _) => {
      dumpTriplesOnce(s, 1000)
      graft.index.IdReorder.report(s, makeTriples(s, 1000), parts = searchParts(s))
    }),

    // ---- team-draft interleaving of the same two real rankers q134
    // fuses: the online-eval merge users actually see, with the
    // deterministic h60 coin so the oracle (a recursive CTE drafting one
    // pick per step) replays the exact list ----
    "q138_interleave" -> ((s, _) => {
      val n = 1000
      val built = builtFor(s, n)
      val ref = graft.query.QueryOps.batchReferenceTopK(s, built, batchQueries, n)
        .where(col("rank") <= 20)
        .select(col("query_id"), col("url"), col("rank"), lit("ref").as("system"))
      val bm = graft.query.QueryOps.batchBm25TopK(s, built, batchQueries, 20)
        .select(col("query_id"), col("url"), col("rank"), lit("bm25").as("system"))
      val runs = ref.unionByName(bm)
      dumpAux(runs, "q138_runs")
      graft.query.Interleave.teamDraft(runs, "ref", "bm25", k = 20)
    }),

    // ---- SALSA hubs/authorities over the corpus link graph: HITS'
    // structure with degree-normalized (random-walk) spreading — the
    // TKC-resistant variant production follow/recommendation systems use.
    // Mass-conserving updates, so no per-round normalization to replay ----
    "q139_salsa" -> ((s, _) => {
      import s.implicits._
      val (nodes, edges) = linkGraphFor(s, 500)
      dumpAux(nodes, "q139_nodes")
      dumpAux(edges, "q139_edges")
      graft.rank.Salsa.run(s, nodes, edges, iters = 8)
        .select(col("url"),
          (bround(col("hub") * 1e8) / 1e8).as("hub"),
          (bround(col("auth") * 1e8) / 1e8).as("auth"))
    }),

    // ---- CORI resource selection: rank the 16 host shards per query by
    // shard-level statistics only (df, cw, cf — posting data untouched),
    // term-ordered belief folds so the oracle replays the doubles ----
    "q140_shard_select" -> ((s, _) => {
      dumpTriplesOnce(s, 1000)
      val qs = batchQueries.zipWithIndex.map { case (q, i) =>
        (i, q.split(" ").toSeq)
      }
      graft.query.ShardSelect.cori(s, makeTriples(s, 1000),
        substring_index(substring_index(col("url"), "//", -1), "/", 1),
        qs, topR = 5)
    }),

    // q141: Dirichlet-smoothed query-likelihood retrieval — the third
    // scoring family (LM) next to the reference scorer and BM25; zero-tf
    // query terms contribute the background mass, so the oracle's grid is
    // candidates × terms, same as the engine's
    "q141_lm_dirichlet" -> ((s, _) => {
      val n = 2000
      dumpTriplesOnce(s, n)
      graft.query.LmRetrieval.dirichletTopK(s, makeTriples(s, n),
        graft.query.LmRetrieval.queryTerms("distributed storage system"),
        mu = 2000.0, k = 20)
    }),

    // q142: Rocchio pseudo-relevance feedback — BM25 top-10 as the
    // feedback set, top-10 expansion terms by (β·idf)·Σtf/N, weighted
    // rescore; the oracle replays the whole two-phase pipeline in SQL
    "q142_rocchio_prf" -> ((s, _) => {
      val n = 2000
      dumpTriplesOnce(s, n)
      graft.query.Rocchio.prfTopK(s, makeTriples(s, n),
        graft.query.LmRetrieval.queryTerms("prince officer soldier"),
        alpha = 1.0, beta = 0.75, nFeedback = 10, nExpand = 10, k = 20)._1
    }),

    // q143: query clarity (performance prediction) — KL(feedback LM ‖
    // collection LM) over the Dirichlet-QL top-10 of each batch query
    "q143_clarity" -> ((s, _) => {
      val n = 2000
      dumpTriplesOnce(s, n)
      val qs = batchQueries.zipWithIndex.map { case (q, i) =>
        (i, graft.query.LmRetrieval.queryTerms(q))
      }
      graft.query.Clarity.batch(s, makeTriples(s, n), qs,
        mu = 2000.0, nFeedback = 10)
    }),

    // q144: Zipf + Heaps law fits — log-log OLS over top-100 term ranks
    // and 8 doc-prefix vocabulary checkpoints
    "q144_corpus_laws" -> ((s, _) => {
      val n = 2000
      dumpTriplesOnce(s, n)
      graft.ml.CorpusLaws.fits(s, makeTriples(s, n),
        zipfTopR = 100, heapsCp = 8)
    }),

    // q145: post-dedup survivor map — q47's cluster formation composed
    // with longest-version-wins canonical selection; singletons map to
    // themselves; integers only, hash-exact oracle
    "q145_canonical_doc" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val pairs = doc.select(col("doc_id")).filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .union(doc.select(col("doc_id")).filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("a"), (col("doc_id") + 23).as("b")))
      dumpAux(pairs, "q145_pairs")
      val comps = graft.ml.Dedup
        .connectedComponents(s.read.parquet(s"${auxDir}/q145_pairs"))
        .select(col("id").as("doc_id"), col("comp").as("component"))
      graft.ml.CanonicalDoc.survivorMap(
        doc.select(col("doc_id"), length(col("text")).as("len")), comps)
    }),

    // q146: MMR diversification — per-query greedy re-rank over the
    // brute-cosine top-25 (q25's scorer); rel + pairwise sims are
    // computed once, dumped raw, and the greedy consumes the dumped
    // doubles verbatim on both sides
    "q146_mmr_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cand = (0 to 2).map { qi =>
        val q = emb.filter(col("vec_id") === qi)
          .select(col("v")).head().getSeq[Double](0)
        emb.filter(col("vec_id") > 2)
          .select(lit(qi).as("query_id"), col("vec_id").as("doc_id"),
            graft.ml.Dedup.cosineCol(col("v"), typedLit(q)).as("rel"), col("v"))
          .filter(!isnan(col("rel")))
          .orderBy(col("rel").desc, col("doc_id").asc).limit(25)
      }.reduce(_ unionByName _)
      dumpAux(cand.select(col("query_id"), col("doc_id"), col("rel")), "q146_rel")
      val x = cand.select(col("query_id"), col("doc_id").as("a"), col("v").as("va"))
      val y = cand.select(col("query_id"), col("doc_id").as("b"), col("v").as("vb"))
      dumpAux(x.join(y, Seq("query_id")).where(col("a") < col("b"))
        .select(col("query_id"), col("a"), col("b"),
          graft.ml.Dedup.cosineCol(col("va"), col("vb")).as("sim")), "q146_sims")
      graft.query.Mmr.rerank(s,
        s.read.parquet(s"${auxDir}/q146_rel"),
        s.read.parquet(s"${auxDir}/q146_sims"), lambda = 0.7, k = 10)
    }),

    // q147: politeness-constrained fetch scheduling — per-host crawl-delay
    // spacing, priority order within host, host-affine fetcher assignment;
    // priorities and delays derive from the portable hash so the oracle
    // recomputes the whole schedule from the dumped frontier
    "q147_politeness" -> ((s, _) => {
      import s.implicits._
      val pages = graft.corpus.Corpus.generate(s, 500).map(_.url).toDF("url")
      dumpAux(pages.select(col("url"),
        substring_index(substring_index(col("url"), "//", -1), "/", 1)
          .as("host")), "q147_frontier")
      val fr = s.read.parquet(s"${auxDir}/q147_frontier")
        .withColumn("priority", graft.ml.Sketches.h60(col("url")) % 100)
      val delays = fr.select(col("host")).distinct()
        .withColumn("delay_ms",
          lit(250L) * (graft.ml.Sketches.h60(col("host")) % 4 + 1))
      graft.crawl.Politeness.schedule(fr, delays,
        fetchers = 8, defaultDelayMs = 1000L)
    }),

    // q148: A/B readout over the event log — portable-hash arm assignment
    // by user, click-through success, user-cohort segments, two-proportion
    // z-test with the 1.96 two-sided flag
    "q148_ab_test" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.ml.AbTest.zTest(ev, col("user_id"), pmod(col("user_id"), lit(4L)),
        col("event_type") === "click")
    }),

    // q149: paired bootstrap significance test — per-query ndcg deltas
    // between the BM25 and reference scorers (q117's label scheme), 200
    // hash-deterministic resamples, pinned order-statistic 95% interval;
    // the bootstrap machinery replays in SQL from the dumped deltas
    "q149_bootstrap_eval" -> ((s, _) => {
      val n = 1000
      val built = builtFor(s, n)
      val runA = graft.query.QueryOps.batchReferenceTopK(s, built, wandQueries, n)
        .select(col("query_id"), col("rank"), col("url"))
      val runB = graft.query.QueryOps.batchBm25TopK(s, built, wandQueries, 10)
        .select(col("query_id"), col("rank"), col("url"))
      val labels = runA.unionByName(runB)
        .select(col("query_id"), col("url")).distinct()
        .withColumn("rel",
          pmod(xxhash64(col("query_id"), col("url")), lit(4)).cast("int"))
      val a = graft.query.Eval.ndcgMrr(runA, labels, k = 10, relThreshold = 2)
        .select(col("query_id"), col("ndcg").as("ndcg_a"))
      val b = graft.query.Eval.ndcgMrr(runB, labels, k = 10, relThreshold = 2)
        .select(col("query_id"), col("ndcg").as("ndcg_b"))
      dumpAux(a.join(b, Seq("query_id"))
        .select(col("query_id"), (col("ndcg_b") - col("ndcg_a")).as("delta")),
        "q149_deltas")
      graft.query.BootstrapEval.pairedTest(s,
        s.read.parquet(s"${auxDir}/q149_deltas"), replicas = 200)
    }),

    // q150: uncooperative federated search — CORI-selected top-5 host
    // shards, shard-LOCAL BM25 statistics (no global stats job exists in
    // this model), belief-weighted merge
    "q150_federated_search" -> ((s, _) => {
      dumpTriplesOnce(s, 1000)
      val qs = batchQueries.zipWithIndex.map { case (q, i) =>
        (i, q.split(" ").toSeq)
      }
      graft.query.FederatedSearch.topK(s, makeTriples(s, 1000),
        substring_index(substring_index(col("url"), "//", -1), "/", 1),
        qs, topR = 5, k = 10)
    }),

    // q151: ordered-sequence conversion funnel over the event log —
    // stage k reached at the earliest stage-k event strictly after the
    // stage-(k−1) reach time
    "q151_funnel" -> ((s, d) => {
      graft.operators.Funnel.funnel(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    }),

    // q152: weekly retention cohorts — epoch-week integer math, no
    // timezone extraction anywhere
    "q152_retention" -> ((s, d) => {
      graft.operators.Retention.weekly(t(s, d, "events"), "user_id", "ts")
    }),

    // q153: HLL segment-overlap estimation — two crawl segments compared
    // by register algebra alone (union = elementwise max, intersection by
    // inclusion–exclusion), never a join of the raw sets; exact counts
    // alongside show the estimate's accuracy
    "q153_hll_overlap" -> ((s, d) => {
      import s.implicits._
      val doc = t(s, d, "documents")
      val a = doc.filter(col("doc_id") < 300)
      val b = doc.filter(col("doc_id") >= 200)
      dumpAux(graft.ml.Sketches.hllRegisters(a, col("doc_id"), 8), "q153_reg_a")
      dumpAux(graft.ml.Sketches.hllRegisters(b, col("doc_id"), 8), "q153_reg_b")
      val rA = s.read.parquet(s"${auxDir}/q153_reg_a")
      val rB = s.read.parquet(s"${auxDir}/q153_reg_b")
      val (ea, eb, eu, ei) = graft.ml.Sketches.hllOverlap(rA, rB, 8)
      val exactA = a.count()
      val exactB = b.count()
      val exactI = a.select("doc_id").intersect(b.select("doc_id")).count()
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      Seq((r6(ea), r6(eb), r6(eu), r6(ei), r6(ei / eu), exactA, exactB, exactI))
        .toDF("est_a", "est_b", "est_union", "est_inter", "jaccard_est",
          "exact_a", "exact_b", "exact_inter")
    }),

    // q154: DeepWalk random-walk corpus over the link graph — W=2 walks
    // × L=4 steps per node, successors hash-derandomized over sorted
    // neighbor lists; the oracle re-walks every path recursively
    "q154_graph_walks" -> ((s, _) => {
      import s.implicits._
      val (nodesUrl, edges) = linkGraphFor(s, 500)
      val nodes = nodesUrl.select(col("url").as("node"))
      dumpAux(nodes, "q154_nodes")
      dumpAux(edges, "q154_edges")
      graft.ml.GraphWalks.walks(s,
        s.read.parquet(s"${auxDir}/q154_edges"),
        s.read.parquet(s"${auxDir}/q154_nodes"),
        numWalks = 2, length = 4)
    }),

    // q155: BPE tokenizer training — 5 merge rounds over the corpus
    // vocabulary; the learned merge list is the tokenizer
    "q155_bpe_merges" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val toks = doc.select(explode(filter(
        split(lower(col("text")), "\\s+"), t => t =!= lit(""))).as("tok"))
      val words = toks.groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("freq"))
        .select(concat_ws(" ",
          filter(split(col("tok"), ""), c => c =!= lit(""))).as("w"),
          col("freq"))
      dumpAux(words, "q155_words")
      graft.ml.Bpe.trainMerges(s,
        s.read.parquet(s"${auxDir}/q155_words"), rounds = 5)
    }),

    // q156: the tokenizer's APPLY side — encode the vocabulary with the
    // learned merges and report the top-20 tokens of the merged
    // vocabulary; train + encode closes the tokenizer lifecycle
    "q156_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val doc = t(s, d, "documents")
      val toks = doc.select(explode(filter(
        split(lower(col("text")), "\\s+"), t => t =!= lit(""))).as("tok"))
      val words = toks.groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("freq"))
        .select(concat_ws(" ",
          filter(split(col("tok"), ""), c => c =!= lit(""))).as("w"),
          col("freq"))
      dumpAux(words, "q156_words")
      val w0 = s.read.parquet(s"${auxDir}/q156_words")
      val merges = graft.ml.Bpe.trainMerges(s, w0, rounds = 5)
        .select(col("merge_idx"), col("l"), col("r"))
        .as[(Int, String, String)].collect().sortBy(_._1)
        .map(m => (m._2, m._3)).toSeq
      val enc = graft.ml.Bpe.applyMerges(w0, merges)
      val top = enc.select(explode(split(col("w"), " ")).as("tok"), col("freq"))
        .groupBy(col("tok")).agg(sum(col("freq")).cast("long").as("total"))
        .orderBy(col("total").desc, col("tok").asc).limit(20)
        .as[(String, Long)].collect().toIndexedSeq
      s.createDataset(top.zipWithIndex.map { case ((tok, total), i) =>
        (i + 1, tok, total)
      }).toDF("rank", "tok", "total")
    })
  )

  /** Fixed doc ids for the q36 point-lookup (urls → reference row-key hash
    * constants embedded in the oracle SQL). */
  private val detailDocIds = Seq(3L, 57L, 123L, 250L, 499L)

  /** The n-doc corpus keyed by the reference row-key hash — the pages table
    * both doc-detail tiers (q36 parquet, q44 direct sidecar) serve from. */
  private def keyedPages(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    graft.corpus.Corpus.generate(s, n)
      .map(p => (graft.util.RefHasher.hash(p.url), p.url, new String(p.html, "UTF-8")))
      .toDF("key", "url", "html")
  }

  /** Key-sorted q36_pages oracle table, dumped once per JVM (q36 + q44
    * share it). */
  private val dumpedPages = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def dumpPagesOnce(s: SparkSession, n: Long): Unit = {
    if (!dumpedPages.add(s"${auxDir}/q36_pages")) return
    dumpAuxSorted(keyedPages(s, n), "q36_pages", "key")
  }

  /** The q39 query-log batch (includes a duplicate-term query exercising
    * the put-overwrite expansion path). */
  private val batchQueries = Seq(
    "galaxy engine search", "prince officer soldier", "running running galaxy")

  /** q86's replay set: the standard batch plus a single-term query (pure
    * max-score pruning — θ comes from one term's own seed block) and a
    * wide 4-term query (weakest per-term ubMin — the hard pruning case). */
  private val wandQueries = batchQueries ++ Seq(
    "galaxy", "prince galaxy running officer")

  /** DuckDB SQL for the batch replay: same scorer algebra as
    * [[refSearchSql]] with a (qid, term, factor, qidx) expansion table and
    * per-qid ranking. */
  private def batchSearchSql(n: Int, triplesName: String): String = {
    val vals = batchQueries.zipWithIndex.flatMap { case (q, qi) =>
      graft.query.RefScore.termWeights(q).zipWithIndex.map { case ((t, f), j) =>
        s"($qi, '$t', ${f}e0, $j)"
      }
    }.mkString(", ")
    s"""WITH t(qid, term, factor, qidx) AS (VALUES $vals),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       dict AS (SELECT term, count(*) AS df, max(tf) AS max_tf FROM tr GROUP BY term),
       posts AS (
         SELECT tr.term, tr.url, tr.tf, d.df, d.max_tf,
                row_number() OVER (PARTITION BY tr.term
                                   ORDER BY tr.tf DESC, tr.url ASC) AS rnk
         FROM tr JOIN dict d USING (term)
         WHERE tr.term IN (SELECT DISTINCT term FROM t)),
       scored AS (
         SELECT t.qid, p.url, t.qidx,
                (0.4e0 + 0.6e0 * p.tf / p.max_tf) * (ln(($n // p.df)) / ln(500)) * t.factor AS s
         FROM posts p JOIN t USING (term)
         WHERE p.rnk <= 200 AND ($n // p.df) > 1),
       comb AS (
         SELECT qid, url, list_reduce(list(s ORDER BY qidx), (a, b) -> a + b) AS score
         FROM scored GROUP BY qid, url),
       ranked AS (
         SELECT qid AS query_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, url ASC) AS rank,
                url, round(score, 6) AS score
         FROM comb)
       SELECT query_id, rank, url, score FROM ranked WHERE rank <= 200"""
  }

  /** DuckDB SQL for the BATCH BM25 replay: [[bm25Sql]]'s exact per-posting
    * algebra with a (qid, term) expansion table, summed as an ORDERED fold
    * in term-asc order — the engine's pinned accumulation sequence — and
    * ranked per query. */
  private def batchBm25Sql(k: Int, triplesName: String,
                           queries: Seq[String] = batchQueries): String = {
    val vals = queries.zipWithIndex.flatMap { case (q, qi) =>
      graft.query.Searcher.expansionTerms(q).toSet.toSeq.sorted
        .map(t => s"($qi, '$t')")
    }.mkString(", ")
    s"""WITH t(qid, term) AS (VALUES $vals),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       docs AS (SELECT url, sum(tf) AS dl FROM tr GROUP BY url),
       stats AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl, count(*) AS nd FROM docs),
       dict AS (SELECT term, count(*) AS df FROM tr GROUP BY term),
       contrib AS (
         SELECT t.qid, tr.url, tr.term,
                ln((s.nd - d.df + 0.5e0) / (d.df + 0.5e0) + 1.0e0)
                  * (tr.tf * (1.2e0 + 1)) / (tr.tf + 1.2e0 * (1 - 0.75e0 + 0.75e0 * dc.dl / s.avgdl)) AS c
         FROM tr
         JOIN dict d USING (term)
         JOIN docs dc USING (url)
         JOIN t ON t.term = tr.term
         CROSS JOIN stats s),
       scored AS (
         SELECT qid, url, list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS score
         FROM contrib GROUP BY qid, url),
       ranked AS (
         SELECT qid AS query_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, url ASC) AS rank,
                url, round_even(score * 1e6, 0) / 1e6 AS score
         FROM scored)
       SELECT query_id, rank, url, score FROM ranked WHERE rank <= $k"""
  }

  /** DuckDB SQL for the CONJUNCTIVE batch BM25: surface terms only (the
    * engine's AND-mode term rule, generated from the same parse), identical
    * per-posting algebra and ordered fold, plus a matched-term-count
    * equality against the query's required count. A required term absent
    * from the corpus means no doc reaches the count — the same no-rows
    * outcome the engine's up-front dictionary check produces. */
  private def conjunctiveBm25Sql(k: Int, triplesName: String): String = {
    val vals = batchQueries.zipWithIndex.flatMap { case (q, qi) =>
      graft.text.Text.parseQuery(q).distinct.sorted.map(t => s"($qi, '$t')")
    }.mkString(", ")
    s"""WITH t(qid, term) AS (VALUES $vals),
       req AS (SELECT qid, count(*) AS n_req FROM t GROUP BY qid),
       tr AS (SELECT * FROM read_parquet('${auxDir}/$triplesName/*.parquet')),
       docs AS (SELECT url, sum(tf) AS dl FROM tr GROUP BY url),
       stats AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl, count(*) AS nd FROM docs),
       dict AS (SELECT term, count(*) AS df FROM tr GROUP BY term),
       contrib AS (
         SELECT t.qid, tr.url, tr.term,
                ln((s.nd - d.df + 0.5e0) / (d.df + 0.5e0) + 1.0e0)
                  * (tr.tf * (1.2e0 + 1)) / (tr.tf + 1.2e0 * (1 - 0.75e0 + 0.75e0 * dc.dl / s.avgdl)) AS c
         FROM tr
         JOIN dict d USING (term)
         JOIN docs dc USING (url)
         JOIN t ON t.term = tr.term
         CROSS JOIN stats s),
       scored AS (
         SELECT qid, url, list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS score,
                count(*) AS nt
         FROM contrib GROUP BY qid, url),
       conj AS (SELECT s.qid, s.url, s.score
                FROM scored s JOIN req USING (qid) WHERE s.nt = req.n_req),
       ranked AS (
         SELECT qid AS query_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, url ASC) AS rank,
                url, round_even(score * 1e6, 0) / 1e6 AS score
         FROM conj)
       SELECT query_id, rank, url, score FROM ranked WHERE rank <= $k"""
  }

  /** DuckDB SQL for the doc-detail lookup: same key constants, title
    * extraction via the reference's regex cascade (title tag suffices — the
    * corpus always emits one; the h1…h6 fallback and the RefHasher itself
    * are golden-tested against the compiled reference in TextSpec /
    * RefHasher goldens). */
  private def docDetailSql(n: Long): String = {
    val keys = detailDocIds
      .map(i => "'" + graft.util.RefHasher.hash(graft.corpus.Corpus.urlOf(i, 16)) + "'")
      .mkString(", ")
    s"""WITH p AS (SELECT url, html FROM read_parquet('${auxDir}/q36_pages/*.parquet')
                   WHERE key IN ($keys)),
       x AS (SELECT url,
                    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                      regexp_extract(html, '<title(\\s+[^>]*?)?>(.*?)</title>', 2),
                      '<.*?>', ' ', 'g'),
                      '[\\f\\x08\\t\\r\\n.,:;!?''’"()-]', ' ', 'g'),
                      '\\\\', ' ', 'g'),
                      '[[:cntrl:]]', ' ', 'g'),
                      '\\s+', ' ', 'g')) AS t
             FROM p)
       SELECT url, url AS title,
              CASE WHEN t IS NULL OR t = '' THEN 'No Information Available' ELSE t END AS abstract
       FROM x"""
  }

  def oracleSql: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey < 100",
    "q02_filter" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'click' AND value > 50.0",
    "q03_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
         round(SUM(l_quantity), 4) AS sum_qty,
         round(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
         round(AVG(l_discount), 6) AS avg_disc,
         count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q04_agg_global" ->
      """SELECT count(*) AS cnt, round(SUM(l_quantity), 4) AS sum_qty,
         round(MIN(l_extendedprice), 4) AS min_price,
         round(MAX(l_extendedprice), 4) AS max_price FROM lineitem""",
    "q05_join_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(SUM(o_totalprice), 4) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q06_join_broadcast" ->
      """SELECT p_brand, round(SUM(l_quantity), 4) AS sum_qty, count(*) AS cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""",
    "q07_semi_join" ->
      """SELECT c_nationkey, count(*) AS cnt FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_nationkey""",
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 300000.0)""",
    "q09_outer_join" ->
      """SELECT n_nationkey, n_name, count(s_suppkey) AS n_supp
         FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
         GROUP BY n_nationkey, n_name""",
    "q10_cogroup" ->
      """WITH c AS (SELECT c_nationkey AS nationkey,
                    string_agg(c_name, ',' ORDER BY c_name) AS customers
                    FROM customer GROUP BY c_nationkey),
              s AS (SELECT s_nationkey AS nationkey,
                    string_agg(s_name, ',' ORDER BY s_name) AS suppliers
                    FROM supplier GROUP BY s_nationkey)
         SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
                COALESCE(customers, '') AS customers,
                COALESCE(suppliers, '') AS suppliers
         FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""",
    "q11_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q12_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION SELECT s_nationkey AS nationkey FROM supplier""",
    "q13_except" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 350000.0
         EXCEPT SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000.0""",
    "q14_intersect" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT DISTINCT s_nationkey AS nationkey FROM supplier""",
    "q15_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q16_window" ->
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
           FROM customer) WHERE rn = 1""",
    "q17_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS cnt, round(SUM(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q18_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs,
         min(doc_id) AS keep_doc_id FROM documents GROUP BY 1""",
    "q19_token_counts" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\s]')) AS bpeish_tokens
         FROM documents""",
    "q20_quality" ->
      """WITH m AS (
           SELECT doc_id,
             len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|in|is|was|for|on|that|with|as|it)\b')) AS stopwords,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text)
             END AS praw,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
           FROM documents)
         SELECT doc_id, stopwords, round(praw, 4) AS punct_ratio,
           round((
             (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN ntok = 0 THEN 0.0
                   WHEN stopwords * 1.0 / ntok > 0.05 THEN 1.0
                   ELSE (stopwords * 1.0 / ntok) * 20 END) +
             (CASE WHEN praw < 0.2 THEN 1.0 ELSE 0.0 END)
           ) / 3.0, 4) AS quality
         FROM m""",
    "q21_fingerprint" ->
      """SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_hash
         FROM documents""",
    "q25_ann_brute" ->
      """SELECT e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
         FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id > 0
         ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
                  e.vec_id ASC
         LIMIT 10""",

    // ---- dedup/text oracles: PortableHash (md5-prefix + affine mixing)
    // makes the full minhash/simhash pipelines SQL-expressible ----
    "q22_minhash_bands" ->
      s"""WITH tok AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                       ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                           for i in generate_series(1, len(toks) - 2)])
                  END AS shs
           FROM tok),
         base AS (
           SELECT doc_id,
                  ('0x' || substr(md5(unnest(shs)), 1, 15))::BIGINT % 2147483647 AS h
           FROM sh),
         sig AS (
           SELECT doc_id, i,
                  min((((i+1) * 2654435761 % 2147483647) * h
                       + ((i+1) * 1779033703 % 2147483647)) % 2147483647) AS v
           FROM base CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
           GROUP BY doc_id, i),
         bandsig AS (
           SELECT doc_id, i // 4 AS band,
                  string_agg(v::VARCHAR, ':' ORDER BY i) AS sigstr
           FROM sig GROUP BY doc_id, i // 4),
         bh AS (
           SELECT doc_id, band,
                  ('0x' || substr(md5(sigstr), 1, 15))::BIGINT AS band_hash
           FROM bandsig)
         SELECT band, count(DISTINCT band_hash) AS n_buckets, count(*) AS n_rows
         FROM bh GROUP BY band""",

    "q23_simhash" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                     x -> x <> '')) AS tok
           FROM documents),
         th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
         votes AS (
           SELECT doc_id, j,
                  sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
           GROUP BY doc_id, j),
         fp AS (
           SELECT doc_id,
                  sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS f
           FROM votes GROUP BY doc_id)
         SELECT d.doc_id, coalesce(f.f, 0)::BIGINT AS simhash
         FROM documents d LEFT JOIN fp f ON d.doc_id = f.doc_id""",

    "q24_jaccard_pairs" ->
      """WITH tok AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> x <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
                  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                       ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                           for i in generate_series(1, len(toks) - 2)])
                  END AS shs
           FROM tok),
         cand AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents WHERE doc_id < 50)
         SELECT c.id1, c.id2,
                round(CASE WHEN len(list_distinct(list_concat(a.shs, b.shs))) = 0 THEN 0.0
                      ELSE len(list_intersect(a.shs, b.shs)) * 1.0
                           / len(list_distinct(list_concat(a.shs, b.shs))) END, 4) AS jaccard
         FROM cand c
         JOIN sh a ON a.doc_id = c.id1
         JOIN sh b ON b.doc_id = c.id2""",

    "q28_langid" ->
      """WITH tok AS (
           SELECT doc_id, source,
                  list_filter(string_split_regex(lower(text), '[^\p{L}]+'),
                              x -> x <> '') AS toks
           FROM documents),
         scores AS (
           SELECT doc_id, source, l.lang,
                  len(list_filter(toks, x -> list_contains(l.sw, x))) AS score
           FROM tok CROSS JOIN (VALUES
             ('en', ['the','and','of','to','in','is','was','for','that','with','it','on','as']),
             ('de', ['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','von']),
             ('fr', ['le','la','les','et','est','une','dans','pour','que','qui','des','du']),
             ('es', ['el','la','los','las','es','una','para','que','con','por','del','en']),
             ('it', ['il','lo','di','che','non','un','una','per','sono','come','anche','più']),
             ('pt', ['o','os','as','um','uma','não','com','do','da','em','são','mais']),
             ('nl', ['de','het','een','van','dat','op','te','zijn','voor','niet','maar','ook']),
             ('sv', ['och','att','det','som','på','är','av','den','till','inte','har','om'])) AS l(lang, sw)),
         best AS (
           SELECT doc_id, source, lang, score,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, lang DESC) AS rn
           FROM scores),
         lid AS (
           SELECT doc_id, source,
                  CASE WHEN score = 0 THEN 'und' ELSE lang END AS lang_id
           FROM best WHERE rn = 1)
         SELECT lang_id, source, count(*) AS n FROM lid GROUP BY lang_id, source""",

    "q34_sample" ->
      """SELECT count(*) AS n_sampled, round(avg(l_quantity), 4) AS avg_qty
         FROM lineitem
         WHERE ('0x' || substr(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR), 1, 15))::BIGINT % 100 = 0""",

    // ---- aux-dump oracles: read_parquet over deterministic inputs the
    // query dumped, recompute the result independently in SQL ----
    "q26_ann_ivf" ->
      s"""SELECT a.vec_id,
          round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
          FROM read_parquet('${auxDir}/q26_ivf/*/*.parquet', hive_partitioning = true) a
          JOIN embeddings e ON e.vec_id = a.vec_id
          JOIN read_parquet('${auxDir}/q26_probe/*.parquet') p
            ON a.centroid::INTEGER = p.centroid
          CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC,
                   a.vec_id ASC
          LIMIT 10""",

    "q27_emb_dup_pairs" ->
      s"""WITH b AS (SELECT * FROM read_parquet('${auxDir}/q27_buckets/*.parquet')),
          sizes AS (SELECT "table", bucket FROM b GROUP BY "table", bucket
                    HAVING count(*) <= 10000),
          capped AS (SELECT b.* FROM b JOIN sizes USING ("table", bucket)),
          pairs AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
                    FROM capped a JOIN capped c USING ("table", bucket)
                    WHERE a.vec_id < c.vec_id)
          SELECT p.id1, p.id2,
                 round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 4) AS cosine
          FROM pairs p
          JOIN embeddings e1 ON e1.vec_id = p.id1
          JOIN embeddings e2 ON e2.vec_id = p.id2
          WHERE list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) >= 0.25e0""",

    "q29_media_features" ->
      s"""WITH a AS (
            SELECT asset_id, kind, octet_length(media) AS nb, hex(media) AS hx
            FROM read_parquet('${auxDir}/q29_assets/*.parquet')),
          f AS (
            SELECT asset_id, kind, nb,
                   (list_sum([('0x' || substr(hx, 2*i + 1, 2))::BIGINT / 255.0e0
                              for i in generate_series(16, nb - 1) if (i - 16) % 8 = 0]))::REAL AS f0
            FROM a)
          SELECT kind, count(*) AS n, sum(nb)::BIGINT AS total_bytes,
                 round(sum(f0::DOUBLE), 2) AS f0_sum
          FROM f GROUP BY kind""",

    "q30_search_reference" -> refSearchSql("galaxy engine search", 2000, triplesName(2000), withRank = true),
    "q31_search_bm25" -> bm25Sql("distributed storage system", 20, triplesName(2000)),
    "q32_pagerank" -> pagerankSql(15),
    "q33_dictionary" ->
      s"""SELECT term, count(*) AS df, max(tf) AS max_tf
          FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')
          GROUP BY term ORDER BY df DESC, term ASC LIMIT 100""",
    "q35_search_dataset" -> refSearchSql("prince officer soldier", 1000, triplesName(1000), withRank = false),
    "q36_doc_detail" -> docDetailSql(500L),
    "q44_doc_detail_direct" -> docDetailSql(500L),

    // q45: pure-SQL recompute of the media features from the closed-form
    // generator formulas (MediaCodec.pixel / wavSample / imgDims /
    // wavParams) — NO aux table: both sides derive everything from the
    // asset id, but the Spark side must get there by decoding REAL
    // PNG/BMP/WAV bytes. All-integer arithmetic → exact hash compare.
    "q45_media_decode" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 299)) AS id),
         i0 AS (SELECT id, 8 + id % 17 AS w, 8 + (id // 17) % 13 AS h
                FROM ids WHERE id % 3 <> 0),
         i1 AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM i0),
         i2 AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM i1),
         i3 AS (SELECT *, unnest(generate_series(0, 2)) AS c FROM i2),
         img AS (
           SELECT id AS asset_id,
                  CASE WHEN id % 3 = 1 THEN 'png' ELSE 'bmp' END AS format,
                  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                  0 AS sample_rate, CAST(w * h AS BIGINT) AS n_units,
                  CAST(sum((id * 31 + x * 7 + y * 13 + c * 101) % 256) AS BIGINT) AS checksum
           FROM i3 GROUP BY id, w, h),
         w0 AS (SELECT id, 8000 + (id % 4) * 4000 AS sr, 200 + (id % 5) * 50 AS n
                FROM ids WHERE id % 3 = 0),
         w1 AS (SELECT *, unnest(generate_series(0, n - 1)) AS i FROM w0),
         wav AS (
           SELECT id AS asset_id, 'wav' AS format, 0 AS width, 0 AS height,
                  CAST(sr AS INTEGER) AS sample_rate, CAST(n AS BIGINT) AS n_units,
                  CAST(sum((id * 73 + i * 37) % 4096 - 2048) AS BIGINT) AS checksum
           FROM w1 GROUP BY id, sr, n)
         SELECT * FROM img UNION ALL SELECT * FROM wav""",

    // q53: the q45 generator formulas recomputed per CONTENT id (asset_id
    // % 100), then the same content-address grouping + min-id keep in SQL
    "q53_media_dedup" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 299)) AS id),
         m AS (SELECT id AS asset_id, id % 100 AS cid FROM ids),
         cids AS (SELECT DISTINCT cid FROM m),
         i0 AS (SELECT cid, 8 + cid % 17 AS w, 8 + (cid // 17) % 13 AS h
                FROM cids WHERE cid % 3 <> 0),
         i1 AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM i0),
         i2 AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM i1),
         i3 AS (SELECT *, unnest(generate_series(0, 2)) AS c FROM i2),
         cimg AS (
           SELECT cid,
                  CASE WHEN cid % 3 = 1 THEN 'png' ELSE 'bmp' END AS format,
                  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                  0 AS sample_rate, CAST(w * h AS BIGINT) AS n_units,
                  CAST(sum((cid * 31 + x * 7 + y * 13 + c * 101) % 256) AS BIGINT) AS checksum
           FROM i3 GROUP BY cid, w, h),
         w0 AS (SELECT cid, 8000 + (cid % 4) * 4000 AS sr, 200 + (cid % 5) * 50 AS n
                FROM cids WHERE cid % 3 = 0),
         w1 AS (SELECT *, unnest(generate_series(0, n - 1)) AS i FROM w0),
         cwav AS (
           SELECT cid, 'wav' AS format, 0 AS width, 0 AS height,
                  CAST(sr AS INTEGER) AS sample_rate, CAST(n AS BIGINT) AS n_units,
                  CAST(sum((cid * 73 + i * 37) % 4096 - 2048) AS BIGINT) AS checksum
           FROM w1 GROUP BY cid, sr, n),
         content AS (SELECT * FROM cimg UNION ALL SELECT * FROM cwav),
         joined AS (SELECT m.asset_id, c.* FROM m JOIN content c USING (cid)),
         keep AS (SELECT min(asset_id) AS asset_id
                  FROM joined
                  GROUP BY width, height, sample_rate, n_units, checksum)
         SELECT j.asset_id, j.format, j.n_units, j.checksum
         FROM joined j JOIN keep USING (asset_id)""",

    // q47: recursive-CTE reachability over the dumped pair graph — each
    // node's component is its minimum reachable id, exactly what the
    // distributed min-label propagation converges to
    "q47_dedup_components" ->
      s"""WITH RECURSIVE p AS (
           SELECT a, b FROM read_parquet('${auxDir}/q47_pairs/*.parquet')),
         e AS (SELECT a AS x, b AS y FROM p UNION SELECT b, a FROM p),
         n AS (SELECT DISTINCT x AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM n
           UNION
           SELECT e.x, reach.r FROM e JOIN reach ON e.y = reach.id
         )
         SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         FROM reach GROUP BY id""",

    // q48: the literal global window cumsum the distributed two-phase
    // prefix sum must equal exactly
    "q48_seq_packing" ->
      """WITH tc AS (
           SELECT doc_id,
                  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
                  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
           FROM tc)
         SELECT doc_id, n_tokens,
                CAST(before // 1024 AS BIGINT) AS pack_id,
                CAST(before % 1024 AS BIGINT) AS pack_offset
         FROM c""",

    // q49: per-language quality ranking on the SAME rounded score q20 pins
    "q49_quality_stratified" ->
      """WITH m AS (
           SELECT doc_id,
             len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|in|is|was|for|on|that|with|as|it)\b')) AS stopwords,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text)
             END AS praw,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
           FROM documents),
         q AS (
           SELECT doc_id, round((
             (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN ntok = 0 THEN 0.0
                   WHEN stopwords * 1.0 / ntok > 0.05 THEN 1.0
                   ELSE (stopwords * 1.0 / ntok) * 20 END) +
             (CASE WHEN praw < 0.2 THEN 1.0 ELSE 0.0 END)
           ) / 3.0, 4) AS quality
           FROM m),
         j AS (
           SELECT q.doc_id, d.lang, q.quality,
                  row_number() OVER (PARTITION BY d.lang
                    ORDER BY q.quality DESC, q.doc_id ASC) AS rnk
           FROM q JOIN documents d USING (doc_id))
         SELECT doc_id, lang, quality, CAST(rnk AS INTEGER) AS rank
         FROM j WHERE rnk <= 25""",

    // q50: pure-SQL recompute of the per-frame pixel sums from the
    // closed-form generator formulas (MediaCodec.vidPixel / vidParams) —
    // the Spark side must get there by decoding REAL animated-GIF bytes
    "q50_video_frames" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 119)) AS id),
         v0 AS (SELECT id, 2 + id % 4 AS frames,
                       8 + (id * 3) % 16 AS w, 8 + (id * 5) % 10 AS h
                FROM ids),
         v1 AS (SELECT *, unnest(generate_series(0, frames - 1)) AS f FROM v0),
         v2 AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM v1),
         v3 AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM v2)
         SELECT id AS asset_id, CAST(f AS INTEGER) AS frame,
                CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(sum((id * 7 + f * 11 + x * 3 + y * 5) % 256) AS BIGINT) AS checksum
         FROM v3 GROUP BY id, f, w, h""",

    // q51: the time-traveled snapshot must equal corpus A's tokenizer
    // triples verbatim — the segment table's rows minus the bucket column
    "q51_time_travel" ->
      s"""SELECT url, term, tf
         FROM read_parquet('${auxDir}/triples_500/*.parquet')""",

    // q54: the RETAINED superseded snapshot (v2) is corpus A — same
    // contract as q51; the expiry effects themselves are require()d in-query
    "q54_snapshot_expiry" ->
      s"""SELECT url, term, tf
         FROM read_parquet('${auxDir}/triples_500/*.parquet')""",

    // q46 = the batch sessionization oracle VERBATIM: the production
    // EventTimeTimeout sessionizer (watermark flush, no per-user
    // sentinels) must land on exactly the batch result
    "q46_sessionize_watermark" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  floor(epoch(ts))::BIGINT AS sec,
                  lag(floor(epoch(ts))::BIGINT) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
           FROM events),
         m AS (
           SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 86400
                          THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (
           SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess_no
           FROM m)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, sess_no""",

    "q39_batch_queries" -> batchSearchSql(1000, triplesName(1000)),
    "q52_batch_bm25" -> batchBm25Sql(10, triplesName(1000)),
    // q86: the pruned path must equal the exhaustive BM25 verbatim — same
    // oracle algebra as q52 over the wider replay set
    "q86_bm25_blockmax" -> batchBm25Sql(10, triplesName(1000), wandQueries),

    // q87: identical gram extraction (q62's recipe), corpus-frequency ≥ 2,
    // and the same equal-length gaps-and-islands merge
    "q87_dup_spans" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         g AS (SELECT doc_id, unnest(generate_series(1, len(l) - 9)) AS i, l
               FROM d WHERE len(l) >= 10),
         grams AS (SELECT doc_id, i - 1 AS pos,
                          array_to_string(l[i : i + 9], ' ') AS gram FROM g),
         dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
         hit AS (SELECT doc_id, pos FROM grams JOIN dup USING (gram)),
         flagged AS (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                     THEN 1 ELSE 0 END AS new_island
                FROM hit),
         isl AS (SELECT doc_id, pos,
                sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS island
                FROM flagged)
         SELECT doc_id, min(pos)::INTEGER AS span_start,
                (max(pos) + 9)::INTEGER AS span_end,
                (max(pos) + 9 - min(pos) + 1)::INTEGER AS dup_tokens
         FROM isl GROUP BY doc_id, island""",

    // q88: unrolled fixed-iteration PPR CTEs (q32's recipe + a teleport
    // vector); literals/op-order mirror the engine expression exactly
    "q88_personalized_pagerank" -> personalizedPagerankSql(10),

    // q89: identical gram/df-cap/containment algebra over the documents
    "q89_containment" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         g AS (SELECT doc_id, unnest(generate_series(1, len(l) - 7)) AS i, l
               FROM d WHERE len(l) >= 8),
         grams AS (SELECT DISTINCT doc_id,
                          array_to_string(l[i : i + 7], ' ') AS gram FROM g),
         df AS (SELECT gram, count(*) AS c FROM grams GROUP BY gram),
         kept AS (SELECT g.doc_id, g.gram FROM grams g JOIN df USING (gram)
                  WHERE df.c <= 50),
         sizes AS (SELECT doc_id, count(*) AS nk FROM kept GROUP BY doc_id),
         shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS shared_grams
                    FROM kept a JOIN kept b USING (gram)
                    WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         c AS (SELECT s.doc_a, s.doc_b, s.shared_grams,
                      na.nk AS n_a, nb.nk AS n_b,
                      s.shared_grams::DOUBLE / least(na.nk, nb.nk) AS cont
               FROM shared s JOIN sizes na ON na.doc_id = s.doc_a
                             JOIN sizes nb ON nb.doc_id = s.doc_b)
         SELECT doc_a, doc_b, shared_grams, n_a, n_b,
                round(cont, 6) AS containment
         FROM c WHERE cont >= 0.5e0""",

    // q90: the streaming interval join must equal the batch join verbatim
    "q90_stream_join" ->
      """WITH v AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts, value
               FROM events WHERE event_type = 'click')
         SELECT v.imp_id, c.click_id, v.user_id, v.imp_ts, c.click_ts, c.value
         FROM v JOIN c USING (user_id)
         WHERE c.click_ts >= v.imp_ts
           AND c.click_ts <= v.imp_ts + INTERVAL 3600 SECONDS""",

    // q91: the at-least-once replay's dedup+rollup must equal the plain
    // hourly rollup over the exactly-once table
    "q91_stream_dedup" ->
      """SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt,
         round(SUM(value), 4) AS sum_value
         FROM events GROUP BY 1""",

    // q92: the oriented wedge join must equal brute ordered-triple
    // enumeration over the canonical undirected edges
    "q92_triangles" ->
      s"""WITH und AS (
           SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM read_parquet('${auxDir}/q92_edges/*.parquet')
           WHERE src <> dst),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e2.a = e1.b
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         n AS (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
         SELECT node, count(*) AS triangles FROM n GROUP BY 1""",

    // q93: conditional aggregation is the SQL spelling of the pivot
    "q93_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
           round(sum(value) FILTER (event_type = 'click'), 4) AS click,
           round(sum(value) FILTER (event_type = 'error'), 4) AS error,
           round(sum(value) FILTER (event_type = 'purchase'), 4) AS purchase,
           round(sum(value) FILTER (event_type = 'signup'), 4) AS signup,
           round(sum(value) FILTER (event_type = 'view'), 4) AS view
         FROM events GROUP BY 1""",

    // q94: identical bit-interleave formula, generated for both engines
    "q94_zorder_key" -> {
      val interleave = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT event_id,
                       user_id & 65535 AS x,
                       (floor(epoch(ts))::BIGINT // 3600) & 65535 AS y
                     FROM events)
         SELECT event_id, $interleave AS zkey FROM b"""
    },

    // q95: the committed merge result must equal the changeset algebra
    // replayed in SQL
    "q95_table_merge" ->
      """WITH base AS (SELECT doc_id, lang, length(text)::BIGINT AS len
                       FROM documents),
         ch AS (
           SELECT doc_id, lang, len, 'delete' AS op
           FROM base WHERE doc_id % 7 = 3
           UNION ALL
           SELECT doc_id, lang, -1::BIGINT, 'upsert'
           FROM base WHERE doc_id % 7 = 4
           UNION ALL
           SELECT doc_id + (SELECT max(doc_id) + 1 FROM base), 'new',
                  0::BIGINT, 'upsert'
           FROM base WHERE doc_id % 100 = 0)
         SELECT b.doc_id, b.lang, b.len
         FROM base b WHERE b.doc_id NOT IN (SELECT doc_id FROM ch)
         UNION ALL
         SELECT doc_id, lang, len FROM ch WHERE op = 'upsert'""",

    // q96: the exchange-free bucketed join must equal the plain join
    "q96_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
         round(SUM(l_quantity), 4) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    // q97: every HLL register recomputed from the same md5-based 60-bit
    // hash; rho via a generated bit-test CASE chain (never floating log2)
    "q97_hll_registers" -> {
      val w = 60 - 9
      val rhoCase = (1 to w).map(r =>
        s"WHEN (rem >> ${w - r}) & 1 = 1 THEN $r").mkString(" ")
      s"""WITH h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                     FROM events),
         b AS (SELECT h >> $w AS bucket,
                      h & ((1::BIGINT << $w) - 1) AS rem FROM h),
         r AS (SELECT bucket, CASE $rhoCase ELSE ${w + 1} END AS rho FROM b)
         SELECT bucket, max(rho) AS max_rho FROM r GROUP BY 1"""
    },

    // q98: every Count-Min counter recomputed from the same affine family
    // over the Mersenne prime (coefficients inlined from PortableHash)
    "q98_countmin" -> {
      val rows = (0 until 4).map(i =>
        s"SELECT $i AS hrow, (${graft.ml.PortableHash.aOf(i)} * hp + ${graft.ml.PortableHash.bOf(i)}) % 2147483647 % 256 AS hcol FROM h")
        .mkString(" UNION ALL ")
      s"""WITH h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                       % 2147483647 AS hp FROM events),
         rc AS ($rows)
         SELECT hrow, hcol, count(*) AS cnt FROM rc GROUP BY 1, 2"""
    },

    // q102: first-match-in-file-order decisions replayed over the dumped
    // compiled regexes (glob→regex itself is golden vs the reference)
    "q102_robots_filter" ->
      s"""WITH f AS (SELECT host, path
                     FROM read_parquet('${auxDir}/q102_frontier/*.parquet')),
         r AS (SELECT host, idx, rtype, regex
               FROM read_parquet('${auxDir}/q102_rules/*.parquet')),
         m AS (SELECT f.host, f.path, arg_min(r.rtype, r.idx) AS first
               FROM f JOIN r USING (host)
               WHERE regexp_matches(f.path, r.regex)
               GROUP BY 1, 2)
         SELECT f.host, f.path, coalesce(m.first = 'allow', TRUE) AS allowed
         FROM f LEFT JOIN m USING (host, path)""",

    // q103: Hamilton apportionment replayed in exact integer SQL
    "q103_crawl_budget" ->
      s"""WITH c AS (SELECT host, n
                     FROM read_parquet('${auxDir}/q103_counts/*.parquet')),
         t AS (SELECT sum(n)::BIGINT AS total FROM c),
         b AS (SELECT host, n,
                      (n * 300) // total AS base,
                      (n * 300) % total AS rem
               FROM c CROSS JOIN t),
         l AS (SELECT 300 - sum(base)::BIGINT AS leftover FROM b),
         r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk
               FROM b)
         SELECT host, n, base,
                CASE WHEN rk <= (SELECT leftover FROM l) THEN 1 ELSE 0 END
                  ::BIGINT AS extra,
                base + (CASE WHEN rk <= (SELECT leftover FROM l)
                        THEN 1 ELSE 0 END) AS allocated
         FROM r""",

    // q101: the parsed-back segments must equal the pre-serialization
    // truth verbatim (the roundtrip through real WARC bytes is the test)
    "q101_warc_roundtrip" ->
      s"""SELECT url, warc_date, content_len, content_md5
         FROM read_parquet('${auxDir}/q101_truth/*.parquet')""",

    // q104: sharded candidate-generation + merge must be RANK-IDENTICAL
    // to the unsharded scorer — the oracle is the unsharded reference
    // SQL over the same dumped triples
    "q104_sharded_search" ->
      refSearchSql("prince officer soldier", 2000, triplesName(2000),
        withRank = true),

    // q105: the host collapse replayed over the dumped base ranking
    // (window by host in rank order, ≤2 survive, re-ranked, top-20)
    "q105_diversify" ->
      s"""WITH b AS (SELECT rank, url, score
                     FROM read_parquet('${auxDir}/q105_base/*.parquet')),
         h AS (SELECT *, regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1)
                           AS host FROM b),
         k AS (SELECT *, row_number() OVER (PARTITION BY host
                                            ORDER BY rank) AS hrnk FROM h),
         s AS (SELECT *, row_number() OVER (ORDER BY rank) AS new_rank
               FROM k WHERE hrnk <= 2)
         SELECT new_rank AS rank, url, host, score
         FROM s WHERE new_rank <= 20""",

    // q106: prune + score replayed from the dumped triples (stats frozen
    // pre-prune — see prunedSearchSql)
    "q106_pruned_search" ->
      prunedSearchSql("compression encoding decoder", 2000, 0.25,
        triplesName(2000)),

    // q107: the page-level PageRank algebra unrolled 10 iterations over
    // the dumped HOST graph
    "q107_host_rank" ->
      pagerankSql(10, "q107_nodes", "q107_edges", nodeCol = "host",
        keyAlias = "host"),

    // q109: the prefix rule as ONE cumsum window (quality desc, doc_id)
    // over q20's quality algebra — cumsum is monotone, so "inclusive
    // cumsum <= budget" IS the maximal prefix
    "q109_budget_select" ->
      """WITH m AS (
           SELECT doc_id,
             len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|in|is|was|for|on|that|with|as|it)\b')) AS stopwords,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text)
             END AS praw,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
           FROM documents),
         q AS (SELECT doc_id, ntok::BIGINT AS n_tokens,
           round((
             (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN ntok = 0 THEN 0.0
                   WHEN stopwords * 1.0 / ntok > 0.05 THEN 1.0
                   ELSE (stopwords * 1.0 / ntok) * 20 END) +
             (CASE WHEN praw < 0.2 THEN 1.0 ELSE 0.0 END)
           ) / 3.0, 4) AS quality
           FROM m),
         c AS (SELECT doc_id, quality, n_tokens,
                      sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                          ROWS UNBOUNDED PRECEDING) AS cum
               FROM q)
         SELECT doc_id, quality, n_tokens, cum::BIGINT AS cum_tokens
         FROM c WHERE cum <= 5000""",

    // q110: q55's pseudo-line algebra with the injected chrome header and
    // a PER-SOURCE frequency threshold (>= half the source's docs)
    "q110_boilerplate" ->
      """WITH d0 AS (SELECT doc_id, source,
             'home nav menu about contact terms privacy copyright banner ' ||
               source || ' ' || text AS text
           FROM documents),
         d AS (SELECT doc_id, source,
                      string_split_regex(trim(text), '\s+') AS l FROM d0),
         pos AS (SELECT doc_id, source, unnest(generate_series(1, len(l))) AS i, l
                 FROM d),
         tok AS (SELECT doc_id, source, i, l[i] AS tok FROM pos WHERE l[i] <> ''),
         lines AS (SELECT doc_id, source, (i - 1) // 10 AS line_id,
                          string_agg(tok, ' ' ORDER BY i) AS line
                   FROM tok GROUP BY doc_id, source, (i - 1) // 10),
         totals_src AS (SELECT source, count(DISTINCT doc_id) AS n_docs
                        FROM d0 GROUP BY source),
         chrome AS (SELECT li.source, li.line
                    FROM lines li JOIN totals_src t USING (source)
                    GROUP BY li.source, li.line, t.n_docs
                    HAVING count(DISTINCT li.doc_id) >= t.n_docs * 0.5),
         kept AS (SELECT li.* FROM lines li
                  WHERE NOT EXISTS (SELECT 1 FROM chrome c
                                    WHERE c.source = li.source AND c.line = li.line)),
         per_doc AS (SELECT doc_id,
                            string_agg(line, ' ' ORDER BY line_id) AS clean_text,
                            count(*) AS n_lines_kept
                     FROM kept GROUP BY doc_id),
         totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
         SELECT d0.doc_id,
                coalesce(p.clean_text, '') AS clean_text,
                coalesce(t.n_lines, 0)::BIGINT AS n_lines,
                coalesce(p.n_lines_kept, 0)::BIGINT AS n_lines_kept
         FROM d0
         LEFT JOIN totals t USING (doc_id)
         LEFT JOIN per_doc p USING (doc_id)""",

    // q111: template mining replayed over the dumped url log ('g' flag:
    // DuckDB replaces first match only by default, Spark replaces all)
    "q111_trap_detect" ->
      s"""WITH u AS (SELECT url FROM read_parquet('${auxDir}/q111_urls/*.parquet')),
         p AS (SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)(/.*)?$$', 1) AS host,
                      regexp_replace(coalesce(nullif(
                        regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)(/.*)?$$', 2), ''), '/'),
                        '[0-9]+', 'N', 'g') AS template,
                      url
               FROM u WHERE regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)(/.*)?$$', 1) <> ''),
         g AS (SELECT host, template, count(*)::BIGINT AS n_urls,
                      count(DISTINCT url)::BIGINT AS n_distinct
               FROM p GROUP BY 1, 2)
         SELECT host, template, n_urls, n_distinct FROM g
         WHERE n_urls >= 100 AND n_distinct >= n_urls * 0.99
         ORDER BY n_urls DESC, host ASC, template ASC LIMIT 100""",

    // q112: ranged point reads through the CDX extents must reproduce the
    // pre-serialization truth byte-for-byte
    "q112_warc_cdx" ->
      s"""SELECT url, content_len, content_md5
         FROM read_parquet('${auxDir}/q112_truth/*.parquet')""",

    // q113: the audit's stored stats must equal stats recomputed from the
    // tokenizer-truth triples, and every verdict must be true
    "q113_index_audit" ->
      s"""SELECT term, count(*)::BIGINT AS df, max(tf)::INTEGER AS max_tf,
                TRUE AS all_ok
         FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')
         GROUP BY term ORDER BY df DESC, term ASC LIMIT 100""",

    // q114: picks + expanded scoring recomputed end-to-end in SQL
    "q114_expanded_search" ->
      expandedSearchSql("galaxy station", 1000, 5, 0.5, triplesName(1000)),

    // q115: the parsed-back sitemaps must equal the pre-serialization
    // truth, with the crawled-set flag recomputed from the url itself
    "q115_sitemap" ->
      s"""SELECT url, lastmod,
                (regexp_extract(url, '/p/([0-9]+)$$', 1)::BIGINT % 3 = 0)
                  AS is_new
         FROM read_parquet('${auxDir}/q115_truth/*.parquet')""",

    // q116: the full cold+warm chain unrolled from scratch
    "q116_pagerank_warmstart" -> warmstartSql(10, 5),

    // q117: NDCG@10 + MRR replayed over the dumped run + judgments with
    // the same ordered position-discounted folds
    "q117_relevance_eval" ->
      s"""WITH r AS (SELECT query_id, rank, url
                     FROM read_parquet('${auxDir}/q117_run/*.parquet')
                     WHERE rank <= 10),
         l AS (SELECT query_id, url, rel
               FROM read_parquet('${auxDir}/q117_labels/*.parquet')),
         j AS (SELECT r.query_id, r.rank, coalesce(l.rel, 0) AS rel
               FROM r LEFT JOIN l USING (query_id, url)),
         g AS (SELECT query_id, rank, rel,
                      ((1::BIGINT << rel) - 1)::DOUBLE AS gain FROM j),
         agg AS (SELECT query_id,
                   sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_rel,
                   list_reduce(list_prepend(0e0,
                     list(gain / (ln(rank + 1e0) / ln(2e0)) ORDER BY rank)),
                     (a, b) -> a + b) AS dcg,
                   min(CASE WHEN rel >= 2 THEN rank END) AS first_rel,
                   list(gain ORDER BY gain DESC) AS ig
                 FROM g GROUP BY query_id),
         i AS (SELECT query_id,
                 list_reduce(list_prepend(0e0,
                   [ig[x] / (ln(x + 1e0) / ln(2e0))
                    for x in generate_series(1, len(ig))]),
                   (a, b) -> a + b) AS idcg
               FROM agg)
         SELECT a.query_id, a.n_rel,
                round_even((CASE WHEN i.idcg > 0 THEN a.dcg / i.idcg
                                 ELSE 0e0 END) * 1e6, 0) / 1e6 AS ndcg,
                round_even((CASE WHEN a.first_rel IS NOT NULL
                                 THEN 1e0 / a.first_rel
                                 ELSE 0e0 END) * 1e6, 0) / 1e6 AS mrr
         FROM agg a JOIN i USING (query_id)""",

    // q119: pruned scoring + the drop-bound certificate, raw-score compare
    "q119_certified_pruned" ->
      certifiedSearchSql("running", 2000, 0.25, triplesName(2000)),

    // q120: the same 16 hops followed one at a time by a recursive CTE.
    // dom needs the EXPLICIT DISTINCT: inside WITH RECURSIVE, DuckDB does
    // not deduplicate the two-branch UNION spelling here (observed: seed
    // rows doubled for urls that are both a src and a dst)
    "q120_redirects" ->
      s"""WITH RECURSIVE r AS (SELECT src, dst
                     FROM read_parquet('${auxDir}/q120_redirects/*.parquet')),
         dom AS (SELECT DISTINCT u FROM
                   (SELECT src AS u FROM r UNION ALL SELECT dst AS u FROM r)),
         walk AS (
           SELECT u, u AS cur, 0 AS h FROM dom
           UNION ALL
           SELECT w.u, coalesce(r.dst, w.cur) AS cur, w.h + 1 AS h
           FROM walk w LEFT JOIN r ON w.cur = r.src
           WHERE w.h < 16)
         SELECT u AS src, cur AS resolved,
                cur NOT IN (SELECT src FROM r) AS is_terminal
         FROM walk WHERE h = 16""",

    // q121: join + gate + content-pair dedup replayed over the dumped
    // asset fingerprints and q20's quality algebra
    "q121_pair_assembly" ->
      raw"""WITH a AS (SELECT asset_id, kind, media_md5
                     FROM read_parquet('${auxDir}/q121_assets/*.parquet')),
         m AS (
           SELECT doc_id, text,
             len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|in|is|was|for|on|that|with|as|it)\b')) AS stopwords,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0 / length(text)
             END AS praw,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
           FROM documents),
         q AS (SELECT doc_id, text,
           round((
             (CASE WHEN ntok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN ntok = 0 THEN 0.0
                   WHEN stopwords * 1.0 / ntok > 0.05 THEN 1.0
                   ELSE (stopwords * 1.0 / ntok) * 20 END) +
             (CASE WHEN praw < 0.2 THEN 1.0 ELSE 0.0 END)
           ) / 3.0, 4) AS quality
           FROM m),
         caps AS (SELECT doc_id AS cap_id, md5(text) AS caption_md5, quality
                  FROM q WHERE quality >= 0.5),
         j AS (SELECT * FROM caps JOIN a ON caps.cap_id = a.asset_id)
         SELECT min(cap_id) AS pair_id, min(asset_id) AS asset_id,
                min(kind) AS kind, caption_md5, media_md5,
                min(quality) AS quality
         FROM j GROUP BY caption_md5, media_md5""",

    // q122: the round-robin-by-size-rank assignment as one SQL window
    "q122_shard_balance" ->
      """WITH w AS (SELECT doc_id,
                    (CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END)::BIGINT AS weight
                    FROM documents)
         SELECT doc_id, weight,
                ((row_number() OVER (ORDER BY weight DESC, doc_id ASC) - 1)
                  % 8)::INTEGER AS shard
         FROM w""",

    // q123: the facet rollup + per-query facet ranking replayed over the
    // dumped batch SERP
    "q123_facets" ->
      s"""WITH s AS (SELECT qid, rank, url
                     FROM read_parquet('${auxDir}/q123_serp/*.parquet')),
         h AS (SELECT qid,
                      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1)
                        AS host,
                      rank
               FROM s),
         a AS (SELECT qid, host, count(*) AS n_results,
                      min(rank) AS best_rank
               FROM h GROUP BY qid, host),
         r AS (SELECT *,
                      (row_number() OVER (PARTITION BY qid
                         ORDER BY n_results DESC, best_rank ASC, host ASC)
                      )::INTEGER AS facet_rank
               FROM a)
         SELECT qid, host, n_results, best_rank, facet_rank
         FROM r WHERE facet_rank <= 5""",

    // q124: the identical md5-keyed permutation recomputed from documents
    // alone — no dump needed, the key is content-derived
    "q124_epoch_shuffle" ->
      """WITH w AS (SELECT doc_id, epoch
                    FROM documents
                    CROSS JOIN (SELECT unnest(range(3)) AS epoch) AS e)
         SELECT doc_id, epoch::INTEGER AS epoch,
                (row_number() OVER (PARTITION BY epoch
                   ORDER BY md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) ASC,
                            doc_id ASC) - 1)::BIGINT AS pos
         FROM w""",

    // q125: the same dense lowercased positions as q67, min pairwise
    // distance per doc containing both terms (the oracle may join the
    // raw position pairs — the engine's merged scan must agree)
    "q125_proximity" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         tok AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, l
                 FROM d),
         p AS (SELECT doc_id, pos, l[pos] AS term FROM tok),
         a AS (SELECT doc_id, pos FROM p WHERE term = 'scan'),
         b AS (SELECT doc_id, pos FROM p WHERE term = 'filter'),
         m AS (SELECT a.doc_id, min(abs(a.pos - b.pos))::INTEGER AS min_dist
               FROM a JOIN b ON a.doc_id = b.doc_id
               GROUP BY a.doc_id)
         SELECT doc_id, min_dist FROM m
         ORDER BY min_dist ASC, doc_id ASC LIMIT 20""",

    // q126: the PBM estimate replayed over the dumped click log — the
    // dyadic (16-p)/16 bias makes the double sums exact, so round_even
    // lands on the identical 6dp value
    "q126_click_model" ->
      s"""WITH l AS (SELECT qid, url, position, clicked
                     FROM read_parquet('${auxDir}/q126_log/*.parquet')),
         a AS (SELECT qid, url, count(*)::BIGINT AS impressions,
                      sum(clicked)::BIGINT AS clicks,
                      sum((16 - position) / 16.0) AS exam_mass
               FROM l GROUP BY qid, url)
         SELECT qid, url, impressions, clicks,
                round_even(clicks / exam_mass * 1e6, 0) / 1e6 AS attract
         FROM a WHERE impressions >= 5""",

    // q127: the BM25F algebra replayed verbatim over the dumped field
    // postings — exact-integer field lengths, one fp division per
    // average, q31's positive idf
    "q127_bm25f" -> bm25fSql("q127_fieldtf", Seq("scan", "filter", "hash"),
      Map("head" -> (2.0, 0.5), "body" -> (1.0, 0.75)), k1 = 1.2, k = 20),

    // q130: the same generated BM25F replay over REAL web fields — anchor
    // terms harvested from OTHER documents' links + stripped body text
    "q130_bm25f_anchor" -> bm25fSql("q130_fieldtf", Seq("rel", "voyage"),
      Map("anchor" -> (3.0, 0.1), "body" -> (1.0, 0.75)), k1 = 1.2, k = 20),

    // q131: fragment/tracking-param strip + sort + min-url keeper replayed
    // with DuckDB's own string/list built-ins over the dumped urls
    "q131_canonical_url" ->
      s"""WITH u AS (SELECT url FROM read_parquet('${auxDir}/q131_urls/*.parquet')),
         m AS (SELECT url,
                 CASE WHEN strpos(url, '#') > 0
                      THEN substr(url, 1, strpos(url, '#') - 1)
                      ELSE url END AS nofrag
               FROM u),
         p AS (SELECT url,
                 CASE WHEN strpos(nofrag, '?') > 0
                      THEN substr(nofrag, 1, strpos(nofrag, '?') - 1)
                      ELSE nofrag END AS base,
                 CASE WHEN strpos(nofrag, '?') > 0
                      THEN substr(nofrag, strpos(nofrag, '?') + 1)
                      ELSE '' END AS q
               FROM m),
         k AS (SELECT url, base,
                 list_sort(list_filter(string_split(q, '&'),
                   x -> NOT starts_with(split_part(x, '=', 1), 'utm_')
                    AND split_part(x, '=', 1) NOT IN
                        ('fbclid','gclid','msclkid','ref','mc_cid','mc_eid')
                    AND x <> '')) AS kept
               FROM p),
         c AS (SELECT url,
                 CASE WHEN len(kept) > 0
                      THEN base || '?' || array_to_string(kept, '&')
                      ELSE base END AS canonical
               FROM k),
         g AS (SELECT canonical, min(url) AS keeper FROM c GROUP BY canonical)
         SELECT c.url, c.canonical, g.keeper FROM c JOIN g USING (canonical)""",

    // q132: the identical HRW placement from the portable md5 hash alone
    "q132_shard_placement" -> {
      val workerList = (0 until 10).map(i => s"'worker-$i'").mkString(", ")
      s"""WITH sh AS (SELECT 'shard-' || unnest(range(256))::VARCHAR AS shard),
         w AS (SELECT unnest([$workerList]) AS worker),
         scored AS (SELECT shard, worker,
                      ('0x' || substr(md5(shard || '|' || worker), 1, 15))::BIGINT
                        AS score
                    FROM sh CROSS JOIN w),
         r AS (SELECT shard, worker,
                 row_number() OVER (PARTITION BY shard
                    ORDER BY score DESC, worker ASC)::INTEGER AS replica
               FROM scored)
         SELECT shard, worker, replica FROM r WHERE replica <= 3"""
    },

    // q133: the residual predicate IS the semantics — the oracle is the
    // plain full-scan range filter; pruning only removes files the sidecar
    // proves disjoint (the in-query require pins that it actually pruned)
    "q133_data_skipping" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
         WHERE l_orderkey BETWEEN 1000 AND 2999""",

    // q134: RRF recomputed from the dumped per-system runs — same
    // system-ordered fold (list ORDER BY system, ordered list_reduce), same
    // (score desc, url asc) ranking, same 6dp round-even
    "q134_rank_fusion" ->
      s"""WITH r AS (SELECT query_id, url, rank, "system"
                     FROM read_parquet('${auxDir}/q134_runs/*.parquet')),
         c AS (SELECT query_id, url,
                 list(1e0 / (60 + rank) ORDER BY "system") AS cs
               FROM r GROUP BY query_id, url),
         f AS (SELECT query_id, url,
                 list_reduce(list_prepend(0e0, cs), (a, b) -> a + b) AS score
               FROM c),
         k AS (SELECT query_id, url, score,
                 row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, url ASC)::INTEGER AS rank
               FROM f)
         SELECT query_id, url, rank,
                round_even(score * 1e6, 0) / 1e6 AS rrf
         FROM k WHERE rank <= 20""",

    // q135: two unrolled power-iteration chains (q88's algebra) — trust
    // teleports to the dumped whitelist, the baseline to every node; the
    // mass division runs on the unrounded chain values, like Spark
    "q135_trustrank" -> trustRankSql(10),

    // q136: identical hourly counts + RANGE trailing window + the
    // integer-exact burst predicate (sums cast back from int128)
    "q136_trending" ->
      s"""WITH l AS (SELECT query, ts
                     FROM read_parquet('${auxDir}/q136_log/*.parquet')),
         c AS (SELECT query, floor(epoch(ts))::BIGINT // 3600 AS hour,
                      count(*)::BIGINT AS cnt
               FROM l GROUP BY 1, 2),
         w AS (SELECT query, hour, cnt,
                 coalesce(sum(cnt) OVER (PARTITION BY query ORDER BY hour
                   RANGE BETWEEN 6 PRECEDING AND 1 PRECEDING), 0)::BIGINT
                   AS prev_sum
               FROM c)
         SELECT query, hour, cnt, prev_sum,
                (cnt * 6 > prev_sum * 3 AND cnt >= 5) AS is_burst
         FROM w""",

    // q137: both dense-rank assignments recomputed from the dumped triples
    // (hash order = the same portable md5 h60), then identical gap +
    // varbyte-threshold accounting — all integer math
    "q137_id_reorder" ->
      s"""WITH tr AS (SELECT DISTINCT url, term
                      FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')),
         urls AS (SELECT DISTINCT url FROM tr),
         su AS (SELECT url, row_number() OVER (ORDER BY url) - 1 AS id FROM urls),
         sh AS (SELECT url, row_number() OVER (ORDER BY
                  ('0x' || substr(md5(url), 1, 15))::BIGINT, url) - 1 AS id
                FROM urls),
         b AS (SELECT 'url_sorted' AS scheme, t.term, s.id
               FROM tr t JOIN su s USING (url)
               UNION ALL
               SELECT 'hashed' AS scheme, t.term, s.id
               FROM tr t JOIN sh s USING (url)),
         g AS (SELECT scheme,
                 coalesce(id - lag(id) OVER (PARTITION BY scheme, term
                                             ORDER BY id), id + 1) AS gap
               FROM b)
         SELECT scheme, count(*)::BIGINT AS postings,
                sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                         WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
                         WHEN gap < 34359738368 THEN 5
                         WHEN gap < 4398046511104 THEN 6
                         WHEN gap < 562949953421312 THEN 7
                         WHEN gap < 72057594037927936 THEN 8
                         ELSE 9 END)::BIGINT AS bytes
         FROM g GROUP BY scheme""",

    // q138: the draft replayed one pick per recursive step — same
    // fewer-picks-first rule, same h60(qid|round) coin, exhausted team
    // cedes; terminal state per query = the longest picks list
    "q138_interleave" ->
      s"""WITH RECURSIVE
         r AS (SELECT query_id, url, rank, "system"
               FROM read_parquet('${auxDir}/q138_runs/*.parquet')),
         la AS (SELECT query_id, list(url ORDER BY rank) AS l FROM r
                WHERE "system" = 'ref' GROUP BY query_id),
         lb AS (SELECT query_id, list(url ORDER BY rank) AS l FROM r
                WHERE "system" = 'bm25' GROUP BY query_id),
         base AS (SELECT coalesce(la.query_id, lb.query_id) AS qid,
                         coalesce(la.l, []) AS a, coalesce(lb.l, []) AS b
                  FROM la FULL JOIN lb ON la.query_id = lb.query_id),
         step AS (
           SELECT qid, a, b, []::VARCHAR[] AS picked,
                  []::STRUCT(url VARCHAR, team VARCHAR)[] AS picks,
                  0 AS na, 0 AS nb
           FROM base
           UNION ALL
           SELECT qid, a, b, list_append(picked, u),
                  list_append(picks,
                    {'url': u, 'team': CASE WHEN ad THEN 'ref' ELSE 'bm25' END}),
                  na + CASE WHEN ad THEN 1 ELSE 0 END,
                  nb + CASE WHEN ad THEN 0 ELSE 1 END
           FROM (
             SELECT *, CASE WHEN ad THEN nxa ELSE nxb END AS u
             FROM (
               SELECT *, CASE WHEN nxa IS NULL THEN FALSE
                              WHEN nxb IS NULL THEN TRUE
                              WHEN na <> nb THEN na < nb
                              ELSE ('0x' || substr(md5(qid::VARCHAR || '|' ||
                                    na::VARCHAR), 1, 15))::BIGINT % 2 = 0
                         END AS ad
               FROM (
                 SELECT *,
                   list_filter(a, x -> NOT list_contains(picked, x))[1] AS nxa,
                   list_filter(b, x -> NOT list_contains(picked, x))[1] AS nxb
                 FROM step WHERE len(picks) < 20
               ) WHERE nxa IS NOT NULL OR nxb IS NOT NULL
             )
           )
         ),
         fin AS (SELECT qid, picks FROM step s
                 WHERE len(picks) = (SELECT max(len(s2.picks)) FROM step s2
                                     WHERE s2.qid = s.qid))
         SELECT qid AS query_id,
                unnest(generate_series(1, len(picks)))::INTEGER AS pos,
                unnest(picks).url AS url, unnest(picks).team AS team
         FROM fin""",

    // q139: 8 unrolled degree-normalized rounds, mass-conserving (no
    // per-round max CTE to keep in lockstep, unlike q68)
    "q139_salsa" -> salsaSql(8),

    // q140: CORI recomputed from the dumped triples — same host shards,
    // same T/I algebra with identical association order, same
    // term-ordered fold and single end division
    "q140_shard_select" -> {
      val vals = batchQueries.zipWithIndex.flatMap { case (q, qi) =>
        q.split(" ").distinct.map(t => s"($qi, '$t')")
      }.mkString(", ")
      s"""WITH trf AS (SELECT url, term, tf
                       FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')),
         p AS (SELECT split_part(split_part(url, '//', 2), '/', 1) AS shard,
                      term, tf
               FROM trf),
         stats AS (SELECT shard, term, count(*)::BIGINT AS df
                   FROM p GROUP BY 1, 2),
         cw AS (SELECT shard, sum(tf)::BIGINT AS cw FROM p GROUP BY 1),
         consts AS (SELECT count(*)::INT AS c,
                           sum(cw)::DOUBLE / count(*) AS avgcw
                    FROM cw),
         cf AS (SELECT term, count(*)::BIGINT AS cf FROM stats GROUP BY 1),
         q(qid, term) AS (VALUES $vals),
         nt AS (SELECT qid, count(DISTINCT term) AS n FROM q GROUP BY 1),
         bel AS (SELECT q.qid, w.shard, q.term,
                   CASE WHEN s.df IS NOT NULL AND s.df > 0 THEN
                     0.4e0 + (1 - 0.4e0) *
                     (s.df::DOUBLE /
                       (s.df::DOUBLE + 50e0 + (150e0 * w.cw::DOUBLE) / k.avgcw)) *
                     (ln((k.c + 0.5e0) / cf.cf::DOUBLE) / ln(k.c + 1.0e0))
                   ELSE 0.4e0 END AS belief
                 FROM q CROSS JOIN cw w CROSS JOIN consts k
                 LEFT JOIN stats s ON s.shard = w.shard AND s.term = q.term
                 LEFT JOIN cf ON cf.term = q.term),
         sc AS (SELECT qid, shard,
                  list_reduce(list_prepend(0e0, list(belief ORDER BY term)),
                    (a, b) -> a + b) AS s
                FROM bel GROUP BY qid, shard),
         sc2 AS (SELECT sc.qid, sc.shard, sc.s / nt.n AS score
                 FROM sc JOIN nt USING (qid)),
         r AS (SELECT qid AS query_id, shard, score,
                 row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, shard ASC)::INTEGER AS rank
               FROM sc2)
         SELECT query_id, shard, rank,
                round_even(score * 1e6, 0) / 1e6 AS score
         FROM r WHERE rank <= 5"""
    },

    // q141: Dirichlet query likelihood recomputed from the dumped triples —
    // same term multiplicities (shared queryTerms), same literal order
    // ((mu·cf)/|C|, one division each), zero-cf terms inner-joined away,
    // background rows included via the candidates × terms grid
    "q141_lm_dirichlet" -> {
      val vals = graft.query.LmRetrieval
        .queryTerms("distributed storage system")
        .map { case (t, m) => s"('$t', $m)" }.mkString(", ")
      s"""WITH q(term, qtf) AS (VALUES $vals),
         tr AS (SELECT url, term, tf
                FROM read_parquet('${auxDir}/${triplesName(2000)}/*.parquet')),
         total AS (SELECT sum(tf)::DOUBLE AS ct FROM tr),
         cf AS (SELECT term, sum(tf)::BIGINT AS cf
                FROM tr JOIN q USING (term) GROUP BY 1),
         mt AS (SELECT url, term, tf FROM tr JOIN cf USING (term)),
         cand AS (SELECT DISTINCT url FROM mt),
         dl AS (SELECT tr.url, sum(tf)::BIGINT AS dl
                FROM tr JOIN cand USING (url) GROUP BY 1),
         grid AS (SELECT c.url, q.term, q.qtf, cf.cf,
                         coalesce(m.tf, 0) AS tf
                  FROM cand c CROSS JOIN q JOIN cf USING (term)
                  LEFT JOIN mt m ON m.url = c.url AND m.term = q.term),
         sc AS (SELECT g.url,
                  sum(g.qtf::DOUBLE *
                      ln((g.tf::DOUBLE + (2000e0 * g.cf::DOUBLE) / tt.ct) /
                         (d.dl::DOUBLE + 2000e0))) AS score
                FROM grid g JOIN dl d USING (url) CROSS JOIN total tt
                GROUP BY 1)
         SELECT row_number() OVER (ORDER BY score DESC, url ASC)::INTEGER AS rank,
                url, round_even(score * 1e6, 0) / 1e6 AS score
         FROM sc ORDER BY score DESC, url ASC LIMIT 20"""
    },

    // q142: the whole two-phase Rocchio pipeline replayed in SQL — BM25
    // algebra with q31's literal order, feedback set ranked by the 6dp
    // ROUNDED score (url-asc ties), expansion weight ((β·idf)·Σtf)/N with
    // the exact-integer Σtf, weighted rescore over the union term set
    "q142_rocchio_prf" -> {
      val vals = graft.query.LmRetrieval
        .queryTerms("prince officer soldier")
        .map { case (t, m) => s"('$t', $m)" }.mkString(", ")
      s"""WITH q(term, qtf) AS (VALUES $vals),
         tr AS (SELECT url, term, tf
                FROM read_parquet('${auxDir}/${triplesName(2000)}/*.parquet')),
         docs AS (SELECT url, sum(tf)::BIGINT AS dl FROM tr GROUP BY 1),
         stats AS (SELECT count(*)::DOUBLE AS nd,
                          sum(dl)::DOUBLE / count(*) AS avgdl FROM docs),
         df1 AS (SELECT term, count(*)::BIGINT AS df
                 FROM tr JOIN q USING (term) GROUP BY 1),
         c1 AS (SELECT tr.url,
                  q.qtf::DOUBLE *
                  ((ln((s.nd - d.df::DOUBLE + 0.5e0) / (d.df::DOUBLE + 0.5e0) + 1.0e0)
                    * (tr.tf::DOUBLE * (1.2e0 + 1))) /
                   (tr.tf::DOUBLE + 1.2e0 * (1 - 0.75e0 + 0.75e0 * dc.dl::DOUBLE / s.avgdl))) AS c
                FROM tr JOIN q USING (term) JOIN df1 d USING (term)
                JOIN docs dc USING (url) CROSS JOIN stats s),
         s1 AS (SELECT url, round_even(sum(c) * 1e6, 0) / 1e6 AS score
                FROM c1 GROUP BY 1),
         fb AS (SELECT url FROM s1 ORDER BY score DESC, url ASC LIMIT 10),
         pool AS (SELECT term, sum(tf)::BIGINT AS stf
                  FROM tr JOIN fb USING (url)
                  WHERE term NOT IN (SELECT term FROM q) GROUP BY 1),
         dfp AS (SELECT term, count(*)::BIGINT AS df
                 FROM tr JOIN pool USING (term) GROUP BY 1),
         exp AS (SELECT p.term,
                   ((0.75e0 * ln((s.nd - d.df::DOUBLE + 0.5e0) / (d.df::DOUBLE + 0.5e0) + 1.0e0))
                    * p.stf::DOUBLE) / 10e0 AS w
                 FROM pool p JOIN dfp d USING (term) CROSS JOIN stats s
                 ORDER BY w DESC, p.term ASC LIMIT 10),
         fw(term, w) AS (SELECT term, qtf::DOUBLE FROM q
                         UNION ALL SELECT term, w FROM exp),
         df2 AS (SELECT term, count(*)::BIGINT AS df
                 FROM tr JOIN fw USING (term) GROUP BY 1),
         c2 AS (SELECT tr.url,
                  fw.w *
                  ((ln((s.nd - d.df::DOUBLE + 0.5e0) / (d.df::DOUBLE + 0.5e0) + 1.0e0)
                    * (tr.tf::DOUBLE * (1.2e0 + 1))) /
                   (tr.tf::DOUBLE + 1.2e0 * (1 - 0.75e0 + 0.75e0 * dc.dl::DOUBLE / s.avgdl))) AS c
                FROM tr JOIN fw USING (term) JOIN df2 d USING (term)
                JOIN docs dc USING (url) CROSS JOIN stats s),
         s2 AS (SELECT url, round_even(sum(c) * 1e6, 0) / 1e6 AS score
                FROM c2 GROUP BY 1)
         SELECT row_number() OVER (ORDER BY score DESC, url ASC)::INTEGER AS rank,
                url, score
         FROM s2 ORDER BY score DESC, url ASC LIMIT 20"""
    },

    // q143: clarity recomputed end-to-end — q141's QL grid with a qid
    // dimension (rounded-score feedback ranking, url-asc ties), then
    // KL(P(w|R) ‖ P(w|C)) in nats over the feedback vocabulary
    "q143_clarity" -> {
      val vals = batchQueries.zipWithIndex.flatMap { case (q, qi) =>
        graft.query.LmRetrieval.queryTerms(q)
          .map { case (t, m) => s"($qi, '$t', $m)" }
      }.mkString(", ")
      s"""WITH q(qid, term, qtf) AS (VALUES $vals),
         tr AS (SELECT url, term, tf
                FROM read_parquet('${auxDir}/${triplesName(2000)}/*.parquet')),
         total AS (SELECT sum(tf)::DOUBLE AS ct FROM tr),
         cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tr
                WHERE term IN (SELECT term FROM q) GROUP BY 1),
         qs AS (SELECT q.qid, q.term, q.qtf, cf.cf FROM q JOIN cf USING (term)),
         mt AS (SELECT DISTINCT s.qid, tr.url, tr.term, tr.tf
                FROM tr JOIN qs s ON tr.term = s.term),
         cand AS (SELECT DISTINCT qid, url FROM mt),
         dl AS (SELECT url, sum(tf)::BIGINT AS dl FROM tr
                WHERE url IN (SELECT url FROM cand) GROUP BY 1),
         grid AS (SELECT c.qid, c.url, s.term, s.qtf, s.cf,
                         coalesce(m.tf, 0) AS tf
                  FROM cand c JOIN qs s ON s.qid = c.qid
                  LEFT JOIN mt m ON m.qid = c.qid AND m.url = c.url
                                AND m.term = s.term),
         sc AS (SELECT g.qid, g.url,
                  round_even(sum(g.qtf::DOUBLE *
                    ln((g.tf::DOUBLE + (2000e0 * g.cf::DOUBLE) / tt.ct) /
                       (d.dl::DOUBLE + 2000e0))) * 1e6, 0) / 1e6 AS score
                FROM grid g JOIN dl d USING (url) CROSS JOIN total tt
                GROUP BY 1, 2),
         fb AS (SELECT qid, url FROM (
                  SELECT qid, url, row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, url ASC) AS rnk FROM sc)
                WHERE rnk <= 10),
         rtf AS (SELECT f.qid, tr.term, sum(tr.tf)::BIGINT AS rtf
                 FROM tr JOIN fb f USING (url) GROUP BY 1, 2),
         rlen AS (SELECT qid, sum(rtf)::BIGINT AS rlen FROM rtf GROUP BY 1),
         cfv AS (SELECT term, sum(tf)::BIGINT AS cfv FROM tr
                 WHERE term IN (SELECT DISTINCT term FROM rtf) GROUP BY 1),
         kl AS (SELECT r.qid,
                  (r.rtf::DOUBLE / l.rlen::DOUBLE) *
                  ln((r.rtf::DOUBLE / l.rlen::DOUBLE) /
                     (c.cfv::DOUBLE / tt.ct)) AS kl
                FROM rtf r JOIN rlen l USING (qid) JOIN cfv c USING (term)
                CROSS JOIN total tt)
         SELECT qid::INTEGER AS query_id, count(*)::BIGINT AS vocab,
                round_even(sum(kl) * 1e6, 0) / 1e6 AS clarity
         FROM kl GROUP BY 1 ORDER BY 1"""
    },

    // q144: both OLS fits recomputed — pinned term ranks (cf desc, term
    // asc), url-ordered doc indices, ⌊j·D/8⌋ checkpoints, identical
    // computational-formula literal shape
    "q144_corpus_laws" ->
      s"""WITH tr AS (SELECT url, term, tf
                FROM read_parquet('${auxDir}/${triplesName(2000)}/*.parquet')),
         cfs AS (SELECT term, sum(tf)::BIGINT AS cf FROM tr GROUP BY 1),
         topr AS (SELECT cf, row_number() OVER (ORDER BY cf DESC, term ASC) AS rnk
                  FROM cfs ORDER BY cf DESC, term ASC LIMIT 100),
         zp AS (SELECT ln(rnk::DOUBLE) AS x, ln(cf::DOUBLE) AS y FROM topr),
         docs AS (SELECT url, row_number() OVER (ORDER BY url ASC)::BIGINT AS idx
                  FROM (SELECT DISTINCT url FROM tr)),
         dc AS (SELECT count(*)::BIGINT AS d FROM docs),
         cps AS (SELECT DISTINCT (g.j * dc.d) // 8 AS n
                 FROM generate_series(1, 8) AS g(j) CROSS JOIN dc
                 WHERE (g.j * dc.d) // 8 >= 1),
         firsts AS (SELECT t.term, min(d.idx)::BIGINT AS first
                    FROM tr t JOIN docs d USING (url) GROUP BY 1),
         hv AS (SELECT c.n, count(*)::BIGINT AS v
                FROM cps c JOIN firsts f ON f.first <= c.n GROUP BY 1),
         hp AS (SELECT ln(n::DOUBLE) AS x, ln(v::DOUBLE) AS y FROM hv),
         fits AS (
           SELECT 'zipf' AS law, count(*)::BIGINT AS np,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx FROM zp
           UNION ALL
           SELECT 'heaps' AS law, count(*)::BIGINT AS np,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx FROM hp)
         SELECT law, np AS n_points,
                round_even(((np::DOUBLE * sxy - sx * sy) /
                            (np::DOUBLE * sxx - sx * sx)) * 1e6, 0) / 1e6 AS slope,
                round_even(((sy - ((np::DOUBLE * sxy - sx * sy) /
                                   (np::DOUBLE * sxx - sx * sx)) * sx)
                            / np::DOUBLE) * 1e6, 0) / 1e6 AS intercept
         FROM fits ORDER BY law""",

    // q145: q47's reachability CTE over the dumped pairs, then the same
    // longest-version-wins window — integers only, hash-exact
    "q145_canonical_doc" ->
      s"""WITH RECURSIVE p AS (
           SELECT a, b FROM read_parquet('${auxDir}/q145_pairs/*.parquet')),
         e AS (SELECT a AS x, b AS y FROM p UNION SELECT b, a FROM p),
         n AS (SELECT DISTINCT x AS id FROM e),
         reach(id, r) AS (
           SELECT id, id FROM n
           UNION
           SELECT e.x, reach.r FROM e JOIN reach ON e.y = reach.id),
         comp AS (SELECT id, CAST(min(r) AS BIGINT) AS comp
                  FROM reach GROUP BY id),
         base AS (SELECT d.doc_id::BIGINT AS doc_id,
                         length(d.text)::BIGINT AS len,
                         coalesce(c.comp, d.doc_id::BIGINT) AS comp
                  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         canon AS (SELECT comp, doc_id AS canonical_id FROM (
                     SELECT comp, doc_id, row_number() OVER (
                       PARTITION BY comp ORDER BY len DESC, doc_id ASC) AS rnk
                     FROM base)
                   WHERE rnk = 1)
         SELECT b.doc_id, c.canonical_id,
                b.doc_id = c.canonical_id AS is_canonical
         FROM base b JOIN canon c USING (comp)""",

    // q146: the greedy MMR loop replayed as a recursive CTE over the
    // DUMPED rel/sim doubles — per step, unpicked candidates scored
    // λ·rel − (1−λ)·max(sim to picked) with the identical literal order,
    // argmax via list_sort on (−score, doc); only emitted scores rounded
    "q146_mmr_rerank" ->
      s"""WITH RECURSIVE
         rel AS (SELECT query_id, doc_id, rel
                 FROM read_parquet('${auxDir}/q146_rel/*.parquet')),
         sp AS (SELECT query_id, a, b, sim
                FROM read_parquet('${auxDir}/q146_sims/*.parquet')),
         simsym AS (SELECT query_id, a AS doc, b AS other, sim FROM sp
                    UNION ALL
                    SELECT query_id, b, a, sim FROM sp),
         sl AS (SELECT query_id, doc,
                       list(struct_pack(other := other, sim := sim)) AS sl
                FROM simsym GROUP BY 1, 2),
         cands AS (SELECT r.query_id,
                     list(struct_pack(doc := r.doc_id, rel := r.rel,
                       sl := coalesce(s.sl, []))) AS cl
                   FROM rel r LEFT JOIN sl s
                     ON s.query_id = r.query_id AND s.doc = r.doc_id
                   GROUP BY r.query_id),
         step AS (
           SELECT query_id, cl, []::BIGINT[] AS picked,
                  []::STRUCT(doc BIGINT, score DOUBLE)[] AS out
           FROM cands
           UNION ALL
           SELECT query_id, cl, list_append(picked, best.d),
                  list_append(out, struct_pack(doc := best.d, score := -best.s))
           FROM (
             SELECT query_id, cl, picked, out,
               list_sort(list_transform(
                 list_filter(cl, c -> NOT list_contains(picked, c.doc)),
                 c -> struct_pack(
                   s := -(0.7e0 * c.rel - (1 - 0.7e0) * coalesce(
                     list_aggregate(list_transform(
                       list_filter(c.sl, x -> list_contains(picked, x.other)),
                       x -> x.sim), 'max'), 0e0)),
                   d := c.doc)))[1] AS best
             FROM step
             WHERE len(out) < 10 AND len(picked) < len(cl)
           )
         ),
         fin AS (SELECT query_id, out FROM step s
                 WHERE len(out) = (SELECT max(len(s2.out)) FROM step s2
                                   WHERE s2.query_id = s.query_id))
         SELECT query_id,
                unnest(generate_series(1, len(out)))::INTEGER AS pos,
                unnest(out).doc AS doc_id,
                round_even(unnest(out).score * 1e6, 0) / 1e6 AS mmr
         FROM fin""",

    // q147: the schedule recomputed from the dumped frontier — same
    // portable-hash priorities/delays/fetcher, same per-host window;
    // integers end to end
    "q147_politeness" ->
      s"""WITH f AS (SELECT url, host
                FROM read_parquet('${auxDir}/q147_frontier/*.parquet')),
         fr AS (SELECT url, host,
                  ('0x' || substr(md5(url), 1, 15))::BIGINT % 100 AS priority
                FROM f),
         d AS (SELECT DISTINCT host,
                 250 * (('0x' || substr(md5(host), 1, 15))::BIGINT % 4 + 1) AS delay_ms
               FROM f),
         s AS (SELECT fr.url, fr.host, fr.priority, d.delay_ms,
                 (row_number() OVER (PARTITION BY fr.host
                    ORDER BY fr.priority DESC, fr.url ASC) - 1)::BIGINT AS seq
               FROM fr JOIN d USING (host))
         SELECT url, host,
                (('0x' || substr(md5(host), 1, 15))::BIGINT % 8)::INTEGER AS fetcher,
                seq, seq * delay_ms AS fetch_at_ms
         FROM s""",

    // q148: the z-test recomputed — portable-hash arms, exact integer
    // counts, single divisions, IEEE sqrt, 6dp round-even; degenerate
    // cohorts NULL out identically
    "q148_ab_test" ->
      """WITH e AS (SELECT user_id % 4 AS cohort,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm,
                  event_type = 'click' AS s
           FROM events),
         agg AS (SELECT cohort,
                   sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_control,
                   sum(CASE WHEN arm = 0 AND s THEN 1 ELSE 0 END)::BIGINT AS x_control,
                   sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
                   sum(CASE WHEN arm = 1 AND s THEN 1 ELSE 0 END)::BIGINT AS x_treat
                 FROM e GROUP BY 1),
         c AS (SELECT *,
                 CASE WHEN n_control > 0
                      THEN x_control::DOUBLE / n_control::DOUBLE END AS p1,
                 CASE WHEN n_treat > 0
                      THEN x_treat::DOUBLE / n_treat::DOUBLE END AS p2,
                 (x_control + x_treat)::DOUBLE /
                   (n_control + n_treat)::DOUBLE AS pp
               FROM agg),
         z AS (SELECT *,
                 CASE WHEN n_control > 0 AND n_treat > 0 AND
                           sqrt(pp * (1.0e0 - pp) *
                             (1.0e0 / n_control::DOUBLE + 1.0e0 / n_treat::DOUBLE)) > 0
                      THEN (p1 - p2) /
                           sqrt(pp * (1.0e0 - pp) *
                             (1.0e0 / n_control::DOUBLE + 1.0e0 / n_treat::DOUBLE))
                 END AS zv
               FROM c)
         SELECT cohort, n_control, x_control, n_treat, x_treat,
                round_even(p1 * 1e6, 0) / 1e6 AS p_control,
                round_even(p2 * 1e6, 0) / 1e6 AS p_treat,
                round_even((p1 - p2) * 1e6, 0) / 1e6 AS lift,
                round_even(zv * 1e6, 0) / 1e6 AS z,
                coalesce(abs(zv) > 1.96e0, false) AS significant
         FROM z ORDER BY cohort""",

    // q149: the bootstrap replayed from the dumped deltas — same
    // hash-deterministic picks ("r|j" portable hash mod n), same ordered
    // per-replica folds, same pinned order-statistic endpoints (5, 195
    // = integer-ceil of 0.025·200 / 0.975·200), significance on the RAW
    // interval before rounding
    "q149_bootstrap_eval" ->
      s"""WITH d AS (SELECT query_id, delta
                FROM read_parquet('${auxDir}/q149_deltas/*.parquet')),
         idx AS (SELECT delta,
                   (row_number() OVER (ORDER BY query_id ASC) - 1)::BIGINT AS idx
                 FROM d),
         nn AS (SELECT count(*)::BIGINT AS n FROM d),
         js AS (SELECT unnest(generate_series(0, n - 1))::BIGINT AS j FROM nn),
         grid AS (SELECT t.r::BIGINT AS r, js.j,
                    ('0x' || substr(md5(t.r::VARCHAR || '|' || js.j::VARCHAR),
                      1, 15))::BIGINT % nn.n AS pick
                  FROM generate_series(0, 199) t(r)
                  CROSS JOIN js CROSS JOIN nn),
         means AS (SELECT g.r,
                     list_reduce(list_prepend(0e0, list(i.delta ORDER BY g.j)),
                       (a, b) -> a + b) / nn.n AS mean
                   FROM grid g JOIN idx i ON i.idx = g.pick CROSS JOIN nn
                   GROUP BY g.r, nn.n),
         ranked AS (SELECT mean,
                      row_number() OVER (ORDER BY mean ASC, r ASC) AS rnk
                    FROM means),
         obs AS (SELECT list_reduce(list_prepend(0e0, list(delta ORDER BY idx)),
                   (a, b) -> a + b) / nn.n AS m
                 FROM idx CROSS JOIN nn GROUP BY nn.n),
         lohi AS (SELECT max(CASE WHEN rnk = 5 THEN mean END) AS lo,
                         max(CASE WHEN rnk = 195 THEN mean END) AS hi
                  FROM ranked)
         SELECT nn.n AS n_queries, 200::BIGINT AS n_replicas,
                round_even(obs.m * 1e6, 0) / 1e6 AS mean_delta,
                round_even(lohi.lo * 1e6, 0) / 1e6 AS ci_lo,
                round_even(lohi.hi * 1e6, 0) / 1e6 AS ci_hi,
                (lohi.lo > 0 OR lohi.hi < 0) AS significant
         FROM nn, obs, lohi""",

    // q150: q140's CORI selection (raw-fold ranking, rounded beliefs)
    // composed with shard-LOCAL BM25 (q142's literal shape, per-shard
    // nd/avgdl/df) and the belief-weighted merge
    "q150_federated_search" -> {
      val vals = batchQueries.zipWithIndex.flatMap { case (q, qi) =>
        q.split(" ").distinct.map(t => s"($qi, '$t')")
      }.mkString(", ")
      s"""WITH trf AS (SELECT url, term, tf
                       FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')),
         p AS (SELECT split_part(split_part(url, '//', 2), '/', 1) AS shard,
                      url, term, tf
               FROM trf),
         stats AS (SELECT shard, term, count(*)::BIGINT AS df
                   FROM p GROUP BY 1, 2),
         cw AS (SELECT shard, sum(tf)::BIGINT AS cw FROM p GROUP BY 1),
         consts AS (SELECT count(*)::INT AS c,
                           sum(cw)::DOUBLE / count(*) AS avgcw
                    FROM cw),
         cf AS (SELECT term, count(*)::BIGINT AS cf FROM stats GROUP BY 1),
         q(qid, term) AS (VALUES $vals),
         nt AS (SELECT qid, count(DISTINCT term) AS n FROM q GROUP BY 1),
         bel AS (SELECT q.qid, w.shard, q.term,
                   CASE WHEN s.df IS NOT NULL AND s.df > 0 THEN
                     0.4e0 + (1 - 0.4e0) *
                     (s.df::DOUBLE /
                       (s.df::DOUBLE + 50e0 + (150e0 * w.cw::DOUBLE) / k.avgcw)) *
                     (ln((k.c + 0.5e0) / cf.cf::DOUBLE) / ln(k.c + 1.0e0))
                   ELSE 0.4e0 END AS belief
                 FROM q CROSS JOIN cw w CROSS JOIN consts k
                 LEFT JOIN stats s ON s.shard = w.shard AND s.term = q.term
                 LEFT JOIN cf ON cf.term = q.term),
         sc AS (SELECT qid, shard,
                  list_reduce(list_prepend(0e0, list(belief ORDER BY term)),
                    (a, b) -> a + b) AS s
                FROM bel GROUP BY qid, shard),
         sc2 AS (SELECT sc.qid, sc.shard, sc.s / nt.n AS score
                 FROM sc JOIN nt USING (qid)),
         selr AS (SELECT qid, shard,
                    round_even(score * 1e6, 0) / 1e6 AS belief,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY score DESC, shard ASC) AS rnk
                  FROM sc2),
         sel AS (SELECT qid, shard, belief FROM selr WHERE rnk <= 5),
         docs AS (SELECT shard, url, sum(tf)::BIGINT AS dl FROM p GROUP BY 1, 2),
         sstats AS (SELECT shard, count(*)::DOUBLE AS nd,
                           sum(dl)::DOUBLE / count(*) AS avgdl
                    FROM docs GROUP BY 1),
         cand AS (SELECT se.qid, p.shard, p.url, p.term, p.tf, se.belief
                  FROM p JOIN q ON p.term = q.term
                  JOIN sel se ON se.qid = q.qid AND se.shard = p.shard),
         ctr AS (SELECT c.qid, c.shard, c.url, c.belief,
                   (ln((st.nd - d.df::DOUBLE + 0.5e0) / (d.df::DOUBLE + 0.5e0) + 1.0e0)
                     * (c.tf::DOUBLE * (1.2e0 + 1))) /
                   (c.tf::DOUBLE + 1.2e0 *
                     (1 - 0.75e0 + 0.75e0 * dc.dl::DOUBLE / st.avgdl)) AS cc
                 FROM cand c
                 JOIN stats d ON d.shard = c.shard AND d.term = c.term
                 JOIN docs dc ON dc.shard = c.shard AND dc.url = c.url
                 JOIN sstats st ON st.shard = c.shard),
         fin AS (SELECT qid, shard, url, belief * sum(cc) AS f
                 FROM ctr GROUP BY qid, shard, url, belief),
         r AS (SELECT qid AS query_id, shard, url, f,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY f DESC, url ASC)::INTEGER AS rank
               FROM fin)
         SELECT query_id, shard, rank, url,
                round_even(f * 1e6, 0) / 1e6 AS score
         FROM r WHERE rank <= 10"""
    },

    // q151: the sequential funnel replayed — per-stage min-after-prev
    // joins, strict > on the exact parquet timestamps
    "q151_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
                WHERE e.event_type = 'click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
                WHERE e.event_type = 'purchase' GROUP BY 1),
         c AS (SELECT 1 AS stage_idx, 'view' AS stage,
                      count(*)::BIGINT AS users FROM s1
               UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
               UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3),
         b AS (SELECT users AS base FROM c WHERE stage_idx = 1)
         SELECT stage_idx, stage, users,
                CASE WHEN b.base > 0 THEN
                  round_even(users::DOUBLE / b.base::DOUBLE * 1e6, 0) / 1e6
                END AS conversion
         FROM c CROSS JOIN b ORDER BY stage_idx""",

    // q152: epoch-week integer division (`//` ↔ Spark `div`), distinct
    // (user, week) before any count, one division per cell
    "q152_retention" ->
      """WITH w AS (SELECT DISTINCT user_id AS u,
                      epoch_us(ts) // 604800000000 AS week
                    FROM events),
         f AS (SELECT u, min(week) AS cohort FROM w GROUP BY 1),
         sz AS (SELECT cohort, count(*)::BIGINT AS size FROM f GROUP BY 1),
         cell AS (SELECT f.cohort, w.week - f.cohort AS week_offset,
                         count(*)::BIGINT AS users
                  FROM w JOIN f USING (u) GROUP BY 1, 2)
         SELECT c.cohort AS cohort_week, c.week_offset, c.users,
                round_even(c.users::DOUBLE / s.size::DOUBLE * 1e6, 0) / 1e6
                  AS retention
         FROM cell c JOIN sz s USING (cohort)
         ORDER BY cohort_week, week_offset""",

    // q153: the estimate algebra replayed from the dumped registers —
    // same alpha literal order, zeros contribute 2⁰ = 1 to the harmonic
    // sum, same linear-counting branch, inclusion–exclusion on the RAW
    // estimates; exact counts straight off documents
    "q153_hll_overlap" ->
      s"""WITH ra AS (SELECT bucket, max_rho
                FROM read_parquet('${auxDir}/q153_reg_a/*.parquet')),
         rb AS (SELECT bucket, max_rho
                FROM read_parquet('${auxDir}/q153_reg_b/*.parquet')),
         ru AS (SELECT bucket, max(max_rho) AS max_rho
                FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
                GROUP BY 1),
         ea AS (SELECT CASE WHEN e <= 640 AND zeros > 0
                            THEN 256 * ln(256e0 / zeros) ELSE e END AS v
                FROM (SELECT (0.7213e0 / (1 + 1.079e0 / 256)) * 256 * 256 /
                        (sum(power(2e0, -max_rho)) + (256 - count(*))) AS e,
                        256 - count(*) AS zeros FROM ra)),
         eb AS (SELECT CASE WHEN e <= 640 AND zeros > 0
                            THEN 256 * ln(256e0 / zeros) ELSE e END AS v
                FROM (SELECT (0.7213e0 / (1 + 1.079e0 / 256)) * 256 * 256 /
                        (sum(power(2e0, -max_rho)) + (256 - count(*))) AS e,
                        256 - count(*) AS zeros FROM rb)),
         eu AS (SELECT CASE WHEN e <= 640 AND zeros > 0
                            THEN 256 * ln(256e0 / zeros) ELSE e END AS v
                FROM (SELECT (0.7213e0 / (1 + 1.079e0 / 256)) * 256 * 256 /
                        (sum(power(2e0, -max_rho)) + (256 - count(*))) AS e,
                        256 - count(*) AS zeros FROM ru)),
         ex AS (SELECT
                  (SELECT count(*) FROM documents WHERE doc_id < 300)::BIGINT AS a,
                  (SELECT count(*) FROM documents WHERE doc_id >= 200)::BIGINT AS b,
                  (SELECT count(*) FROM documents
                   WHERE doc_id >= 200 AND doc_id < 300)::BIGINT AS i)
         SELECT round_even(ea.v * 1e6, 0) / 1e6 AS est_a,
                round_even(eb.v * 1e6, 0) / 1e6 AS est_b,
                round_even(eu.v * 1e6, 0) / 1e6 AS est_union,
                round_even((ea.v + eb.v - eu.v) * 1e6, 0) / 1e6 AS est_inter,
                round_even((ea.v + eb.v - eu.v) / eu.v * 1e6, 0) / 1e6
                  AS jaccard_est,
                ex.a AS exact_a, ex.b AS exact_b, ex.i AS exact_inter
         FROM ea, eb, eu, ex""",

    // q154: every walk re-taken recursively — sorted DISTINCT neighbor
    // lists, successor = nbrs[h60("cur|wid|step") mod deg + 1], dead ends
    // stop early; strings and ints only, hash-exact
    "q154_graph_walks" ->
      s"""WITH RECURSIVE
         e AS (SELECT DISTINCT src, dst
               FROM read_parquet('${auxDir}/q154_edges/*.parquet')),
         adj AS (SELECT src, list(dst ORDER BY dst) AS nbrs FROM e GROUP BY 1),
         n AS (SELECT node FROM read_parquet('${auxDir}/q154_nodes/*.parquet')),
         g AS (SELECT unnest(generate_series(0, 1))::INTEGER AS wid),
         w(start, wid, step, cur) AS (
           SELECT n.node, g.wid, 0, n.node FROM n CROSS JOIN g
           UNION ALL
           SELECT w.start, w.wid, w.step + 1,
                  a.nbrs[(('0x' || substr(md5(w.cur || '|' || w.wid::VARCHAR
                      || '|' || w.step::VARCHAR), 1, 15))::BIGINT
                    % len(a.nbrs) + 1)::INTEGER]
           FROM w JOIN adj a ON a.src = w.cur
           WHERE w.step < 4)
         SELECT start, wid, step::INTEGER AS step, cur AS node FROM w""",

    // q155: 5 unrolled BPE rounds from the dumped segmented vocabulary —
    // identical pair counts, argmax ties, and boundary-exact fold
    "q155_bpe_merges" -> {
      val out = (1 to 5).map(i =>
        s"SELECT $i AS merge_idx, l, r, cnt AS pair_count FROM b$i")
        .mkString(" UNION ALL ")
      s"""${bpeRoundsSql("q155_words")}
         SELECT * FROM ($out) ORDER BY merge_idx"""
    },

    // q156: the same 5 rounds, then the MERGED vocabulary's token stats
    // from w5 — the encode side verified off the training chain's output
    "q156_bpe_encode" ->
      s"""${bpeRoundsSql("q156_words")},
         tok AS (SELECT unnest(string_split(w, ' ')) AS tok, freq FROM w5),
         tc AS (SELECT tok, sum(freq)::BIGINT AS total FROM tok GROUP BY 1)
         SELECT row_number() OVER (ORDER BY total DESC, tok ASC)::INTEGER
                  AS rank, tok, total
         FROM tc ORDER BY total DESC, tok ASC LIMIT 20""",

    // q128: bucket-join candidates from the dumped bands, q24's shingle
    // Jaccard over the reconstructed corpora, dup_existing > dup_batch
    "q128_incremental_dedup" ->
      s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         inc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
                 UNION ALL
                 SELECT doc_id + 1000, text FROM documents WHERE doc_id < 20),
         bo AS (SELECT doc_id, band, band_hash
                FROM read_parquet('${auxDir}/q128_bands_old/*.parquet')),
         bn AS (SELECT doc_id, band, band_hash
                FROM read_parquet('${auxDir}/q128_bands_new/*.parquet')),
         allb AS (SELECT doc_id, band, band_hash, 0 AS side FROM bo
                  UNION ALL
                  SELECT doc_id, band, band_hash, 1 AS side FROM bn),
         ok AS (SELECT band, band_hash FROM allb
                GROUP BY band, band_hash HAVING count(*) <= 1000),
         capped AS (SELECT allb.* FROM allb JOIN ok USING (band, band_hash)),
         crossc AS (SELECT DISTINCT n.doc_id AS id1, o.doc_id AS id2
                    FROM capped n JOIN capped o USING (band, band_hash)
                    WHERE n.side = 1 AND o.side = 0),
         intrac AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                    FROM capped a JOIN capped b USING (band, band_hash)
                    WHERE a.side = 1 AND b.side = 1 AND a.doc_id < b.doc_id),
         corpus AS (SELECT * FROM ex UNION ALL SELECT * FROM inc),
         tok AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS toks
                 FROM corpus),
         sh AS (SELECT doc_id,
                  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                       ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                           for i in generate_series(1, len(toks) - 2)])
                  END AS shs
                FROM tok),
         crosshit AS (SELECT DISTINCT c.id1 AS doc_id
                      FROM crossc c
                      JOIN sh a ON a.doc_id = c.id1
                      JOIN sh b ON b.doc_id = c.id2
                      WHERE len(list_distinct(list_concat(a.shs, b.shs))) > 0
                        AND len(list_intersect(a.shs, b.shs)) * 1.0
                            / len(list_distinct(list_concat(a.shs, b.shs))) >= 0.8),
         intrahit AS (SELECT DISTINCT c.id2 AS doc_id
                      FROM intrac c
                      JOIN sh a ON a.doc_id = c.id1
                      JOIN sh b ON b.doc_id = c.id2
                      WHERE len(list_distinct(list_concat(a.shs, b.shs))) > 0
                        AND len(list_intersect(a.shs, b.shs)) * 1.0
                            / len(list_distinct(list_concat(a.shs, b.shs))) >= 0.8)
         SELECT i.doc_id,
                CASE WHEN ch.doc_id IS NOT NULL THEN 'dup_existing'
                     WHEN ih.doc_id IS NOT NULL THEN 'dup_batch'
                     ELSE 'kept' END AS verdict
         FROM inc i
         LEFT JOIN crosshit ch ON i.doc_id = ch.doc_id
         LEFT JOIN intrahit ih ON i.doc_id = ih.doc_id""",

    // q129: merged daily registers must equal registers over ALL events —
    // q97's replay at p=8 (rho via the bit-test CASE chain)
    "q129_hll_merge" -> {
      val w = 60 - 8
      val rhoCase = (1 to w).map(r =>
        s"WHEN (rem >> ${w - r}) & 1 = 1 THEN $r").mkString(" ")
      s"""WITH h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                     FROM events),
         b AS (SELECT h >> $w AS bucket,
                      h & ((1::BIGINT << $w) - 1) AS rem FROM h),
         r AS (SELECT bucket, CASE $rhoCase ELSE ${w + 1} END AS rho FROM b)
         SELECT bucket, max(rho) AS max_rho FROM r GROUP BY 1"""
    },

    // q118: coupling's transposed twin — same cap, same pair algebra, on
    // the shared SOURCE instead of the shared target
    "q118_cocitation" ->
      s"""WITH e AS (SELECT DISTINCT src, dst
                     FROM read_parquet('${auxDir}/q118_edges/*.parquet')),
         keep AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 25),
         ke AS (SELECT e.src, e.dst FROM e JOIN keep USING (src)),
         pairs AS (SELECT a.dst AS url1, b.dst AS url2,
                          count(*)::BIGINT AS shared
                   FROM ke a JOIN ke b
                     ON a.src = b.src AND a.dst < b.dst
                   GROUP BY 1, 2)
         SELECT url1, url2, shared FROM pairs
         ORDER BY shared DESC, url1 ASC, url2 ASC LIMIT 20""",

    // q108: the lag-window pair mining replayed over the dumped log
    "q108_reformulations" ->
      s"""WITH l AS (SELECT "user", ts, query
                     FROM read_parquet('${auxDir}/q108_log/*.parquet')),
         p AS (SELECT "user", query,
                      lag(query) OVER w AS prev,
                      epoch(ts) - epoch(lag(ts) OVER w) AS gap
               FROM l WINDOW w AS (PARTITION BY "user" ORDER BY ts)),
         c AS (SELECT prev, query AS next, count(*)::BIGINT AS cnt
               FROM p
               WHERE prev IS NOT NULL AND prev <> query
                 AND gap > 0 AND gap <= 60
               GROUP BY 1, 2)
         SELECT prev, next, cnt FROM c WHERE cnt >= 2
         ORDER BY cnt DESC, prev ASC, next ASC LIMIT 30""",

    // q100: the streaming-maintained sketch must equal the batch
    // registers verbatim — q97's oracle applies unchanged
    "q100_stream_hll" -> {
      val w = 60 - 9
      val rhoCase = (1 to w).map(r =>
        s"WHEN (rem >> ${w - r}) & 1 = 1 THEN $r").mkString(" ")
      s"""WITH h AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                     FROM events),
         b AS (SELECT h >> $w AS bucket,
                      h & ((1::BIGINT << $w) - 1) AS rem FROM h),
         r AS (SELECT bucket, CASE $rhoCase ELSE ${w + 1} END AS rho FROM b)
         SELECT bucket, max(rho) AS max_rho FROM r GROUP BY 1"""
    },

    // q99: the interval build must equal the same window algebra in SQL
    "q99_version_history" ->
      """WITH f AS (
           SELECT doc_id, i AS gen,
                  CASE WHEN doc_id % (i + 1) = 0 THEN text || '#' || i
                       ELSE text END AS content
           FROM documents CROSS JOIN range(1, 5) t(i)),
         fp AS (SELECT doc_id, gen::INTEGER AS gen, md5(content) AS fingerprint
                FROM f),
         c AS (SELECT *,
                 CASE WHEN lag(fingerprint) OVER
                        (PARTITION BY doc_id ORDER BY gen)
                      IS NOT DISTINCT FROM fingerprint THEN 0 ELSE 1 END AS chg
               FROM fp),
         v AS (SELECT *,
                 sum(chg) OVER (PARTITION BY doc_id ORDER BY gen
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS version
               FROM c),
         pv AS (SELECT doc_id, version, min(fingerprint) AS fingerprint,
                       min(gen) AS valid_from
                FROM v GROUP BY 1, 2)
         SELECT doc_id, version, fingerprint, valid_from,
                lead(valid_from) OVER (PARTITION BY doc_id ORDER BY version)
                  AS valid_to
         FROM pv""",
    "q59_conjunctive_bm25" -> conjunctiveBm25Sql(10, triplesName(1000)),

    // q60: same probes, same dictionary (triples df ≡ dictionary df), same
    // ranking rule; DuckDB levenshtein == Spark levenshtein (classic DP)
    "q60_spell_correct" ->
      s"""WITH t(qt) AS (VALUES ('galxy'), ('enginee'), ('stattion'),
                ('distrubuted'), ('qery'), ('oficer'), ('history'), ('zzzzzzzz')),
         tr AS (SELECT * FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')),
         dict AS (SELECT term, count(*)::BIGINT AS df FROM tr GROUP BY term),
         missing AS (SELECT qt FROM t WHERE qt NOT IN (SELECT term FROM dict)),
         cand AS (SELECT m.qt, d.term, levenshtein(m.qt, d.term) AS dist, d.df
                  FROM missing m JOIN dict d ON levenshtein(m.qt, d.term) <= 2),
         ranked AS (SELECT qt, term, dist, df,
                    row_number() OVER (PARTITION BY qt
                                       ORDER BY dist, df DESC, term) AS rn
                    FROM cand)
         SELECT qt AS query_term, term AS suggestion, dist::INTEGER AS dist, df
         FROM ranked WHERE rn = 1""",

    // q61: same windows (0-based starts, 1-based inclusive list slices),
    // same hit rule, argmax by (hits desc, start asc)
    "q61_snippets" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         nz AS (SELECT * FROM d WHERE len(l) > 0),
         starts AS (SELECT doc_id, l,
                    unnest(generate_series(0, greatest(len(l) - 15, 0))) AS start
                    FROM nz),
         w AS (SELECT doc_id, start, l[start + 1 : start + 15] AS win FROM starts),
         sc AS (SELECT doc_id, start,
                  len(list_filter(win,
                      t -> list_contains(['spark', 'query', 'table'], lower(t)))) AS hits,
                  array_to_string(win, ' ') AS snippet
                FROM w),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY hits DESC, start ASC) AS rn
                    FROM sc)
         SELECT doc_id, hits::INTEGER AS hits, start::INTEGER AS start, snippet
         FROM ranked WHERE rn = 1""",

    // q62: same lowercased whitespace 13-grams both sides (DuckDB list
    // slices are 1-based inclusive: l[i:i+12] = 13 tokens); benchmark =
    // docs 0-9's gram set, distinct-matched-gram count per corpus doc
    "q62_decontaminate" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         g AS (SELECT doc_id, unnest(generate_series(1, len(l) - 12)) AS i, l
               FROM d WHERE len(l) >= 13),
         grams AS (SELECT doc_id, array_to_string(l[i : i + 12], ' ') AS gram FROM g),
         bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 10),
         hits AS (SELECT c.doc_id, count(DISTINCT c.gram) AS n_hit
                  FROM grams c JOIN bench b USING (gram) GROUP BY c.doc_id)
         SELECT d0.doc_id,
                coalesce(h.n_hit, 0)::BIGINT AS n_hit_grams,
                (h.n_hit IS NOT NULL)::INTEGER AS contaminated
         FROM documents d0 LEFT JOIN hits h USING (doc_id)""",

    // q63: same augmentation, same regexes (Java/RE2-agreeing subset), same
    // order: count emails on raw, mask, count IPs on masked, mask
    "q63_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
                text || ' contact user' || doc_id || '@mail.example.org from 10.'
                     || (doc_id % 200) || '.0.' || (doc_id % 250)
                     || ' port 8080' AS text
              FROM documents),
         e AS (SELECT doc_id,
                len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INTEGER
                  AS n_emails,
                regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g') AS t1
               FROM aug)
         SELECT doc_id,
                regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                    '<IP>', 'g') AS clean_text,
                n_emails,
                len(regexp_extract_all(t1,
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INTEGER AS n_ips
         FROM e""",

    // q64: same weights ((k+1)/210e0), same IEEE evaluation order
    // (w * 300 / cnt), same 60-bit md5-prefix coin mod 1e6
    "q64_mixture_sample" ->
      """WITH cnt AS (SELECT source, count(*)::BIGINT AS cnt
                      FROM documents GROUP BY source),
         rates AS (SELECT source,
                  least(1e0, (substr(source, 4)::BIGINT + 1) / 210e0
                             * 300e0 / cnt) AS rate
                   FROM cnt),
         h AS (SELECT d.doc_id, d.source,
                ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000 AS hm,
                floor(r.rate * 1000000e0)::BIGINT AS thr
               FROM documents d JOIN rates r USING (source))
         SELECT doc_id, source FROM h WHERE hm < thr""",

    // q65: same tokens, same add-one bigram model ((c12+1)/(c1+V), natural
    // log), same position-ordered fold (list_reduce ≡ aggregate(sort))
    "q65_lm_perplexity" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         tok AS (SELECT doc_id, unnest(l) AS w FROM d),
         uni AS (SELECT w AS w1, count(*)::BIGINT AS c1 FROM tok GROUP BY w),
         v AS (SELECT count(*)::BIGINT AS v FROM uni),
         p AS (SELECT doc_id, unnest(generate_series(1, len(l) - 1)) AS pos, l
               FROM d WHERE len(l) >= 2),
         bg AS (SELECT doc_id, pos, l[pos] AS w1, l[pos + 1] AS w2 FROM p),
         bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
         scored AS (SELECT g.doc_id, g.pos,
                           ln((bc.c12 + 1e0) / (u.c1 + v.v)) AS logp
                    FROM bg g
                    JOIN bc USING (w1, w2)
                    JOIN uni u USING (w1)
                    CROSS JOIN v),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                        list_reduce(list_prepend(0e0, list(logp ORDER BY pos)),
                                    (a, b) -> a + b) AS s
                 FROM scored GROUP BY doc_id)
         SELECT d0.doc_id,
                coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
                coalesce(round(-a.s / a.n_bigrams, 4), 0e0) AS nll
         FROM documents d0 LEFT JOIN agg a USING (doc_id)""",

    // q66: same dictionary (triples df), same prefix probes, same
    // (df desc, term asc) top-5 rule
    "q66_autocomplete" ->
      s"""WITH p(prefix) AS (VALUES ('sta'), ('eng'), ('dis'), ('qu'), ('zz')),
         tr AS (SELECT * FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')),
         dict AS (SELECT term, count(*)::BIGINT AS df FROM tr GROUP BY term),
         cand AS (SELECT p.prefix, d.term, d.df
                  FROM dict d JOIN p ON starts_with(d.term, p.prefix)),
         ranked AS (SELECT prefix, term, df,
                    row_number() OVER (PARTITION BY prefix
                                       ORDER BY df DESC, term) AS rank
                    FROM cand)
         SELECT prefix, rank::INTEGER AS rank, term AS completion, df
         FROM ranked WHERE rank <= 5""",

    // q67: same dense lowercased positions, same start-shifted
    // intersection, same fully-pinned (count desc, doc_id asc) top-20
    "q67_phrase_search" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         tok AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, l
                 FROM d),
         p AS (SELECT doc_id, pos, l[pos] AS term FROM tok),
         s0 AS (SELECT doc_id, pos AS start FROM p WHERE term = 'table'),
         s1 AS (SELECT doc_id, pos - 1 AS start FROM p WHERE term = 'hash'),
         occ AS (SELECT s0.doc_id, s0.start
                 FROM s0 JOIN s1 USING (doc_id, start)),
         cnt AS (SELECT doc_id, count(*)::BIGINT AS n_occurrences
                 FROM occ GROUP BY doc_id)
         SELECT doc_id, n_occurrences FROM cnt
         ORDER BY n_occurrences DESC, doc_id ASC LIMIT 20""",

    "q68_hits" -> hitsSql(8),

    // q69: same distinct-presence counts, same df-desc/term-asc top-200
    // vocabulary cap, same exact-integer PMI expression structure
    "q69_related_terms" ->
      """WITH d AS (SELECT doc_id,
                    list_distinct(list_filter(
                      string_split_regex(lower(trim(text)), '\s+'),
                      t -> t <> '')) AS l
                    FROM documents),
         pres AS (SELECT doc_id, unnest(l) AS term FROM d),
         td AS (SELECT term, count(*)::BIGINT AS c FROM pres GROUP BY term),
         top AS (SELECT term, c FROM td ORDER BY c DESC, term ASC LIMIT 200),
         p AS (SELECT pr.doc_id, pr.term, t.c FROM pres pr JOIN top t USING (term)),
         pairs AS (SELECT a.term AS w1, b.term AS w2, a.c AS c1, b.c AS c2,
                          count(*)::BIGINT AS n_pairs
                   FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.term < b.term
                   GROUP BY 1, 2, 3, 4
                   HAVING count(*) >= 5),
         n AS (SELECT count(*)::BIGINT AS n FROM documents)
         SELECT w1, w2, n_pairs,
                round_even(ln((n_pairs * 1e0 * n.n) / (c1 * 1e0 * c2)) * 1e6, 0)
                  / 1e6 AS pmi
         FROM pairs CROSS JOIN n
         ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""",

    // q70: same derived projection, one UNION ALL branch per column
    "q70_profile" ->
      """WITH src AS (SELECT l_orderkey, l_returnflag, l_quantity,
                             nullif(l_linestatus, 'F') AS status_or_null
                      FROM lineitem)
         SELECT 'l_orderkey' AS col_name, count(*)::BIGINT AS n_rows,
                sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
                count(DISTINCT l_orderkey)::BIGINT AS n_distinct FROM src
         UNION ALL
         SELECT 'l_quantity', count(*)::BIGINT,
                sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT l_quantity)::BIGINT FROM src
         UNION ALL
         SELECT 'l_returnflag', count(*)::BIGINT,
                sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT l_returnflag)::BIGINT FROM src
         UNION ALL
         SELECT 'status_or_null', count(*)::BIGINT,
                sum(CASE WHEN status_or_null IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT status_or_null)::BIGINT FROM src""",

    // q71: independent as-of implementation — LATERAL top-1 per purchase
    // under the same (ts desc, event_id desc) recency rule, inclusive ts
    "q71_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts, p.value,
                r.ts AS asof_ts, r.event_id AS asof_event_id,
                r.value AS asof_value
         FROM p LEFT JOIN LATERAL (
           SELECT ts, event_id, value FROM v
           WHERE v.user_id = p.user_id AND v.ts <= p.ts
           ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) r ON true""",

    // q72: same rank-targeted interpolation expression, bit-identical IEEE
    // ops (pos = p*(n-1)+1; lo + (hi-lo)*(pos-floor(pos))) — no rounding
    "q72_quantiles" ->
      """WITH src AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS v
                      FROM lineitem),
         r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                      count(*) OVER (PARTITION BY g) AS n FROM src),
         ps(p) AS (VALUES (0e0), (0.25e0), (0.5e0), (0.75e0), (0.9e0),
                          (0.99e0), (1e0)),
         hit AS (SELECT g, p, v, rn, p * (n - 1) + 1 AS pos
                 FROM r CROSS JOIN ps
                 WHERE rn = floor(p * (n - 1) + 1)
                    OR rn = ceil(p * (n - 1) + 1)),
         a AS (SELECT g, p,
                      max(CASE WHEN rn = floor(pos) THEN v END) AS lo,
                      max(CASE WHEN rn = ceil(pos) THEN v END) AS hi,
                      max(pos) AS pos
               FROM hit GROUP BY g, p)
         SELECT g AS l_returnflag, p,
                lo + (hi - lo) * (pos - floor(pos)) AS q
         FROM a""",

    // q73: same cube, same grouping-bit algebra, same exact integer cents
    "q73_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS priority,
                (GROUPING(o_orderstatus) * 2
                 + GROUPING(o_orderpriority))::INTEGER AS gid,
                count(*)::BIGINT AS n_orders,
                sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",

    // q74: same v2 synthesis, same md5-fingerprint classification
    "q74_recrawl_delta" ->
      """WITH olds AS (SELECT doc_id, text FROM documents),
         news AS (SELECT doc_id,
                         CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                              ELSE text END AS text
                  FROM documents WHERE doc_id >= 20
                  UNION ALL
                  SELECT 10000 + i, 'new page ' || i::VARCHAR
                  FROM generate_series(0, 19) t(i)),
         o AS (SELECT doc_id, md5(text) AS old_fp FROM olds),
         n AS (SELECT doc_id, md5(text) AS new_fp FROM news)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN old_fp = new_fp THEN 'unchanged'
                     ELSE 'changed' END AS status
         FROM o FULL JOIN n ON o.doc_id = n.doc_id""",

    // q75: same indegree priority, same per-host (priority desc, url asc)
    // queue, same 25-url budget
    "q75_frontier" ->
      s"""WITH nodes AS (SELECT url FROM read_parquet('${auxDir}/q75_nodes/*.parquet')),
         edges AS (SELECT dst FROM read_parquet('${auxDir}/q75_edges/*.parquet')),
         ind AS (SELECT dst AS url, count(*)::BIGINT AS indegree
                 FROM edges GROUP BY dst),
         cand AS (SELECT nodes.url,
                         coalesce(ind.indegree, 0)::BIGINT AS indegree,
                         regexp_extract(nodes.url, '^https?://([^/:]+)', 1) AS host
                  FROM nodes LEFT JOIN ind USING (url)),
         w AS (SELECT url, indegree, host,
                      row_number() OVER (PARTITION BY host
                                         ORDER BY indegree DESC, url ASC) AS wave
               FROM cand)
         SELECT url, indegree, host, wave::INTEGER AS wave
         FROM w WHERE wave <= 25""",

    // q76: the compacted snapshot must agg identically to the source table
    "q76_compact" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
                sum(n_chars)::BIGINT AS sum_chars
         FROM documents GROUP BY lang""",

    // q77: same portable hash, same u-mapping, same ln(u)/w key, same
    // (key desc, doc_id asc) top-50
    "q77_weighted_sample" ->
      """WITH h AS (SELECT doc_id, n_chars,
                    ('0x' || substr(md5(doc_id::VARCHAR || 'g77'), 1, 15))::BIGINT AS h
                    FROM documents WHERE n_chars > 0),
         k AS (SELECT doc_id, n_chars,
                      ln((h % 1125899906842624 + 1) / 1125899906842626e0)
                        / n_chars AS key
               FROM h)
         SELECT doc_id, n_chars, round_even(key * 1e6, 0) / 1e6 AS samp_key
         FROM k ORDER BY key DESC, doc_id ASC LIMIT 50""",

    // q78: same distinct edges, same <=25-indegree target cap, same
    // (shared desc, src1, src2) top-20
    "q78_related_pages" ->
      s"""WITH e AS (SELECT DISTINCT src, dst
                     FROM read_parquet('${auxDir}/q78_edges/*.parquet')),
         keep AS (SELECT dst FROM e GROUP BY dst HAVING count(*) <= 25),
         ke AS (SELECT e.src, e.dst FROM e JOIN keep USING (dst)),
         pairs AS (SELECT a.src AS src1, b.src AS src2,
                          count(*)::BIGINT AS shared
                   FROM ke a JOIN ke b
                     ON a.dst = b.dst AND a.src < b.src
                   GROUP BY a.src, b.src)
         SELECT src1, src2, shared FROM pairs
         ORDER BY shared DESC, src1 ASC, src2 ASC LIMIT 20""",

    // q79: same df derivation as q66's dictionary, same global rank
    // targeting and interpolation arithmetic as q72
    "q79_index_stats" ->
      s"""WITH tr AS (SELECT term, count(*)::BIGINT AS df
                      FROM read_parquet('${auxDir}/${triplesName(1000)}/*.parquet')
                      GROUP BY term),
         r AS (SELECT df::DOUBLE AS v,
                      row_number() OVER (ORDER BY df) AS rn,
                      count(*) OVER () AS n
               FROM tr),
         ps(p) AS (VALUES (0e0), (0.5e0), (0.9e0), (0.99e0), (1e0)),
         hit AS (SELECT p, v, rn, p * (n - 1) + 1 AS pos
                 FROM r CROSS JOIN ps
                 WHERE rn = floor(p * (n - 1) + 1)
                    OR rn = ceil(p * (n - 1) + 1)),
         a AS (SELECT p, max(CASE WHEN rn = floor(pos) THEN v END) AS lo,
                      max(CASE WHEN rn = ceil(pos) THEN v END) AS hi,
                      max(pos) AS pos
               FROM hit GROUP BY p)
         SELECT p, lo + (hi - lo) * (pos - floor(pos)) AS q FROM a""",

    // q80: same min/max span, same least(floor((v-mn)/width), bins-1) bin
    "q80_histogram" ->
      """WITH mm AS (SELECT min(l_extendedprice::DOUBLE) AS mn,
                            max(l_extendedprice::DOUBLE) AS mx
                     FROM lineitem),
         b AS (SELECT (CASE WHEN mx = mn THEN 0
                            ELSE least(floor((l_extendedprice::DOUBLE - mn)
                                             / ((mx - mn) / 8)), 7)
                       END)::INTEGER AS bin,
                      l_extendedprice::DOUBLE AS v
               FROM lineitem CROSS JOIN mm
               WHERE l_extendedprice IS NOT NULL)
         SELECT bin, count(*)::BIGINT AS n_rows,
                min(v) AS bin_min, max(v) AS bin_max
         FROM b GROUP BY bin""",

    // q81: the salted plan must equal this plain join verbatim
    "q81_salted_join" ->
      """WITH dim AS (SELECT DISTINCT user_id,
                             (user_id % 5)::INTEGER AS segment
                      FROM events),
         j AS (SELECT e.value, d.segment
               FROM events e JOIN dim d USING (user_id))
         SELECT segment, count(*)::BIGINT AS n_events,
                round(sum(value), 4) AS sum_value
         FROM j GROUP BY segment""",

    // q82: the engine's two snapshot generations must diff exactly like
    // the two tokenizer-truth triple dumps
    "q82_index_delta" ->
      s"""WITH v1 AS (SELECT url, term, tf AS tf_v1
                      FROM read_parquet('${auxDir}/q82_tripv1/*.parquet')),
         v2 AS (SELECT url, term, tf AS tf_v2
                FROM read_parquet('${auxDir}/q82_tripv2/*.parquet')),
         d AS (SELECT coalesce(v1.url, v2.url) AS url,
                      coalesce(v1.term, v2.term) AS term,
                      tf_v1, tf_v2,
                      CASE WHEN v1.url IS NULL THEN 'added'
                           WHEN v2.url IS NULL THEN 'removed'
                           WHEN tf_v1 = tf_v2 THEN 'unchanged'
                           ELSE 'changed' END AS status
               FROM v1 FULL JOIN v2
                 ON v1.url = v2.url AND v1.term = v2.term)
         SELECT url, term, tf_v1, tf_v2, status
         FROM d WHERE status <> 'unchanged'""",

    // q83: recursive reachability expansion, min hop per url — must equal
    // the frontier-iterated BFS
    "q83_bfs_depth" ->
      s"""WITH RECURSIVE r AS (
           SELECT url, 0 AS hop
           FROM read_parquet('${auxDir}/q83_seeds/*.parquet')
           UNION
           SELECT e.dst AS url, r.hop + 1 AS hop
           FROM r JOIN read_parquet('${auxDir}/q83_edges/*.parquet') e
             ON e.src = r.url
           WHERE r.hop < 6)
         SELECT url, min(hop)::INTEGER AS hop FROM r GROUP BY url""",

    // q84: the deletion-neighborhood plan must equal the naive quadratic
    // levenshtein join verbatim
    "q84_term_neighbors" ->
      s"""WITH v AS (SELECT term, df
                     FROM read_parquet('${auxDir}/q84_vocab/*.parquet')
                     WHERE length(term) >= 3)
         SELECT a.term AS term_a, b.term AS term_b,
                a.df AS df_a, b.df AS df_b
         FROM v a JOIN v b
           ON a.term < b.term AND levenshtein(a.term, b.term) = 1""",

    // q85: the bucketized band join must equal the naive inequality join
    "q85_range_join" ->
      """WITH mm AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
                     FROM events),
         w AS (SELECT i AS window_id,
                      mn + i * ((mx - mn) // 40) AS ws,
                      mn + i * ((mx - mn) // 40) + 2 * ((mx - mn) // 40) AS we
               FROM mm CROSS JOIN range(0, 40) t(i)),
         j AS (SELECT w.window_id, e.value
               FROM events e JOIN w
                 ON epoch_us(e.ts) BETWEEN w.ws AND w.we)
         SELECT window_id, count(*)::BIGINT AS n_events,
                round(sum(value), 4) AS sum_value
         FROM j GROUP BY window_id""",
    "q40_search_direct" -> refSearchSql("galaxy engine search", 1000, triplesName(1000), withRank = true),
    "q41_search_openvocab" -> refSearchSql("compression encoding decoder", 1000, triplesName(1000), withRank = true),
    "q43_segmented_merge" -> refSearchSql("12 station", 1000, triplesName(1000), withRank = true),

    "q38_pq_topk" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
          cb AS (SELECT m, cid, sub FROM read_parquet('${auxDir}/q38_codebooks/*.parquet')),
          dist AS (
            SELECT cb.m, cb.cid,
                   list_reduce([ (cb.sub[i] - q.v[cb.m * 8 + i])
                                 * (cb.sub[i] - q.v[cb.m * 8 + i])
                                 for i in generate_series(1, 8) ],
                               (a, b) -> a + b) AS dd
            FROM cb CROSS JOIN q),
          codes AS (SELECT vec_id, code FROM read_parquet('${auxDir}/q38_codes/*.parquet')),
          pairs AS (SELECT c.vec_id, g.i - 1 AS m, c.code[g.i] AS cid
                    FROM codes c CROSS JOIN generate_series(1, 8) AS g(i)),
          joined AS (SELECT p.vec_id, p.m, d.dd FROM pairs p JOIN dist d USING (m, cid)),
          adc AS (SELECT vec_id, list_reduce(list(dd ORDER BY m), (a, b) -> a + b) AS s
                  FROM joined GROUP BY vec_id)
          SELECT vec_id, round_even(s * 1e6, 0) / 1e6 AS adc_dist
          FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""",

    // q42 = the batch sessionization oracle VERBATIM: streaming must land
    // on exactly the batch result (sentinels close trailing sessions)
    "q42_sessionize_stream" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  floor(epoch(ts))::BIGINT AS sec,
                  lag(floor(epoch(ts))::BIGINT) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
           FROM events),
         m AS (
           SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 86400
                          THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (
           SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess_no
           FROM m)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, sess_no""",

    "q37_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, value,
                  floor(epoch(ts))::BIGINT AS sec,
                  lag(floor(epoch(ts))::BIGINT) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
           FROM events),
         m AS (
           SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 86400
                          THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (
           SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sess_no
           FROM m)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, sess_no""",

    // q55: C4-style line dedup — 10-token lines, drop lines in >=2 docs,
    // reassemble survivors in order; every input doc appears in the output
    "q55_line_dedup" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
                    FROM documents),
         pos AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l FROM d),
         tok AS (SELECT doc_id, i, l[i] AS tok FROM pos WHERE l[i] <> ''),
         lines AS (SELECT doc_id, (i - 1) // 10 AS line_id,
                          string_agg(tok, ' ' ORDER BY i) AS line
                   FROM tok GROUP BY doc_id, (i - 1) // 10),
         dup AS (SELECT line FROM lines GROUP BY line
                 HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM dup)),
         per_doc AS (SELECT doc_id,
                            string_agg(line, ' ' ORDER BY line_id) AS clean_text,
                            count(*) AS n_lines_kept
                     FROM kept GROUP BY doc_id),
         totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
         SELECT d0.doc_id,
                coalesce(p.clean_text, '') AS clean_text,
                coalesce(t.n_lines, 0)::BIGINT AS n_lines,
                coalesce(p.n_lines_kept, 0)::BIGINT AS n_lines_kept
         FROM documents d0
         LEFT JOIN totals t USING (doc_id)
         LEFT JOIN per_doc p USING (doc_id)""",

    // q56: duplicate n-gram fractions (1 - distinct/total over sliding word
    // n-grams); 0.0 below n tokens
    "q56_repetition" ->
      """WITH d AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\s+'),
                                t -> t <> '') AS l
                    FROM documents),
         g AS (SELECT doc_id, len(l) AS n,
                 [l[i] || ' ' || l[i+1] for i in generate_series(1, len(l) - 1)] AS g2,
                 [l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                  for i in generate_series(1, len(l) - 2)] AS g3
               FROM d)
         SELECT doc_id,
           CASE WHEN n < 2 THEN 0.0
                ELSE round(1e0 - len(list_distinct(g2))::DOUBLE / len(g2), 4)
           END AS dup_bigram_frac,
           CASE WHEN n < 3 THEN 0.0
                ELSE round(1e0 - len(list_distinct(g3))::DOUBLE / len(g3), 4)
           END AS dup_trigram_frac
         FROM g""",

    // q57: tf-idf more-like-this — idf = ln((N+1)/(df+1)) + 1, cosine with
    // TERM-ORDERED folds for dot and norms (bit-identical to the engine's
    // sort_array/aggregate), top-5 per query doc, ties on doc_id
    "q57_more_like_this" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
                    FROM documents),
         pos AS (SELECT doc_id, unnest(l) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                FROM pos WHERE term <> '' GROUP BY doc_id, term),
         nn AS (SELECT count(*) AS n FROM documents),
         idf AS (SELECT term, ln((nn.n + 1e0) / (count(*) + 1e0)) + 1e0 AS idf
                 FROM tf, nn GROUP BY term, nn.n),
         w AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS w
               FROM tf JOIN idf USING (term)),
         nrm AS (SELECT doc_id,
                        sqrt(list_reduce(list_prepend(0e0, list(w * w ORDER BY term)),
                                         (a, b) -> a + b)) AS nrm
                 FROM w GROUP BY doc_id),
         dv AS (SELECT w.doc_id, w.term, w.w, nrm.nrm
                FROM w JOIN nrm USING (doc_id)),
         qv AS (SELECT doc_id AS query_id, term, w AS qw, nrm AS qnrm
                FROM dv WHERE doc_id < 5),
         dot AS (SELECT qv.query_id, dv.doc_id,
                        list_reduce(list_prepend(0e0, list(qv.qw * dv.w ORDER BY dv.term)),
                                    (a, b) -> a + b)
                          / (any_value(qv.qnrm) * any_value(dv.nrm)) AS score
                 FROM dv JOIN qv USING (term)
                 WHERE dv.doc_id <> qv.query_id
                 GROUP BY qv.query_id, dv.doc_id),
         ranked AS (SELECT query_id, doc_id, score,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, doc_id ASC) AS rank
                    FROM dot)
         SELECT query_id, rank::INTEGER AS rank, doc_id, round(score, 4) AS score
         FROM ranked WHERE rank <= 5""",

    // q58: link inversion over the dumped pages — same regex extraction as
    // the engine, split-at-'#' fragment strip (cross-engine-safe), exact
    // self-links excluded, 1000-term windowed sorted-distinct cap
    "q58_anchor_text" ->
      s"""WITH p AS (SELECT url, html FROM read_parquet('${auxDir}/q36_pages/*.parquet')),
         m AS (SELECT url,
                 regexp_extract_all(html, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hrefs,
                 regexp_extract_all(html, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS texts
               FROM p),
         links0 AS (SELECT url AS src, split_part(unnest(hrefs), '#', 1) AS target,
                           unnest(texts) AS anchor
                    FROM m),
         links AS (SELECT * FROM links0 WHERE target <> src),
         n AS (SELECT target, count(*) AS n_links FROM links GROUP BY target),
         tok0 AS (SELECT target,
                         unnest(string_split_regex(lower(trim(anchor)), '\\s+')) AS term
                  FROM links),
         tok AS (SELECT DISTINCT target, term FROM tok0 WHERE term <> ''),
         capped AS (SELECT target, term FROM tok
                    QUALIFY row_number() OVER (PARTITION BY target ORDER BY term) <= 1000),
         at AS (SELECT target, string_agg(term, ',' ORDER BY term) AS anchor_terms
                FROM capped GROUP BY target)
         SELECT n.target, n.n_links, coalesce(at.anchor_terms, '') AS anchor_terms
         FROM n LEFT JOIN at USING (target)"""
  )
}
