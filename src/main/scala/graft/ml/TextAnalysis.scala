package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. Column-first
  * (codegen'd built-ins) where possible; pure Scala functions (narrow maps)
  * for the heuristics SQL can't express.
  */
object TextAnalysis {

  // ------------------------------------------------------------ token counts
  /** Whitespace token count (codegen'd). */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: word pieces + digits + punctuation singletons
    * (a cheap proxy for tokenizer cost estimation at corpus scale). */
  private val bpeIsh = "[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\\s]"

  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeIsh), lit(0)))

  // --------------------------------------------------------------- quality
  // derived from stopwords("en") below — ONE English stopword list; under
  // \b anchors the alternation order is irrelevant to the match set
  private lazy val enStop = stopwords("en").toSeq.sorted.mkString("\\b(", "|", ")\\b")

  def stopwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(enStop), lit(0)))

  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0)))
        .cast("double") / length(text))

  /** Composite quality score in [0,1]: length band + stopword density +
    * punctuation sanity (the C4/Gopher-style cheap filters). */
  def qualityScore(text: Column): Column = {
    val nTok = wsTokenCount(text).cast("double")
    val lenOk = when(nTok.between(10, 10000), 1.0).otherwise(0.0)
    val stopDensity = when(nTok === 0, 0.0).otherwise(stopwordCount(text) / nTok)
    val stopOk = when(stopDensity > 0.05, 1.0).otherwise(stopDensity * 20)
    val punctOk = when(punctRatio(text) < 0.2, 1.0).otherwise(0.0)
    round((lenOk + stopOk + punctOk) / 3.0, 4)
  }

  // ---------------------------------------------------------------- lang id
  /** Stopword families for 8 languages (+ 'und' fallback). MIRRORED
    * verbatim in the q28 oracle SQL — any edit here must edit both. */
  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "was", "for", "that", "with", "it", "on", "as"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "von"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "dans", "pour", "que", "qui", "des", "du"),
    "es" -> Set("el", "la", "los", "las", "es", "una", "para", "que", "con", "por", "del", "en"),
    "it" -> Set("il", "lo", "di", "che", "non", "un", "una", "per", "sono", "come", "anche", "più"),
    "pt" -> Set("o", "os", "as", "um", "uma", "não", "com", "do", "da", "em", "são", "mais"),
    "nl" -> Set("de", "het", "een", "van", "dat", "op", "te", "zijn", "voor", "niet", "maar", "ook"),
    "sv" -> Set("och", "att", "det", "som", "på", "är", "av", "den", "till", "inte", "har", "om"))

  /** N-gram/stopword-heuristic language ID; "und" (undetermined) when no
    * language scores. Pure function → deterministic narrow map. */
  def langIdOf(text: String): String = {
    if (text == null) return "und" // Spark hands UDFs the raw null
    val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
    if (toks.isEmpty) return "und"
    val scores = stopwords.map { case (lang, sw) => lang -> toks.count(sw.contains) }
    val (best, score) = scores.maxBy { case (l, s) => (s, l) }
    if (score == 0) "und" else best
  }

  def withLangId(df: DataFrame, textCol: String, out: String = "lang_id"): DataFrame = {
    val f = udf(langIdOf _)
    df.withColumn(out, f(col(textCol)))
  }

  // ------------------------------------------------------------ fingerprint
  /** Whitespace-normalized content hash (SQL-expressible fingerprint used
    * by the oracle-checked queries). */
  def normalizedHash(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  // ------------------------------------------------- line-level corpus dedup
  /** C4-style line-level deduplication: drop every "line" that occurs in at
    * least `minDocs` DISTINCT documents anywhere in the corpus (the
    * boilerplate-removal pass C4/RefinedWeb run after document-level dedup —
    * nav bars, cookie banners and footers repeat across pages while real
    * prose does not). The corpus here is single-line text, so a "line" is a
    * fixed window of `lineTokens` whitespace tokens in document order — the
    * same op, parameterized segmentation.
    *
    * Output: one row per input document — `clean_text` (surviving lines
    * re-joined in order; empty when everything was boilerplate), `n_lines`,
    * `n_lines_kept`.
    *
    * Scale shape: tokenize/segment are narrow codegen'd projections; the
    * global duplicate-line set is ONE map-side-combined aggregation keyed by
    * line text; dropping is a shuffle anti-join on the line (the duplicate
    * set is corpus-dependent and unbounded, so it is NOT broadcast — AQE may
    * still choose to if it measures small); reassembly groups by doc. No
    * driver-side set, no O(n²) pair comparison, text shuffles at line (not
    * document) granularity. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                lineTokens: Int = 10, minDocs: Int = 2): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive, got $lineTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = df
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val lines = toks
      .withColumn("line_id", (col("pos") / lineTokens).cast("int"))
      .groupBy(col("doc_id"), col("line_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("line"))
    val dupLines = lines.groupBy(col("line").as("lk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("lk"))
    val perDoc = lines
      .join(dupLines, lines("line") === dupLines("lk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("line_id"), col("line")))),
        x => x.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    val totals = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    // every input doc appears in the output, even all-boilerplate (empty
    // clean_text) and zero-token (0 lines) ones
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"))
  }

  // --------------------------------------------------- repetition ratios
  /** Duplicate-n-gram fraction of a document: 1 − distinct/total over the
    * sliding word n-grams (the Gopher/RefinedWeb "repetition" quality
    * signal — templated and looping text scores high, prose scores low).
    * Pure codegen'd column expression (narrow map); 0.0 when the document
    * has fewer than n tokens. */
  def repetitionRatio(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    val cnt = size(toks)
    val grams = transform(sequence(lit(0), cnt - n),
      i => array_join(slice(toks, i + 1, lit(n)), " "))
    when(cnt < n, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
  }

  // ---------------------------------------------------------- PII redaction
  /** Email / IPv4 patterns kept to the regex subset where Java's engine and
    * RE2-style engines (the DuckDB oracle) agree exactly: no backtracking
    * constructs, ASCII classes, possessive-free quantifiers. MIRRORED
    * verbatim in the q63 oracle SQL. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction pass (the pre-training scrub): mask emails then IPv4
    * addresses, reporting per-document counts. IPs are counted AFTER email
    * masking so an address-like mail host is never double-counted. Pure
    * narrow codegen'd projection — no shuffle, no UDF; at 100 TB this runs
    * at scan speed and the only cost is the regex automaton per row. */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val nEmails = size(regexp_extract_all(t0, lit(emailRe), lit(0)))
    val t1 = regexp_replace(t0, emailRe, "<EMAIL>")
    val nIps = size(regexp_extract_all(t1, lit(ipv4Re), lit(0)))
    val t2 = regexp_replace(t1, ipv4Re, "<IP>")
    df.select(col(idCol).cast("long").as("doc_id"),
      t2.as("clean_text"), nEmails.as("n_emails"), nIps.as("n_ips"))
  }

  // ------------------------------------------------------- sequence packing
  /** Pack documents into fixed-token-budget training shards ("packs") in
    * deterministic `idCol` order — the sequence-packing step of an LLM data
    * pipeline (documents concatenate into context windows; a doc starting
    * inside pack p may spill into p+1, the standard concat-and-split
    * layout). Output per doc: `pack_id` = tokensBefore / maxTokens and
    * `pack_offset` = tokensBefore % maxTokens, where tokensBefore is the
    * EXACT global running token count in id order: the
    * [[graft.util.GlobalRank]] prefix sum of tokens. */
  def packSequences(df: DataFrame, idCol: String, tokenCol: Column,
                    maxTokens: Long, parts: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val narrow = df.select(col(idCol).cast("long").as("id"),
      tokenCol.cast("long").as("n_tokens"))
    graft.util.GlobalRank.prefixSum(narrow, Seq(col("id").asc), col("n_tokens"),
        "before", parts)
      .select(col("id").as(idCol), col("n_tokens"),
        expr(s"before div ${maxTokens}L").as("pack_id"),
        (col("before") % maxTokens).as("pack_offset"))
  }
}
