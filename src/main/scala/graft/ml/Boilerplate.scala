package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-source boilerplate removal — the web-corpus curation pass after
  * global line dedup ([[TextAnalysis.lineDedup]]): navigation bars,
  * cookie banners and footer templates repeat on MOST pages of one site
  * but nowhere else, so the signal is a line's document-frequency WITHIN
  * its source, not across the corpus. A line occurring on ≥ `minFrac` of
  * a source's documents is template chrome and is stripped from that
  * source's documents only (the same sentence on another source is left
  * alone — it isn't chrome there).
  *
  * Uses [[TextAnalysis.lineDedup]]'s fixed-token pseudo-line convention
  * (10-token windows) so both curation passes segment text identically.
  *
  * Scale shape: text shuffles once at line granularity keyed by (source,
  * line) for the frequency count (map-side combined), once by doc for
  * reassembly; the per-source doc totals are a narrow agg joined back on
  * source. Nothing driver-sized, nothing quadratic.
  */
object Boilerplate {

  /** Strip per-source boilerplate lines. Returns one row per input doc:
    * (doc_id, clean_text, n_lines, n_lines_kept). */
  def stripSourceBoilerplate(df: DataFrame, idCol: String, sourceCol: String,
                             textCol: String, lineTokens: Int = 10,
                             minFrac: Double = 0.5): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive, got $lineTokens")
    require(minFrac > 0.0 && minFrac <= 1.0, s"minFrac must be in (0,1], got $minFrac")
    val toks = df
      .select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("source"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val lines = toks
      .withColumn("line_id", (col("pos") / lineTokens).cast("int"))
      .groupBy(col("doc_id"), col("source"), col("line_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("line"))
    val docTotals = df.groupBy(col(sourceCol).as("source"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val chrome = lines.groupBy(col("source"), col("line").as("lk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .join(docTotals, "source")
      .filter(col("nd") >= col("n_docs") * minFrac)
      .select(col("source").as("c_source"), col("lk"))
    val perDoc = lines
      .join(chrome, lines("source") === chrome("c_source") &&
        lines("line") === chrome("lk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("line_id"), col("line")))),
        x => x.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    val totals = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    // every input doc appears, even all-chrome (empty clean_text) ones
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"))
  }
}
