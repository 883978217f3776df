package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-substring SPAN detection — the token-level exact dedup a
  * training pipeline runs after document-level dedup (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better": substrings
  * repeated across a corpus are memorization fuel even when no two
  * DOCUMENTS are duplicates). Finds every maximal token span covered by
  * n-grams that occur ≥ `minCount` times corpus-wide; downstream either
  * cuts the spans or drops high-duplication docs.
  *
  * Plan shape: positions ride POSEXPLODE of the same codegen'd sliding
  * n-gram expression the decontamination op uses; the corpus-frequency
  * count is ONE window over the gram key (the gram table — and its
  * tokenize, the dominant per-row cost — derives once, one gram-keyed
  * exchange instead of the former groupBy + semi-join pair), keeping only
  * (doc_id, pos) rows past the threshold (rare by construction — corpus
  * text never shuffles); and overlapping hits merge into maximal spans
  * with the gaps-and-islands window (all intervals share length n, so
  * "overlaps or touches the previous" is exactly `pos − lag(pos) ≤ n` —
  * no running-max needed).
  *
  * Gram key: the gram-count aggregation and the hit semi-join key on
  * `xxhash64(gram)` — 8-byte shuffle keys instead of ~60-80-byte gram
  * strings, the same narrow-key discipline as the index build's dictionary
  * ids. A 64-bit collision can only ADD a spurious duplicated position (it
  * merges two grams' counts upward), i.e. over-mark a span — it can never
  * unmark one; expected collisions are ~g²/2^65 (≪1 below 10^9 distinct
  * grams — far past any single-corpus gram table). DupSpansSpec pins the
  * output to string-keyed expectations computed in the spec.
  */
object DupSpans {

  /** Maximal duplicated token spans per document.
    *
    * @return (doc_id, span_start, span_end, dup_tokens) — token indices
    *         0-based inclusive; dup_tokens = span length. Documents with
    *         no duplicated n-gram emit no rows. */
  def spans(docs: DataFrame, idCol: String, textCol: String,
            n: Int = 10, minCount: Long = 2): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(minCount >= 2, s"minCount < 2 marks every gram, got $minCount")
    // the gram string never leaves the map side — only the 8-byte key
    // enters the count shuffle. (A string-free xxhash64-chain over
    // per-token hashes was tried and measured no faster on this corpus:
    // the higher-order-function chain costs about what the string build +
    // single hash does, for more code.)
    val grams = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(Decontaminate.wordGrams(col(textCol), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gram"))
    // corpus frequency as ONE window over the gram key instead of the
    // groupBy + semi-join pair: the gram table (and its posexplode
    // tokenize, the dominant per-row cost) is derived once, and the plan
    // pays one gram-keyed exchange instead of two. count over the whole
    // partition = the same corpus-wide occurrence count (within-doc
    // repeats included) the aggregation produced.
    val wGram = Window.partitionBy(col("gram"))
    val hits = grams
      .withColumn("_cnt", count(lit(1)).over(wGram))
      .filter(col("_cnt") >= minCount)
      .select(col("doc_id"), col("pos"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = hits
      .withColumn("_new", when(
        col("pos") - lag(col("pos"), 1).over(wDoc) > n, 1).otherwise(0))
      .withColumn("_island",
        sum(col("_new")).over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("doc_id"), col("_island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("dup_tokens"))
  }
}
