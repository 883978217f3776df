package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram CONTAINMENT near-dup pairs — the asymmetric member of the dedup
  * family (Jaccard q24 and MinHash q22 score symmetric overlap, which
  * misses "A is a chunk of B": a quote-heavy page contains a short doc
  * verbatim yet their Jaccard is tiny). Broder's containment
  * C(A,B) = |grams(A) ∩ grams(B)| / min(|A|, |B|) scores the smaller side's
  * coverage, catching subset/quotation/boilerplate-wrap duplication.
  *
  * Plan shape: distinct doc n-grams → document-frequency cap (grams in
  * > `maxGramDf` docs are boilerplate/stop-grams; joining through them is
  * the classic all-pairs blowup, the same hot-bucket LSH banding caps — the
  * cap is part of the OPERATOR CONTRACT, deterministic and replicated by
  * the oracle, not a best-effort heuristic) → gram self-join for shared
  * counts (shuffle ∝ Σ df², bounded by the cap) → per-doc kept-gram totals
  * → threshold. Text never shuffles — only (doc_id, gram) pairs.
  */
object Containment {

  /** @return (doc_a, doc_b, shared_grams, n_a, n_b, containment) with
    *         doc_a < doc_b and containment ≥ `minContainment`, containment
    *         computed over the df-capped gram sets. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            n: Int = 8, maxGramDf: Long = 50,
            minContainment: Double = 0.5): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(maxGramDf >= 2, s"maxGramDf < 2 keeps no shareable gram: $maxGramDf")
    // every downstream op — the distinct, the df window's shuffle+sort, and
    // the Σdf²-bounded self-join — keys on xxhash64(gram): 8-byte keys
    // instead of ~60-byte 8-gram strings. A 64-bit collision merges two
    // grams (slightly inflating shared/size counts, symmetric on both
    // sides); expected collisions ~g²/2^65. ContainmentSpec pins the output
    // to string-keyed expectations computed in the spec.
    val grams = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(Decontaminate.wordGrams(col(textCol), n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .distinct()
    // kept is consumed THREE times (sizes, both self-join sides); without a
    // materialization barrier the tokenize+distinct+window subtree inlines
    // into every consumer (measured: 8 Generate nodes in the q89 plan — the
    // posexplode tokenize ran ~8x via the broadcast builds). One eager
    // localCheckpoint runs it once; the narrow (doc_id, gram) rows are the
    // cheapest frame in the pipeline to hold (8-byte keys), and the blocks
    // release with the plan (ContextCleaner).
    val kept = grams
      .withColumn("_df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
      .filter(col("_df") <= maxGramDf)
      .select(col("doc_id"), col("gram"))
      .localCheckpoint()
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("nk"))
    val shared = kept.select(col("doc_id").as("doc_a"), col("gram"))
      .join(kept.select(col("doc_id").as("doc_b"), col("gram")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("nk").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nk").as("n_b")), Seq("doc_b"))
      .withColumn("containment",
        col("shared_grams").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("shared_grams"),
        col("n_a"), col("n_b"), col("containment"))
  }
}
