package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Paired bootstrap significance test for ranking comparisons (Sakai,
  * SIGIR 2006 family) — the statistical gate on top of the offline eval
  * ([[Eval]], q117): given per-query metric DELTAS between two systems
  * (e.g. ndcg_B − ndcg_A), resample queries with replacement B times,
  * and read the 95% percentile interval of the replicate means; the
  * difference is significant iff the interval excludes 0. This is what
  * stops a 5-query win from shipping a ranking change the other 95
  * queries lose.
  *
  * Everything is deterministic: replica r's j-th pick is
  * portable-hash("r|j") mod n (no RNG state, SQL-replayable), per-replica
  * means are ORDERED folds in pick order over the dumped 6dp-rounded
  * deltas, and the percentile endpoints are pinned order statistics
  * (row_number over mean asc, replica asc; lo = ⌈0.025·B⌉, hi =
  * ⌈0.975·B⌉) — no interpolation convention to disagree on.
  *
  * Scale shape: query indexing is [[graft.util.GlobalRank]];
  * the resample grid is B×n (replica, pick) id rows joined against the
  * delta table on the index — narrow longs/doubles, map-side agg per
  * replica; the driver sees B replicate means at most (and only the one
  * readout row leaves). At 10⁵ queries × 10³ replicas the grid is 10⁸
  * skinny rows — a routine shuffle, nothing driver-sized.
  */
object BootstrapEval {

  /** @param deltas   (query_id, delta) per-query paired metric difference
    * @param replicas bootstrap replica count B
    * @return one row: (n_queries, n_replicas, mean_delta, ci_lo, ci_hi,
    *         significant) — doubles rounded 6dp */
  def pairedTest(spark: SparkSession, deltas: DataFrame,
                 replicas: Int): DataFrame = {
    require(replicas >= 40, s"need >= 40 replicas for a 95% interval: $replicas")
    import spark.implicits._

    val indexed = graft.util.GlobalRank.zipWithRank(
      deltas.select(col("query_id").cast("long").as("query_id"),
        col("delta").cast("double").as("delta")),
      Seq(col("query_id").asc), "idx")
    val n = indexed.count()
    require(n >= 1, "empty delta table")

    def orderedMean(df: DataFrame, key: Column, ord: Column, v: Column) =
      df.groupBy(key.as("k"))
        .agg((aggregate(array_sort(collect_list(struct(ord.as("o"), v.as("v")))),
          lit(0.0), (acc, x) => acc + x.getField("v")) / lit(n.toDouble))
          .as("mean"))

    val picksPerReplica = n // standard bootstrap: resample n of n
    val grid = spark.range(replicas.toLong).toDF("r")
      .crossJoin(spark.range(picksPerReplica).toDF("j"))
      .withColumn("pick",
        graft.ml.Sketches.h60(concat(col("r").cast("string"), lit("|"),
          col("j").cast("string"))) % n)
    val means = orderedMean(
      grid.join(indexed, grid("pick") === indexed("idx")),
      col("r"), col("j"), col("delta"))
    val ranked = means.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("mean").asc, col("k").asc)))
    // integer ceil — float ceil(0.025·B) rounds UP off a 1-ulp excess
    val lo = (25L * replicas + 999L) / 1000L
    val hi = (975L * replicas + 999L) / 1000L
    // both order statistics in ONE action — two separate heads each re-ran
    // the whole resample-grid aggregation
    val cis = ranked.where(col("rnk") === lo || col("rnk") === hi)
      .select(col("rnk").cast("long").as("rnk"), col("mean"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ciLo = cis(lo)
    val ciHi = cis(hi)
    val obs = orderedMean(indexed.withColumn("one", lit(1)),
      col("one"), col("idx"), col("delta")).head.getDouble(1)

    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    Seq((n, replicas.toLong, r6(obs), r6(ciLo), r6(ciHi),
      ciLo > 0.0 || ciHi < 0.0))
      .toDF("n_queries", "n_replicas", "mean_delta", "ci_lo", "ci_hi",
        "significant")
  }
}
