package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor routing over an embedding column: IVF
  * (inverted-file) — vectors are assigned to the nearest of C seeded
  * centroids at write time (cheap k-means-- with fixed seeds keeps it
  * deterministic); a query probes only the nProbe nearest centroid
  * partitions, turning a 10^12-vector scan into a (nProbe/C)-fraction scan.
  * Parquet partitioning by centroid id gives partition pruning on the probe
  * set. Ranking the probed rows is the caller's cosine top-k (q26 scans the
  * written layout filtered to [[probeSet]]).
  */
object Ann {

  /** L2-normalize (zero-norm vectors pass through as zeros — their cosine
    * is undefined (NaN), so their routing is moot). The
    * final metric is COSINE, so all ROUTING distances run on unit vectors:
    * cosine order ≡ L2 order on the unit sphere, whereas unnormalized L2
    * routing sends a direction-aligned but longer vector to a far centroid
    * the probe set never visits. */
  private[ml] def unit(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    if (n == 0.0) v
    else {
      val s = 1.0 / math.sqrt(n)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * s; i += 1 }
      out
    }
  }

  /** Deterministic centroids over UNIT vectors (spherical k-means shape):
    * the C vectors with the smallest ids seed, refined by `iters` rounds of
    * Lloyd assignment (fixed iteration count, no RNG). Determinism is
    * end-to-end: seeding is id-ordered (`take(c)` would return physical
    * scan order, which shifts with layout/parallelism/AQE), and each
    * round's per-centroid vector sums FOLD IN ID ORDER inside one task per
    * centroid — a reduceByKey combine would reassociate FP additions with
    * shuffle arrival order, letting recomputed centroids drift a ulp from
    * an already-written routing table and flip near-boundary assignments. */
  def centroids(df: DataFrame, idCol: String, vecCol: String, c: Int,
                iters: Int = 3): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    // persisted: the seed take plus each Lloyd round re-reads the vectors
    val vecs = df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, unit(v.toArray).toSeq) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = vecs.orderBy($"_1".asc).take(c).map(_._2.toArray)
    for (_ <- 1 to iters) {
      val cb = spark.sparkContext.broadcast(cents)
      val sums = vecs
        .map { case (id, v) => (nearest(v.toArray, cb.value), id, v) }
        .toDF("ci", "id", "v")
        .repartition(col("ci"))
        .sortWithinPartitions("ci", "id")
        .as[(Int, Long, Seq[Double])]
        .mapPartitions { it =>
          // streaming ordered fold: one accumulator per centroid run
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double], Long)]
          var cur = -1; var acc: Array[Double] = null; var n = 0L
          for ((ci, _, v) <- it) {
            if (ci != cur) {
              if (cur >= 0) out += ((cur, acc, n))
              cur = ci; acc = new Array[Double](v.length); n = 0L
            }
            var i = 0
            while (i < acc.length) { acc(i) += v(i); i += 1 }
            n += 1
          }
          if (cur >= 0) out += ((cur, acc, n))
          out.iterator
        }.collect()
      val next = cents.clone()
      for ((ci, s, n) <- sums) next(ci) = s.map(_ / n)
      cents = next
    }
    vecs.unpersist()
    cents
  }

  private[ml] def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var ci = 0
    while (ci < cents.length) {
      var d = 0.0; var i = 0
      val c = cents(ci)
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  /** IVF index: (id, vec, centroid) — write-time routing table. Routing
    * distance runs on the UNIT vector (stored vectors stay raw for the
    * exact cosine ranking). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                cents: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cb = spark.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, v, nearest(unit(v.toArray), cb.value)) }
      .toDF(idCol, "vec", "centroid")
  }

  /** The nProbe centroid ids nearest to the UNIT query (squared L2 on the
    * sphere ≡ cosine order — the ranking metric). */
  def probeSet(cents: Array[Array[Double]], query: Array[Double], nProbe: Int): Seq[Int] = {
    val q = unit(query)
    cents.zipWithIndex.sortBy { case (c, _) =>
      var d = 0.0; var i = 0
      while (i < q.length) { val t = q(i) - c(i); d += t * t; i += 1 }
      d
    }.take(nProbe).map(_._2).toIndexedSeq
  }

  /** Persist the routing table PARTITIONED BY CENTROID — the write-time
    * layout that turns probing into real partition pruning: a query lists
    * only the nProbe centroid directories, so the scan fraction is
    * nProbe/C of the corpus regardless of total size. When `cents` is
    * given, the trained centroids are stored as a `_centroids.json`
    * sidecar (underscore-prefixed → invisible to the parquet reader), so
    * serving probes THE layout's centroids via [[readCentroids]] instead
    * of retraining — the index metadata travels with the index. */
  def ivfWrite(assigned: DataFrame, dir: String,
               cents: Array[Array[Double]] = null): Unit = {
    // one shuffle on centroid → one file per centroid dir instead of
    // tasks x centroids small files (cap production file sizes with
    // spark.sql.files.maxRecordsPerFile)
    assigned.repartition(col("centroid"))
      .write.mode("overwrite").partitionBy("centroid").parquet(dir)
    if (cents != null) {
      val json = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      // the sidecar goes through the SAME Hadoop filesystem layer as the
      // parquet data (resolved with the session's Hadoop conf), so an
      // hdfs:///s3a:// layout gets its centroids next to its partitions
      // instead of a java.nio write landing on the driver's local disk
      val path = new org.apache.hadoop.fs.Path(dir, "_centroids.json")
      val fs = path.getFileSystem(
        assigned.sparkSession.sessionState.newHadoopConf())
      val out = fs.create(path, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The centroids an on-disk IVF layout was written with. Reads through
    * the Hadoop filesystem layer like [[ivfWrite]] writes — pass the
    * session whose conf resolves the scheme; the no-session overload covers
    * local/default-conf paths. */
  def readCentroids(dir: String,
                    spark: org.apache.spark.sql.SparkSession = null): Array[Array[Double]] = {
    val path = new org.apache.hadoop.fs.Path(dir, "_centroids.json")
    val conf =
      if (spark != null) spark.sessionState.newHadoopConf()
      else new org.apache.hadoop.conf.Configuration()
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    val json = (try new String(in.readAllBytes(), "UTF-8") finally in.close()).trim
    // [[a,b],[c,d]] — split on "],[" after stripping the outer brackets
    val inner = json.stripPrefix("[").stripSuffix("]")
    if (inner.isEmpty) Array.empty
    else inner.stripPrefix("[").stripSuffix("]").split("\\],\\[")
      .map(_.split(",").map(_.toDouble))
  }
}
