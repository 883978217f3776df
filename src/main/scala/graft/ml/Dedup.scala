package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All signature computation is a narrow map (no shuffle); candidate
  * generation shuffles only (docId, bucketKey) pairs — never document text —
  * so the shuffle volume at 100 TB is proportional to numDocs × bands, not
  * corpus bytes. Verification joins fetch text for candidate pairs only.
  *
  * Every hash is [[PortableHash]]-based (md5 prefix + universal affine
  * mixing), so signatures/buckets are exactly reproducible in the driver's
  * DuckDB oracle — the minhash/simhash queries carry full SQL oracles.
  *
  * Skew defense: all bucket self-joins take a `maxBucket` cap. One
  * degenerate bucket (boilerplate/empty docs sharing a signature) would
  * otherwise go quadratic — 10⁶ identical docs ⇒ 10¹² join rows. Buckets
  * over the cap are DROPPED from candidate generation (their members are
  * by definition near-identical to thousands of others; the exact-dedup
  * pass catches the identical ones).
  */
object Dedup {

  // ------------------------------------------------------------------ exact
  /** Exact dedup domain: content-hash groups with their cardinality.
    * `md5` is codegen'd and pushdown-friendly; at scale this is a pure
    * map-side-combined aggregation. */
  def exactHashGroups(df: DataFrame, textCol: String,
                      idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_doc_id"))

  /** Survivors of exact dedup: the min-id representative per hash group. */
  def exactDedup(df: DataFrame, textCol: String,
                 idCol: String = "doc_id"): DataFrame = {
    val reps = exactHashGroups(df, textCol, idCol).select(col("keep_doc_id").as(idCol))
    df.join(reps, Seq(idCol), "left_semi")
  }

  // ---------------------------------------------------------------- minhash
  /** Word k-shingles of a whitespace-tokenized lowercase text. */
  def shingles(text: String, k: Int): Set[String] = {
    val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k) Set(toks.mkString(" "))
    else toks.sliding(k).map(_.mkString(" ")).toSet
  }

  /** MinHash signature: shingle → one 60-bit md5 hash, then `numHashes`
    * universal affine mixes; sig(i) = min over shingles. Deterministic
    * across runs/parallelism and reproducible in SQL. */
  def minhashSignature(text: String, k: Int, numHashes: Int): Array[Long] = {
    val sh = shingles(text, k)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    // the affine family coefficients are constant per signature — hoist them
    // out of the shingles x hashes loop (they were recomputed per cell)
    val as = Array.tabulate(numHashes)(PortableHash.aOf)
    val bs = Array.tabulate(numHashes)(PortableHash.bOf)
    for (s <- sh) {
      val base = PortableHash.h60(s) % PortableHash.P
      var i = 0
      while (i < numHashes) {
        val h = (as(i) * base + bs(i)) % PortableHash.P
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** (doc_id, band, band_hash) — LSH bucketing rows, `bands` per doc.
    * band_hash = h60 of the band's sig values joined with ':' (the same
    * string a SQL string_agg ORDER BY produces). Shuffle-light: one small
    * row per (doc, band). */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder would " +
      "silently drop tail signature values and bands > numHashes would hash " +
      "empty slices into one universal bucket")
    val rows = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = minhashSignature(text, k, numHashes)
        (0 until bands).iterator.map { b =>
          val slice = sig.slice(b * rows, (b + 1) * rows)
          (id, b, PortableHash.h60(slice.mkString(":")))
        }
      }.toDF(idCol, "band", "band_hash")
  }

  /** Rows of `bucketed` whose bucket is within the cap (map-side-combined
    * count + broadcast-friendly join back; no text moves).
    *
    * `bucketed` is PERSISTED here: it feeds the size aggregation AND both
    * sides of the caller's self-join — three non-identical subplans that
    * exchange reuse cannot collapse, so without the cache the expensive
    * per-doc signature map would run up to 3×. The cached rows are
    * (id, bucket-key) only, never text (spills to disk past memory); a
    * pipeline running many dedup passes in one session can
    * `spark.catalog.clearCache()` between them. */
  private def capBuckets(bucketed: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame = {
    val cached = bucketed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = cached.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    cached.join(sizes, keyCols)
  }

  /** Incremental near-dup ADMISSION — the ingest-time twin of batch dedup:
    * a frozen already-deduplicated corpus grows by one crawl batch, and
    * each incoming doc must be admitted or rejected WITHOUT re-deduping
    * the corpus. Verdict per incoming doc:
    *   - `dup_existing` — verified near-dup of a frozen-corpus doc
    *   - `dup_batch`    — verified near-dup of a SMALLER-ID incoming doc
    *                      (greedy; use [[connectedComponents]] when exact
    *                      cluster structure matters)
    *   - `kept`         — admitted
    * `dup_existing` wins when both apply. Ids must be globally unique
    * across the two corpora.
    *
    * Scale shape: bands for the frozen corpus are computed ONCE and
    * persisted by the caller (the whole point of incrementality — only
    * the batch is re-signed); buckets are capped across the UNION of both
    * band sets (a bucket quadratic across old×new is as degenerate as one
    * within either); candidate shuffles carry (id, bucket) only; text is
    * joined back for verified candidates alone. */
  /** `incomingIds`: the batch's id FRAME to emit verdicts over — one output
    * row per input row, mirroring whatever multiplicity the caller's batch
    * has (a batch that violates the unique-id precondition gets its
    * duplicate rows back with their shared verdict, exactly as a SQL
    * replay over the batch table would). Default: the distinct ids of
    * `bandsIncoming` (the historical behavior — found to under-emit by 20
    * rows at sf0.1, where q128's +1000 re-crawl ids collide with real
    * ids). */
  def incrementalVerdicts(texts: DataFrame, bandsExisting: DataFrame,
                          bandsIncoming: DataFrame, idCol: String,
                          textCol: String, threshold: Double = 0.8,
                          k: Int = 3, maxBucket: Int = 1000,
                          incomingIds: Option[DataFrame] = None): DataFrame = {
    def side(bands: DataFrame, s: Int) =
      bands.select(col(idCol), col("band"), col("band_hash"))
        .withColumn("side", lit(s))
    val capped = capBuckets(side(bandsExisting, 0).unionByName(side(bandsIncoming, 1)),
      Seq("band", "band_hash"), maxBucket)
    val olds = capped.filter(col("side") === 0)
    val news = capped.filter(col("side") === 1)
    val cross = news.select(col(idCol).as("id1"), col("band"), col("band_hash"))
      .join(olds.select(col(idCol).as("id2"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("id1", "id2").distinct()
    val intra = news.select(col(idCol).as("id1"), col("band"), col("band_hash"))
      .join(news.select(col(idCol).as("id2"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val crossHit = jaccardVerify(texts, cross, idCol, textCol, k, threshold)
      .select(col("id1").as(idCol)).distinct().withColumn("ce", lit(1))
    val intraHit = jaccardVerify(texts, intra, idCol, textCol, k, threshold)
      .select(col("id2").as(idCol)).distinct().withColumn("ie", lit(1))
    incomingIds.map(_.select(col(idCol)))
      .getOrElse(bandsIncoming.select(col(idCol)).distinct())
      .join(crossHit, Seq(idCol), "left")
      .join(intraHit, Seq(idCol), "left")
      .select(col(idCol),
        when(col("ce") === 1, "dup_existing")
          .when(col("ie") === 1, "dup_batch")
          .otherwise("kept").as("verdict"))
  }

  /** Exact n-gram Jaccard verification of candidate pairs: joins text back
    * for CANDIDATES only (the scale-critical property). */
  def jaccardVerify(df: DataFrame, candidates: DataFrame, idCol: String,
                    textCol: String, k: Int = 3, threshold: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val texts = df.select(col(idCol).cast("long").as("jid"), col(textCol).as("jtext"))
    val joined = candidates
      .join(texts, col("id1") === col("jid")).withColumnRenamed("jtext", "text1").drop("jid")
      .join(texts, col("id2") === col("jid")).withColumnRenamed("jtext", "text2").drop("jid")
    joined.select($"id1", $"id2", $"text1", $"text2").as[(Long, Long, String, String)]
      .map { case (id1, id2, t1, t2) =>
        val s1 = shingles(t1, k); val s2 = shingles(t2, k)
        val inter = (s1 & s2).size
        val union = (s1 | s2).size
        (id1, id2, if (union == 0) 0.0 else inter.toDouble / union)
      }.toDF("id1", "id2", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  // ---------------------------------------------------------------- simhash
  /** 60-bit SimHash over whitespace tokens (Charikar 2002): per-token h60
    * votes each bit up/down; fingerprint bit = sign of the vote. 60 bits
    * (not 64) so the whole computation stays in positive-BIGINT SQL range. */
  def simhash60(text: String): Long = {
    val votes = new Array[Int](60)
    for (tok <- text.toLowerCase.trim.split("\\s+") if tok.nonEmpty) {
      val h = PortableHash.h60(tok)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var f = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) f |= (1L << b); b += 1 }
    f
  }

  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, t) => (id, simhash60(t)) }
      .toDF(idCol, "simhash")
  }

  // ----------------------------------------------------- embedding near-dup
  /** Cosine similarity of two double-array columns: a NATIVE Catalyst
    * expression with whole-stage codegen ([[graft.functions.CosineSimilarity]]
    * — one fused loop instead of the three higher-order-function traversals
    * of the composed aggregate/zip_with form it replaces; bit-identical
    * results, same ascending-index accumulation order). */
  def cosineCol(a: Column, b: Column): Column =
    graft.functions.GraftExtensions.cosineSim(a, b)

  /** (id, table, bucket) random-hyperplane LSH assignments: `tables`
    * independent sign-hash tables of `nPlanes` planes each (seeded →
    * deterministic). Multi-table is the standard recall/selectivity
    * trade: P(candidate) = 1 − (1 − p^nPlanes)^tables for per-plane
    * agreement p — more planes keeps buckets small at corpus scale, more
    * tables buys the recall back. */
  def hyperplaneBuckets(df: DataFrame, idCol: String, vecCol: String,
                        nPlanes: Int, tables: Int, dim: Int,
                        seed: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rng = new java.util.Random(seed)
    val planes = Array.fill(tables, nPlanes, dim)(rng.nextGaussian())
    val pb = spark.sparkContext.broadcast(planes)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val arr = v.toArray
        require(arr.length == dim,
          s"embedding dim ${arr.length} != configured dim $dim for id $id — " +
          "a truncated dot product would silently degrade recall")
        (0 until pb.value.length).iterator.map { t =>
          var sig = 0L
          var p = 0
          val tbl = pb.value(t)
          while (p < tbl.length) {
            var d = 0.0; var i = 0
            val plane = tbl(p)
            while (i < arr.length && i < plane.length) { d += arr(i) * plane(i); i += 1 }
            if (d >= 0) sig |= (1L << p)
            p += 1
          }
          (id, t, sig)
        }
      }.toDF(idCol, "table", "bucket")
  }

  /** Embedding near-dup pairs above `threshold`: multi-table hyperplane LSH
    * buckets (never an O(n²) cross join), bucket-size capped, then exact
    * cosine on within-bucket pairs only. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nPlanes: Int = 16, tables: Int = 4,
                        dim: Int = 64, seed: Long = 42L,
                        maxBucket: Int = 10000): DataFrame = {
    val buckets = hyperplaneBuckets(df, idCol, vecCol, nPlanes, tables, dim, seed)
    val capped = capBuckets(buckets, Seq("table", "bucket"), maxBucket)
    val pairs = capped.select(col(idCol).as("id1"), col("table"), col("bucket"))
      .join(capped.select(col(idCol).as("id2"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val vecs = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("vec"))
    pairs
      .join(vecs, col("id1") === col("vid")).withColumnRenamed("vec", "v1").drop("vid")
      .join(vecs, col("id2") === col("vid")).withColumnRenamed("vec", "v2").drop("vid")
      .select(col("id1"), col("id2"), cosineCol(col("v1"), col("v2")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
  }

  // ------------------------------------------------------ component clustering
  /** Connected components over near-dup PAIRS — the step that turns
    * pairwise matches into dedup CLUSTERS with a canonical survivor (the
    * min doc id of each component). Input `pairs` must have long columns
    * (`aCol`, `bCol`); output is (id, component) for every pair endpoint,
    * component = min reachable id.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING —
    * each round takes comp(x) ← min(comp(x), min over neighbors comp(y)),
    * then compresses comp(x) ← comp(comp(x)), so convergence is
    * O(log diameter) rounds, each one shuffle join + agg. Near-dup graphs
    * are dense low-diameter clusters by construction (every member matched
    * some other member through shared LSH buckets), so rounds stay single-
    * digit at any corpus size; the shuffle carries (id, comp) longs only —
    * never text. Each round is `localCheckpoint`ed — the self-join would
    * otherwise DOUBLE the logical plan per round (2³⁰-character plans by
    * round 30; caching alone does not truncate analysis lineage — the same
    * pitfall PageRank.run checkpoints against). Pass `checkpointDir` on a
    * real cluster for executor-loss-safe reliable checkpoints. Stops on a
    * converged (changed == 0) round or `maxIter`, whichever first, with a
    * loud error rather than a silently-partial clustering on the cap. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxIter: Int = 30,
                          checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // LAZY truncation: each round's checkpoint is materialized by the
    // change-count foreach below, so the round runs ONE job instead of two
    // (the old shape ran an eager checkpoint job, then a join-based change
    // count re-reading both rounds)
    // reliable rounds persist BEFORE checkpointing so the checkpoint-writer
    // job reads the round from cache instead of re-executing it; that cache
    // is dropped once the files exist (PageRank.converge's discipline)
    var preCheckpointCache: Option[DataFrame] = None
    def truncateLazy(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        preCheckpointCache = Some(cached)
        cached.checkpoint(false)
      } else df.localCheckpoint(false)
    def dropPreCheckpointCache(): Unit = {
      preCheckpointCache.foreach(_.unpersist())
      preCheckpointCache = None
    }
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    val edges = pairs.select(a.as("x"), b.as("y"))
    val sym = edges.union(edges.select(col("y").as("x"), col("x").as("y")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ck = truncateLazy(sym.select(col("x").as("id")).distinct()
      .withColumn("comp", col("id")))
    ck.count() // materialize round 0
    dropPreCheckpointCache()
    var comp = ck
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(comp, sym("y") === comp("id"))
        .groupBy(sym("x").as("nid")).agg(min(col("comp")).as("nmin"))
      // the OLD label rides along as `ocomp`, so convergence is a per-row
      // compare on the materialization pass — no join of two rounds
      val stepped = comp.join(nbrMin, comp("id") === nbrMin("nid"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          col("comp").as("ocomp"))
      // pointer jumping: comp values are themselves node ids, so one
      // self-join halves the remaining path length every round
      val nextCk = truncateLazy(stepped.as("s")
        .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("s.comp") === col("cid"), "left")
        .select(col("s.id").as("id"), coalesce(col("ccomp"), col("s.comp")).as("comp"),
          col("s.ocomp").as("ocomp")))
      val changedAcc = spark.sparkContext.longAccumulator
      // the foreach action materializes the lazy checkpoint AND counts
      // label changes (exactly-once per successful task)
      nextCk.select(col("comp"), col("ocomp")).foreach { r =>
        if (r.getLong(0) != r.getLong(1)) changedAcc.add(1L)
      }
      dropPreCheckpointCache()
      // the superseded round's checkpoint is dead once the new one is
      // materialized — drop it NOW (PageRank.run's per-round discipline),
      // not when the ContextCleaner eventually notices
      ck.unpersist()
      ck = nextCk
      comp = nextCk.select(col("id"), col("comp"))
      converged = changedAcc.value == 0
      iter += 1
    }
    sym.unpersist()
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — graph diameter " +
      "far beyond any near-dup cluster shape; raise maxIter")
    comp
  }
}
