package graft.ml

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ml-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Synthetic doc set with PLANTED near-duplicates: base docs plus copies
    * with one token changed, plus exact copies. */
  lazy val docs: Seq[(Long, String)] = {
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0L until 40L).map { i =>
      i -> Seq.fill(30)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val nearDups = base.take(10).map { case (i, t) =>
      (100 + i) -> (t.split(" ").updated(5, "CHANGED").mkString(" "))
    }
    val exactDups = base.take(5).map { case (i, t) => (200 + i) -> t }
    base ++ nearDups ++ exactDups
  }

  test("exact dedup groups exact copies only") {
    val df = docs.toDF("doc_id", "text")
    val groups = Dedup.exactHashGroups(df, "text")
      .filter(col("n_docs") > 1).collect()
    assert(groups.length == 5)
    assert(groups.forall(_.getLong(1) == 2))
    val kept = Dedup.exactDedup(df, "text").count()
    assert(kept == docs.size - 5)
  }

  test("minhash LSH finds planted near-duplicates; jaccard verifies") {
    val df = docs.toDF("doc_id", "text")
    val bands = Dedup.minhashBands(df, "doc_id", "text")
    val cands = Dedup.minhashCandidates(bands, "doc_id")
    val candSet = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all planted near-dups (1 token of 30 changed → jaccard ≈ 0.8+) found
    for (i <- 0L until 10L)
      assert(candSet.contains((i, 100 + i)), s"missing near-dup pair $i")
    // verification: planted pairs score high, a random non-dup pair scores low
    val verified = Dedup.jaccardVerify(df, cands, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- 0L until 10L)
      assert(verified((i, 100 + i)) > 0.5)
    // exact copies → jaccard 1.0 (they also collide in every band)
    for (i <- 0L until 5L)
      assert(verified.get((i, 200 + i)).forall(_ == 1.0))
  }

  test("simhash pairs = brute-force hamming pairs at maxDist") {
    val df = docs.toDF("doc_id", "text")
    val sims = Dedup.simhashes(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i1, h1) <- sims; (i2, h2) <- sims if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 6
    } yield (i1, i2, d)).toSet
    val got = Dedup.simhashPairs(Dedup.simhashes(df, "doc_id", "text"), "doc_id", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    // exact copies have distance 0
    assert(brute.exists { case (a, b, d) => d == 0 && b - a == 200 })
  }

  test("degenerate bucket (1000 identical docs) is capped, not quadratic") {
    // 1000 byte-identical docs share every minhash band bucket: uncapped,
    // the self-join would emit ~500k pairs per band × 16 bands. With the
    // cap they are dropped from candidate generation and surfaced via
    // overflowBuckets (exact dedup owns identical docs).
    val clones = (0L until 1000L).map(i => (i, "same boring boilerplate text here"))
    val distinct = (2000L until 2010L).map(i => (i, s"unique doc $i alpha beta gamma delta"))
    val df = (clones ++ distinct).toDF("doc_id", "text")
    val bands = Dedup.minhashBands(df, "doc_id", "text")
    val cands = Dedup.minhashCandidates(bands, "doc_id", maxBucket = 50)
    val ids = cands.select("id1").union(cands.select("id2"))
      .distinct().as[Long].collect().toSet
    assert(!ids.exists(_ < 1000L), "clone-bucket members must not reach the pair join")
    val overflow = Dedup.overflowBuckets(bands, Seq("band", "band_hash"), 50).collect()
    assert(overflow.length == 16 && overflow.forall(_.getLong(2) == 1000L),
      "every band's clone bucket must be reported as overflow")
    // same guard on the simhash path
    val sims = Dedup.simhashes(df, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sims, "doc_id", maxDist = 3, maxBucket = 50)
    assert(!pairs.select("id1").as[Long].collect().exists(_ < 1000L))
  }

  test("embedding LSH multi-table pairs: planted dup found, no cross join") {
    val rng = new scala.util.Random(3)
    val dim = 64
    val base = Array.fill(dim)(rng.nextGaussian())
    val vecs = (0 until 100).map { i =>
      val v =
        if (i == 99) base.map(x => (x + 1e-3 * rng.nextGaussian()).toFloat) // near-dup of 0
        else if (i == 0) base.map(_.toFloat)
        else Array.fill(dim)(rng.nextGaussian().toFloat).toArray
      (i.toLong, v.toIndexedSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(df, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 99L)), "planted cosine≈1 pair must survive 16-plane LSH")
    // buckets are selective: far fewer candidate pairs than the 4950 cross join
    val buckets = Dedup.hyperplaneBuckets(df, "vec_id", "embedding", 16, 4, dim, 42L)
    val cands = buckets.select(col("vec_id").as("id1"), col("table"), col("bucket"))
      .join(buckets.select(col("vec_id").as("id2"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("id1") < col("id2")).select("id1", "id2").distinct().count()
    assert(cands < 500, s"LSH candidates should be sparse, got $cands")
  }

  test("IVF ANN matches brute force on planted clusters") {
    val rng = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.toIndexedSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.map(_.toDouble)
    val brute = Ann.bruteTopK(df.filter($"vec_id" > 0), "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val cents = Ann.centroids(df, "vec_id", "embedding", c = 4)
    val assigned = Ann.ivfAssign(df.filter($"vec_id" > 0), "vec_id", "embedding", cents)
    val ivf = Ann.ivfTopK(assigned, "vec_id", q.toArray, cents, k = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == brute, "IVF with 2 probes should recover brute-force top-10 on clustered data")
    // and the probe actually prunes: 2 of 4 centroids scanned
    val scanned = Ann.ivfTopK(assigned, "vec_id", q.toArray, cents, k = 1000, nProbe = 2).count()
    assert(scanned < 199)
  }

  test("IVF on-disk layout prunes non-probed centroid partitions") {
    val rng = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.toIndexedSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.map(_.toDouble).toArray
    val cents = Ann.centroids(df, "vec_id", "embedding", c = 4)
    val assigned = Ann.ivfAssign(df.filter($"vec_id" > 0), "vec_id", "embedding", cents)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Ann.ivfWrite(assigned, dir)
    val onDisk = Ann.ivfTopKOnDisk(spark, dir, "vec_id", q, cents, k = 10, nProbe = 2)
    val inMem = Ann.ivfTopK(assigned, "vec_id", q, cents, k = 10, nProbe = 2)
    assert(onDisk.collect().map(_.getLong(0)).toSeq ==
           inMem.collect().map(_.getLong(0)).toSeq)
    // the probe is a PARTITION filter: non-probed directories never read
    val probes = Ann.probeSet(cents, q, 2)
    val plan = spark.read.parquet(dir)
      .filter(col("centroid").isin(probes: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid"), plan)
  }

  test("PQ/ADC approximates exact L2 nearest neighbors on clustered data") {
    val rng = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.toIndexedSeq.map(x => (x + 0.05 * rng.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val model = Pq.train(df, "vec_id", "embedding", m = 4, k = 8, iters = 5)
    val q = vecs.head._2.map(_.toDouble).toArray
    val codes = Pq.encode(df.filter($"vec_id" > 0), "vec_id", "embedding", model)
    val adc = Pq.adcTopK(codes, "vec_id", q, model, 10)
      .collect().map(_.getLong(0)).toSeq
    // PQ resolution is bounded by quantization error: within a tight
    // cluster (σ=0.05) member ordering is not recoverable, but cluster
    // membership is. Assert recall against the exact top-50 (== the
    // query's whole cluster): every ADC hit must be a true near neighbor.
    val brute50 = vecs.tail.map { case (id, v) =>
      val d = v.zip(q).map { case (x, qd) => (x - qd) * (x - qd) }.sum
      (id, d)
    }.sortBy(x => (x._2, x._1)).take(50).map(_._1).toSet
    assert(adc.forall(brute50.contains), s"ADC hit outside true top-50: $adc")
    assert(adc.forall(_ % 4 == 0), s"ADC hit from a wrong cluster: $adc")
    // codes really are m small ids
    val c0 = codes.head().getSeq[Int](1)
    assert(c0.length == 4 && c0.forall(ci => ci >= 0 && ci < 8))
  }

  test("connected components match local union-find on a random graph") {
    import spark.implicits._
    // deterministic random graph: 120 nodes, sparse edges → mix of
    // singleton-free components, chains, and merged clusters
    val rng = new scala.util.Random(11)
    val edges = (0 until 150).map(_ => (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    // plus an explicit LONG CHAIN (diameter 40) — pointer jumping must
    // converge it well inside maxIter where plain label prop needs 40 rounds
    val chain = (1000L until 1040L).map(i => (i, i + 1))
    val pairs = spark.createDataset(edges ++ chain).toDF("a", "b")
    val got = graft.ml.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // local union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges ++ chain) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (edges ++ chain).flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map(x => x -> find(x)).toMap
    assert(got == want)
    // the chain collapsed to one component rooted at its min id
    assert((1000L to 1040L).forall(i => got(i) == 1000L))
  }

  test("sequence packing equals a sequential cumsum at any partitioning") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (0L until 500L).map(i => (i, (1 + rng.nextInt(400)).toLong))
    val docs = rows.toDF("doc_id", "nt")
    // sequential reference: exact running token count in id order
    val want = {
      var run = 0L
      rows.map { case (id, n) =>
        val r = (id, n, run / 512L, run % 512L); run += n; r
      }
    }
    for (p <- Seq(1, 3, 7, 16)) {
      val got = graft.ml.TextAnalysis
        .packSequences(docs, "doc_id", col("nt"), 512L, parts = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == want, s"packing diverged at parts=$p")
      // a downstream coalesce(1) (Verify's write path) FUSES phase 2 into
      // one task — the partition identity must come from the data, not
      // TaskContext, or every partition re-seeds from offset 0
      val fused = graft.ml.TextAnalysis
        .packSequences(docs, "doc_id", col("nt"), 512L, parts = p)
        .coalesce(1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(fused == want, s"packing diverged under coalesce(1) at parts=$p")
    }
    // a pack never starts beyond the budget and offsets stay inside it
    assert(want.forall(_._4 < 512L))
  }

  test("language id heuristic") {
    assert(TextAnalysis.langIdOf("the cat and the dog was in the house") == "en")
    assert(TextAnalysis.langIdOf("der hund und die katze ist nicht da") == "de")
    assert(TextAnalysis.langIdOf("le chat est dans la maison pour les amis") == "fr")
    assert(TextAnalysis.langIdOf("el perro es una mascota para la familia") == "es")
    assert(TextAnalysis.langIdOf("il gatto non è un cane ma è anche più bello") == "it")
    assert(TextAnalysis.langIdOf("o cachorro não está em casa com os amigos") == "pt")
    assert(TextAnalysis.langIdOf("het huis van de hond is niet voor een kat") == "nl")
    assert(TextAnalysis.langIdOf("hunden är inte på huset och det har den inte") == "sv")
    assert(TextAnalysis.langIdOf("zzz qqq xxx") == "und")
    assert(TextAnalysis.langIdOf("") == "und")
  }

  test("rolling fingerprint is order-sensitive and whitespace-robust") {
    val a = TextAnalysis.rollingFingerprint("alpha beta gamma")
    assert(a == TextAnalysis.rollingFingerprint("alpha  beta\tgamma"))
    assert(a != TextAnalysis.rollingFingerprint("gamma beta alpha"))
    assert(a != TextAnalysis.rollingFingerprint("alpha beta"))
  }

  test("line dedup drops cross-doc boilerplate lines, keeps order, keeps all docs") {
    // lines are 10-token windows; "footer" is a 10-token boilerplate line
    // planted in three docs, each doc also has a unique 10-token line
    val footer = (1 to 10).map(i => s"footer$i").mkString(" ")
    def uniq(d: Int) = (1 to 10).map(i => s"doc${d}tok$i").mkString(" ")
    val rows = Seq(
      (0L, uniq(0) + " " + footer),          // unique line first, footer second
      (1L, footer + " " + uniq(1)),          // footer first — order must survive
      (2L, footer),                          // all-boilerplate → empty survivor
      (3L, uniq(3) + " short tail"),         // 12 tokens → 10-token + 2-token line
      (4L, ""))                              // zero tokens → zero lines
    val out = TextAnalysis.lineDedup(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L), "every input doc appears")
    assert(out(0L) == ((uniq(0), 2L, 1L)))
    assert(out(1L) == ((uniq(1), 2L, 1L)))
    assert(out(2L) == (("", 1L, 0L)))
    assert(out(3L) == ((uniq(3) + " short tail", 2L, 2L)), "non-duplicated lines all kept")
    assert(out(4L) == (("", 0L, 0L)))
  }

  test("decontamination flags 13-gram overlap, not 12-gram, case-insensitive") {
    val bench13 = (1 to 13).map(i => s"ev$i").mkString(" ")
    val rows = Seq(
      (0L, s"intro words $bench13 trailing text"),      // exact 13-run → hit
      (1L, "Intro " + bench13.toUpperCase + " Tail"),   // case-folded → hit
      (2L, (1 to 12).map(i => s"ev$i").mkString(" ")),  // only 12 of 13 → clean
      (3L, "completely unrelated prose with many words"),
      (4L, s"$bench13 middle $bench13"))                // same gram twice → 1 distinct
    val bench = Seq((0L, s"prefix $bench13 suffix")).toDF("bid", "btext")
    val out = Decontaminate.flag(rows.toDF("doc_id", "text"), "doc_id", "text",
        bench, "btext", n = 13)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L), "every corpus doc appears")
    assert(out(0L)._2 == 1 && out(0L)._1 >= 1L)
    assert(out(1L)._2 == 1)
    assert(out(2L) == ((0L, 0)))
    assert(out(3L) == ((0L, 0)))
    assert(out(4L)._1 == 1L, "duplicate matched gram counts once")
  }

  test("PII redaction masks emails then IPs with exact counts") {
    val rows = Seq(
      (0L, "mail a.b+c@x-y.co and peer 192.168.0.1 end"),
      (1L, "no pii here at all"),
      (2L, "two mails p@q.io r@s.de one ip 10.0.0.255"),
      (3L, "not an ip 1234.5.6.7 but 1.2.3.4 is"))  // \b rejects 4-digit octet prefix
    val out = TextAnalysis.redactPii(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(out(0L) == (("mail <EMAIL> and peer <IP> end", 1, 1)))
    assert(out(1L) == (("no pii here at all", 0, 0)))
    assert(out(2L) == (("two mails <EMAIL> <EMAIL> one ip <IP>", 2, 1)))
    assert(out(3L)._3 == 1, "word boundary guards the octet shape")
  }

  test("mixture resample = local replay of the portable coin, partition-stable") {
    val rows = (0L until 30L).map(i => (i, s"s${i % 3}"))  // 10 docs per stratum
    val weights = Map("s0" -> 1.0, "s1" -> 0.0, "s2" -> 0.05)
    def expected(total: Long): Set[Long] = rows.collect { case (id, st)
      if weights(st) >= 0.0 && {
        val rate = math.min(1.0, weights(st) * total / 10)
        PortableHash.h60(id.toString) % 1000000L < math.floor(rate * 1000000.0).toLong
      } => id }.toSet
    for (parts <- Seq(1, 7)) {
      val out = Mixture.resample(rows.toDF("doc_id", "source").repartition(parts),
          "doc_id", "source", weights, total = 10L)
        .collect().map(_.getLong(0)).toSet
      assert(out == expected(10L), s"parts=$parts")
      assert(rows.filter(_._2 == "s0").map(_._1).toSet.subsetOf(out), "rate 1.0 keeps all")
      assert(!rows.filter(_._2 == "s1").map(_._1).exists(out), "rate 0.0 keeps none")
    }
  }

  test("bigram LM nll equals a local replay of the smoothed model") {
    val rows = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "The cat sat"),          // case-folds into the same model
      (2L, "one"),                  // < 2 tokens → 0 bigrams, nll 0.0
      (3L, "the the the the"))
    val docs = rows.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val uni = docs.flatMap(_._2).groupBy(identity).map { case (w, l) => w -> l.size.toLong }
    val v = uni.size.toLong
    val bc = docs.flatMap(_._2.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, l) => p -> l.size.toLong }
    def local(l: Seq[String]): (Long, Double) = {
      val ps = l.sliding(2).filter(_.size == 2).toSeq
        .map(p => math.log((bc((p(0), p(1))) + 1.0) / (uni(p(0)) + v)))
      if (ps.isEmpty) (0L, 0.0)
      else (ps.size.toLong, BigDecimal(-ps.foldLeft(0.0)(_ + _) / ps.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val out = LmScore.bigramNll(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for ((id, toks) <- docs) assert(out(id) == local(toks), s"doc $id")
    assert(out(3L)._2 < out(0L)._2,
      "repeated bigram is the most probable → lowest nll")
  }

  test("PMI related terms: hand-computed scores, vocab cap, pair floor") {
    // 6 docs: (a,b) co-occur 4×, (a,c) 2×; "rare" appears once (outside a
    // topTerms=3 vocabulary of a,b,c)
    val rows = Seq(
      (0L, "a b"), (1L, "a b"), (2L, "b a a"), (3L, "a b c"),
      (4L, "a c rare"), (5L, "c"))
    val out = Pmi.relatedTerms(rows.toDF("doc_id", "text"), "doc_id", "text",
        topTerms = 3, minPairs = 2, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // presence: a in 5 docs, b in 4, c in 3; N=6
    def pmi(c12: Long, c1: Long, c2: Long) =
      math.rint(math.log((c12 * 1.0 * 6) / (c1 * 1.0 * c2)) * 1e6) / 1e6
    assert(out(("a", "b")) == ((4L, pmi(4, 5, 4))))
    assert(out(("a", "c")) == ((2L, pmi(2, 5, 3))))
    assert(!out.contains(("b", "c")), "1 co-occurrence < minPairs floor")
    assert(!out.keySet.exists(p => p._1 == "rare" || p._2 == "rare"),
      "rare is outside the top-3 vocabulary cap")
  }

  test("repetition ratio: hand-computed n-gram duplicate fractions") {
    val rows = Seq(
      (0L, "a b a b a"),    // bigrams [ab,ba,ab,ba] → 1-2/4 = 0.5; trigrams 1-2/3
      (1L, "x y z"),        // all distinct → 0.0
      (2L, "w"),            // below n → 0.0
      (3L, "q q q q"))      // bigrams all "q q" → 1-1/3; trigrams 1-1/2
    val out = rows.toDF("doc_id", "text")
      .select($"doc_id",
        round(TextAnalysis.repetitionRatio($"text", 2), 4).as("r2"),
        round(TextAnalysis.repetitionRatio($"text", 3), 4).as("r3"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(0L) == ((0.5, 0.3333)))
    assert(out(1L) == ((0.0, 0.0)))
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L) == ((0.6667, 0.5)))
  }

  test("more-like-this equals local brute-force tf-idf cosine, self excluded") {
    val df = docs.toDF("doc_id", "text")
    val got = MoreLikeThis.topK(df, "doc_id", "text", queryIds = Seq(0L, 3L), k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))

    // local oracle with the SAME term-ordered fold arithmetic
    val n = docs.size
    val tf = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k2, v) => k2 -> v.length.toDouble }
    }.toMap
    val dfCount = tf.values.flatMap(_.keys).groupBy(identity).map { case (k2, v) => k2 -> v.size }
    val idf = dfCount.map { case (t, d) => t -> (math.log((n + 1.0) / (d + 1.0)) + 1.0) }
    val w = tf.map { case (id, m) => id -> m.map { case (t, f) => t -> f * idf(t) } }
    val nrm = w.map { case (id, m) =>
      id -> math.sqrt(m.toSeq.sortBy(_._1).foldLeft(0.0) { case (a, (_, v)) => a + v * v })
    }
    def cos(q: Long, d2: Long): Double = {
      val shared = (w(q).keySet & w(d2).keySet).toSeq.sorted
      shared.foldLeft(0.0)((a, t) => a + w(q)(t) * w(d2)(t)) / (nrm(q) * nrm(d2))
    }
    val expected = Seq(0L, 3L).flatMap { q =>
      docs.map(_._1).filter(_ != q).map(d2 => (q, d2, cos(q, d2)))
        .sortBy { case (_, d2, s) => (-s, d2) }.take(4).zipWithIndex
        .map { case ((qq, d2, s), i) => (qq, i + 1, d2, math.rint(s * 1e4) / 1e4) }
    }
    val gotRounded = got.map { case (q, r, d2, s) => (q, r, d2, math.rint(s * 1e4) / 1e4) }
    assert(gotRounded.toSeq == expected,
      s"got ${gotRounded.toSeq}\nexpected $expected")
    assert(got.forall { case (q, _, d2, _) => q != d2 }, "self must be excluded")
    // exact-copy docs (200..204 duplicate 0..4) must be the top hit at cos 1.0
    assert(got.find(r => r._1 == 0L && r._2 == 1).exists(r => r._3 == 200L && r._4 > 0.9999))
  }

  test("multimodal resize + frame sampling stubs keep the plumbing shape") {
    val assets = Multimodal.generateAssets(spark, 30)
    val resized = Multimodal.resizeAll(assets, 32, 32).collect()
    assert(resized.forall(a => a.width == 32 && a.height == 32))
    for (a <- resized) {
      val (w, h, _, _) = Multimodal.decodeStub(a.media)
      assert(w == 32 && h == 32, "resized header must round-trip through decode")
    }
    // frame explosion: one row in → `frames` rows out, deterministic bytes
    val frames = Multimodal.sampleFrames(assets, 4).collect()
    assert(frames.length == 30 * 4)
    assert(frames.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(0 until 4)))
    val again = Multimodal.sampleFrames(Multimodal.generateAssets(spark, 30), 4).collect()
    assert(frames.sortBy(f => (f._1, f._2)).zip(again.sortBy(f => (f._1, f._2)))
      .forall { case (a, b) => a._3.sameElements(b._3) })
  }

  test("multimodal feature extraction is deterministic with pruned metadata scan") {
    val assets = Multimodal.generateAssets(spark, 50)
    val f1 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    val f2 = Multimodal.extractFeatures(Multimodal.generateAssets(spark, 50))
      .collect().sortBy(_.asset_id)
    assert(f1.map(_.content_hash).sameElements(f2.map(_.content_hash)))
    assert(f1.forall(_.features.length == 8))
    // metadata-only stats never touch the media column once on parquet
    val dir = java.nio.file.Files.createTempDirectory("mm").toString
    assets.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val plan = Multimodal.kindStats(onDisk).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("media"),
      s"media column must be pruned from the scan:\n$plan")
  }
}
