package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import graft.index.IndexAudit
import graft.query.{DirectPages, DirectSearcher, HttpServing, QueryOps, Serving}

/** What a workload run measured. `e2e` and `layers` are keyed by the names
  * in [[Metrics]]; `detail` holds extra fields for the run record. */
final case class Result(tally: Checks.Tally, e2e: Map[String, Double],
                        layers: Map[String, Double], detail: Seq[(String, String)])

/** Settings of one run. `work` holds the run's scratch; `cache` holds the
  * serving artifact across runs of the same sources. */
final case class RunConf(workload: String, seed: Long, seconds: Double,
                         tracer: Tracer, work: File, cache: File)

object Workloads {

  val all: Seq[String] = Seq("build", "search", "http")

  /** Corpus size `build` indexes at each level, every run. */
  val BuildDocs = 50000L

  /** Size of the fixed corpus `search` and `http` serve. At this size the
    * query pool's terms hold 2.5 times as many posting blocks as the
    * searcher's 1,024-entry decoded-block cache (the run record's
    * `working_set_blocks`), so BM25 traffic misses the cache steadily. */
  val ServeDocs = 200000L

  def run(c: RunConf): Result = c.workload match {
    case "build"  => build(c)
    case "search" => search(c)
    case "http"   => http(c)
    case w        => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Per-layer metrics of one build. */
  private def buildLayers(b: Engine.Built): Map[String, Double] =
    b.stepS ++ Map(
      "index.blocks" -> b.blocks.toDouble,
      "direct.index_bytes" -> b.sidecarBytes.toDouble,
      "direct.bytes_per_doc" -> b.sidecarBytes.toDouble / b.numDocs,
      "spark.task_busy_ratio" -> b.busyRatio,
      "spark.stage_skew" -> b.skew) ++
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.gc_ms")
        .map(k => k -> b.spark(k).toDouble)

  /** Median of each key over several builds' per-layer maps. */
  private def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.head.keys.map(k => k -> Stats.median(ms.map(_(k)))).toMap

  /** Index audit and doc count of a build, outside any timed region. */
  private def checkBuild(b: Engine.Built, tally: Checks.Tally, audit: Boolean): Unit = {
    tally.check(b.docCount == b.numDocs, s"doc count ${b.docCount} != ${b.numDocs}")
    if (audit) {
      val rows = IndexAudit.audit(b.index).collect()
      tally.check(rows.nonEmpty && rows.forall(_.getAs[Boolean]("all_ok")),
        s"index audit failed on ${rows.count(r => !r.getAs[Boolean]("all_ok"))} of ${rows.length} rows")
    }
  }

  // ---------------------------------------------------------------- build

  /** Builds at local[nproc] per round of `build`: enough samples for a
    * median and a slowest build within one run. */
  val HiBuildsPerRound = 3

  /** Builds the seeded corpus in rounds of [[HiBuildsPerRound]] builds at
    * local[nproc] and one at local[nproc/2], until the run's seconds are
    * spent (at least one round). */
  def build(c: RunConf): Result = {
    val eng = new Engine(c.tracer, c.work)
    val tally = new Checks.Tally
    val hi = Host.nproc
    val lo = math.max(1, hi / 2)
    val dir = new File(c.work, "index").getAbsolutePath
    try {
      val s0 = System.nanoTime()
      eng.startSession(hi)
      // warm-up: a build of a quarter of the corpus, so JIT and code
      // generation are not timed as build work
      val warm = eng.build(BuildDocs / 4, c.seed ^ 0x77L, dir)
      warm.index.release(); Engine.deleteTree(new File(dir))
      val setupS = elapsedS(s0)

      val runs = Map(hi -> ArrayBuffer.empty[Engine.Built], lo -> ArrayBuffer.empty[Engine.Built])
      val openS = ArrayBuffer.empty[Double]
      val restartS = ArrayBuffer.empty[Double]
      val gc0 = Host.gcMs()
      val m0 = System.nanoTime()
      // a traced run traces the middle local[nproc] build of each round:
      // the untraced builds around it are the baseline for the tracing
      // overhead
      val round = Seq.fill(HiBuildsPerRound)(hi) :+ lo
      while (runs(lo).isEmpty || elapsedS(m0) < c.seconds) {
        for (level <- round) {
          if (eng.cpus != level) restartS += eng.startSession(level)
          c.tracer.active = level == hi && runs(hi).length % HiBuildsPerRound == 1
          val b = eng.build(BuildDocs, c.seed, dir)
          c.tracer.active = true
          checkBuild(b, tally, audit = runs(level).isEmpty)
          if (level == hi)
            openS += eng.timed("direct", "DirectSearcher.open")(DirectSearcher.open(dir, BuildDocs.toInt))._2
          b.index.release()
          Engine.deleteTree(new File(dir))
          runs(level) += b.copy(index = null)
          Host.log(f"local[$level] build ${runs(level).length}: ${b.docsPerS}%.0f docs/s")
        }
      }
      val gcMs = Host.gcMs() - gc0
      val hiRuns = runs(hi).toSeq
      val loRuns = runs(lo).toSeq
      val wallMs = hiRuns.map(_.wallS * 1000)
      val (tailP, tailMs) = Stats.tail(wallMs)
      val hiRate = Stats.median(hiRuns.map(_.docsPerS))
      val loRate = Stats.median(loRuns.map(_.docsPerS))
      Result(tally,
        e2e = Map("setup_s" -> setupS, "ops_per_s" -> hiRate,
          "p50_ms" -> Stats.median(wallMs), "tail_ms" -> tailMs),
        layers = medians(hiRuns.map(buildLayers)) ++ Map(
          "direct.open_s" -> Stats.median(openS),
          "spark.task_busy_ratio.half" -> Stats.median(loRuns.map(_.busyRatio)),
          "spark.stage_skew.half" -> Stats.median(loRuns.map(_.skew)),
          "spark.scaling_eff" -> (hiRate / loRate) / (hi.toDouble / lo),
          "trace.overhead_pct" -> (if (!c.tracer.enabled) 0.0 else {
            val (on, off) = hiRuns.indices.partition(_ % HiBuildsPerRound == 1) match {
              case (a, b) => (a.map(hiRuns(_).wallS), b.map(hiRuns(_).wallS))
            }
            (Stats.median(on) / Stats.median(off) - 1) * 100
          }),
          "jvm.gc_ms" -> gcMs.toDouble),
        detail = Seq(
          "levels" -> s"[$hi,$lo]",
          "docs_per_s_hi" -> hiRuns.map(r => Json.num(r.docsPerS)).mkString("[", ",", "]"),
          "docs_per_s_lo" -> loRuns.map(r => Json.num(r.docsPerS)).mkString("[", ",", "]"),
          "tail_percentile" -> Json.num(tailP),
          "session_restart_s" -> restartS.map(Json.num).mkString("[", ",", "]")))
    } finally eng.stop()
  }

  // --------------------------------------------------------------- search

  /** Tail percentiles of `search` and `http`. At their sample counts
    * (several hundred operations) p95 would qualify too, but it swings more
    * between runs than the benchmark's bound. In `http`, requests queue
    * behind the server's bimodal 2 ms / 44 ms responses. There the p90 of
    * eight seeds of one build spread by 27% of its median, the p75 by 14%.
    * In `search`, the slowest queries (three terms, most cache misses) slow
    * down most when the host is contended: over ten seeds on a busy 4-core
    * host the p90 spread by 23% of its median, the p75 by 16%. */
  val SearchTail = 75.0
  val HttpTail = 75.0

  /** `search` moves its client to the next core after this many queries,
    * a quarter of the pool, so a pass visits four cores. */
  val QueriesPerCore = 64

  /** `search` and `http` set up this many times and report the median;
    * each set-up ends with this many warm-up queries (search) or requests
    * (http, where a request on a fresh connection can take 40 ms). */
  val SetUps = 3
  val SetupQueries = 32
  val SetupRequests = 8

  /** Corpus seed of the serving artifact: the engine's default. */
  val ServeCorpusSeed = 42L

  /** The artifact `search` and `http` serve: the fixed serving corpus
    * indexed, its DirectIndex and page sidecars, and the batch twins'
    * answers (QueryOps.batchBm25TopK and batchReferenceTopK) for every
    * query of the fixed pool. Prepared once per source state, with the
    * build of the benchmark; the build path itself is measured by `build`. */
  def artifactDir(c: RunConf): File = new File(c.cache, s"serve-$ServeDocs")

  def prepare(c: RunConf): Unit = {
    val dir = artifactDir(c)
    Engine.deleteTree(dir)
    val eng = new Engine(c.tracer, c.work)
    try {
      eng.startSession(Host.nproc)
      val side = new File(dir, "sidecar").getAbsolutePath
      val b = eng.build(ServeDocs, ServeCorpusSeed, side)
      Host.log(f"built the serving corpus: ${b.numDocs} docs in ${b.wallS}%.2fs (${b.blocks} blocks)")
      eng.writePages(ServeDocs, ServeCorpusSeed, side)
      Host.log("wrote the page store")
      val pool = Inputs.pool.distinct
      val bm25 = Checks.batchByQuery(QueryOps.batchBm25TopK(eng.spark, b.index, pool, 10), pool)
      Host.log(s"batch BM25 answers for ${pool.length} queries")
      val reference = Checks.batchByQuery(
        QueryOps.batchReferenceTopK(eng.spark, b.index, pool, ServeDocs.toInt), pool)
      Host.log(s"batch reference answers for ${pool.length} queries")
      Checks.writeExpected(new File(dir, "expected.tsv"), Map("bm25" -> bm25, "reference" -> reference))
    } finally eng.stop()
    java.nio.file.Files.createFile(new File(dir, "ready").toPath)
    Host.log("serving artifact ready")
  }

  private def artifact(c: RunConf): File = {
    val dir = artifactDir(c)
    require(new File(dir, "ready").isFile, s"serving artifact missing at $dir: run with --prepare first")
    dir
  }

  /** One closed-loop client sends BM25 top-10 queries from the seeded log,
    * each after the previous one returns, in whole passes over the pool
    * until the run's seconds are spent. */
  def search(c: RunConf): Result = {
    val eng = new Engine(c.tracer, c.work)
    val tally = new Checks.Tally
    try {
      val art = artifact(c)
      val side = new File(art, "sidecar").getAbsolutePath
      val log = Inputs.queryLog(c.seed, 200000)
      val warm = Inputs.queryLog(c.seed + 1, Inputs.PoolSize)
      // set-up, [[SetUps]] + 1 times: open the sidecar and answer the first
      // warm-up queries on the fresh searcher, whose cache starts empty.
      // The first set-up is not counted and answers three times as many
      // queries: set-up times fall over the first hundred queries of a JVM,
      // while the JIT compiles the scoring loops. The last searcher serves
      // the run.
      val setups = (0 to SetUps).map { k =>
        val s0 = System.nanoTime()
        val (ds, openS) = eng.timed("direct", "DirectSearcher.open")(DirectSearcher.open(side, ServeDocs.toInt))
        warm.take(if (k == 0) 3 * SetupQueries else SetupQueries).foreach(ds.bm25TopK(_, 10))
        (ds, openS, elapsedS(s0))
      }.drop(1)
      val ds = setups.last._1
      val setupS = Stats.median(setups.map(_._3))
      val setupLayers = Map("direct.open_s" -> Stats.median(setups.map(_._2)))
      // untimed: more warm-up queries fill the last searcher's decoded-block
      // cache (about 18 misses a query against 1,024 entries)
      warm.slice(SetupQueries, 4 * SetupQueries).foreach(ds.bm25TopK(_, 10))
      // the earlier set-ups' searchers and caches are garbage now; collect
      // them before measuring, not during
      System.gc()
      Host.log(f"search set-up ${setupS}%.2fs (median of $SetUps); measuring")

      // traced runs watch the decoded-block cache between queries, outside
      // the timed call: the keys new since the last look are misses
      val cache = BlockCache.of(ds)
      val watch = cache.filter(_ => c.tracer.enabled)
      var cachedKeys = watch.map(_.keys()).orNull
      var misses = 0L
      val decoded = new java.util.HashSet[Any]()
      def look(bc: BlockCache): Unit = {
        val now = bc.keys()
        now.forEach(k => if (!cachedKeys.contains(k)) { misses += 1; decoded.add(k) })
        cachedKeys = now
      }

      val lat = ArrayBuffer.empty[Double]
      val got = ArrayBuffer.empty[Checks.Ranked]
      var alloc = 0L
      var pinned = true
      val gc0 = Host.gcMs()
      val bytes0 = ds.bytesRead.get()
      var measuredS = 0.0
      // the client runs on a thread of its own, moved to the next core
      // every [[QueriesPerCore]] queries (outside the timed calls): the
      // cores of a shared host run at different speeds that change by the
      // second, so a client that stays on one core measures that core
      val client = new Thread(() => {
        val m0 = System.nanoTime()
        var j = 0
        // whole passes over the pool, so every run measures the same mix
        while (j < log.length && (elapsedS(m0) < c.seconds || j % Inputs.PoolSize != 0)) {
          if (j % QueriesPerCore == 0) pinned &= Host.pinTo((j / QueriesPerCore) % Host.nproc)
          val q = log(j)
          val a0 = Host.threadAllocated()
          val t0 = System.nanoTime()
          // traced runs trace every other query: the untraced half is the
          // baseline the tracing overhead is measured against
          val r =
            if (c.tracer.enabled && j % 2 == 1)
              c.tracer.span("search", "DirectSearcher.bm25TopK")(ds.bm25TopK(q, 10))
            else ds.bm25TopK(q, 10)
          val t1 = System.nanoTime()
          alloc += Host.threadAllocated() - a0
          lat += (t1 - t0) / 1e6
          got += r
          watch.foreach(look)
          j += 1
        }
        measuredS = elapsedS(m0)
      }, "perfbench-search")
      var failure: Throwable = null
      client.setUncaughtExceptionHandler((_, e) => failure = e)
      client.start()
      client.join()
      if (failure != null) throw failure
      val n = lat.length
      val gcMs = Host.gcMs() - gc0
      val bytes = ds.bytesRead.get() - bytes0
      val issued = log.take(n)
      val traced = (0 until n).map(j => c.tracer.enabled && j % 2 == 1)
      val terms = issued.map(_.split(' ').length)
      val first = scala.collection.mutable.HashMap.empty[String, Checks.Ranked]
      val repeatsDiffer = scala.collection.mutable.HashSet.empty[String]
      for (j <- 0 until n) first.get(issued(j)) match {
        case None => first(issued(j)) = got(j)
        case Some(prev) => if (prev != got(j)) repeatsDiffer += issued(j)
      }

      Host.log(s"measured $n queries; checking ${first.size} distinct")
      // checks: BM25 against the batch twin at 1e-6, the reference scorer
      // against its batch twin exactly (both twins' answers were computed
      // with the artifact), and every repeat of a query identical to its
      // first answer
      val distinct = first.keys.toIndexedSeq.sorted
      val expected = Checks.readExpected(new File(art, "expected.tsv"))
      val (bmWant, refWant) = (expected("bm25"), expected("reference"))
      val refGot = distinct.map(q => q -> ds.referenceTopK(q)).toMap
      val bad = Checks.mismatches(first.toMap, bmWant, round = true) ++
        Checks.mismatches(refGot, refWant, round = false) ++ repeatsDiffer
      issued.foreach(q => tally.check(!bad.contains(q), s"query '$q' differs from its batch twin"))

      val (tailP, tailMs) = Stats.tail(lat, atMost = SearchTail)
      val byTerms = (1 to 3).map { k =>
        val xs = lat.indices.filter(j => terms(j) == k).map(lat)
        s"search.p50_ms.terms_$k" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
      }.toMap
      // the (term, block) keys the pool can touch, against the cache's bound
      val workingSet = cache.fold(0L)(_.workingSet(Inputs.pool))
      val touchable = cache.fold(0.0)(bc => issued.map(q => bc.termsOf(q).toSeq.map(bc.blocksOf).sum).sum.toDouble / n)
      val traceLayers =
        if (!c.tracer.enabled) Map.empty[String, Double]
        else {
          val on = lat.indices.filter(traced).map(lat)
          val off = lat.indices.filterNot(traced).map(lat)
          val spans = c.tracer.all
          val self = Tracer.layerSelfNs(spans)
          Map("search.self_ms" -> self.getOrElse("search", 0L) / 1e6 / math.max(1, on.length),
            "search.block_misses_per_query" -> misses.toDouble / n,
            "search.working_set_blocks" -> workingSet.toDouble,
            "trace.overhead_pct" -> (Stats.median(on) / Stats.median(off) - 1) * 100)
        }
      val cacheDetail =
        Seq("cache_observed" -> cache.isDefined.toString,
          "cache_capacity" -> BlockCache.Capacity.toString,
          "working_set_blocks" -> workingSet.toString,
          "touchable_blocks_per_query" -> Json.num(touchable)) ++
          watch.toSeq.flatMap(_ => Seq(
            "cache_misses" -> misses.toString,
            "cache_misses_per_query" -> Json.num(misses.toDouble / n),
            "decoded_blocks_distinct" -> decoded.size.toString,
            "cache_entries_at_end" -> cachedKeys.size.toString))
      Result(tally,
        e2e = Map("setup_s" -> setupS, "ops_per_s" -> n / measuredS,
          "p50_ms" -> Stats.median(lat), "tail_ms" -> tailMs),
        layers = setupLayers ++ byTerms ++ traceLayers ++ Map(
          "search.bytes_read_per_query" -> bytes.toDouble / n,
          "search.alloc_bytes_per_query" -> alloc.toDouble / n,
          "jvm.gc_ms" -> gcMs.toDouble),
        detail = Seq("queries" -> n.toString, "distinct_queries" -> distinct.length.toString,
          "tail_percentile" -> Json.num(tailP),
          "setup_s_each" -> setups.map(s => Json.num(s._3)).mkString("[", ",", "]"),
          "latencies_ms" -> lat.map(Json.num).mkString("[", ",", "]"),
          "client_moved_across_cores" -> pinned.toString) ++ cacheDetail)
    } finally eng.stop()
  }

  // ----------------------------------------------------------------- http

  /** Fixed arrival rates of the open-loop steps, lowest first, and the
    * middle rate whose latencies are the end-to-end figures. */
  val HttpRates: Seq[Double] = Seq(30, 60, 120)
  val HttpMiddleRate = 60.0

  /** A step passes when its tail latency is within this limit. */
  val HttpLimitMs = 250.0

  /** Serves the engine over HttpServing and sends 75% searches and 25%
    * detail fetches: open loop on a seeded Poisson schedule, one step per
    * fixed rate, then closed loop over `nproc` connections for the
    * throughput the server sustains. */
  def http(c: RunConf): Result = {
    val eng = new Engine(c.tracer, c.work)
    val tally = new Checks.Tally
    val conns = Host.nproc
    var server: HttpServing = null
    try {
      val art = artifact(c)
      val side = new File(art, "sidecar").getAbsolutePath
      val warm = Inputs.requestMix(c.seed + 1, Inputs.PoolSize, ServeDocs)
      // set-up, [[SetUps]] times: open both sidecars, start the server and
      // send the first warm-up requests over HTTP. The last server serves
      // the run; the others are stopped.
      val setups = (1 to SetUps).map { k =>
        val s0 = System.nanoTime()
        val (ds, openS) = eng.timed("direct", "DirectSearcher.open")(DirectSearcher.open(side, ServeDocs.toInt))
        val pages = eng.timed("direct", "DirectPages.open")(DirectPages.open(side))._1
        server = eng.timed("http", "HttpServing.start")(HttpServing.start(ds, pages))._1
        val wc = new HttpConn(server.port)
        try warm.take(SetupRequests).foreach(r => wc.get(r.path)) finally wc.close()
        val setupS = elapsedS(s0)
        if (k < SetUps) server.stop()
        (ds, pages, openS, setupS)
      }
      val (ds, pages, _, _) = setups.last
      val setupS = Stats.median(setups.map(_._4))
      val setupLayers = Map("direct.open_s" -> Stats.median(setups.map(_._3)))
      // the rest of the warm-up, untimed: the serving path in-process
      warm.foreach(r => if (r.search) Serving.searchJson(q => ds.referenceTopK(q), r.key) else pages.detailJson(r.key))
      System.gc()

      val gc0 = Host.gcMs()
      // open loop: every step runs, whether or not the one before passed
      val steps = HttpRates.zipWithIndex.map { case (rate, k) =>
        val durS = if (rate == HttpMiddleRate) 0.4 * c.seconds else 2.0
        val sched = Inputs.poissonSchedule(c.seed * 31 + k, rate, (durS * 1e9).toLong)
        val reqs = Inputs.requestMix(c.seed * 31 + k, sched.length, ServeDocs)
        val step = HttpLoad.runStep(server.port, conns, rate, durS, sched, i => reqs(i).path, c.tracer)
        val lat = step.done.map(_.latencyMs)
        val ok = step.errors == 0 && step.unsent == 0 && lat.nonEmpty &&
          Stats.tail(lat, atMost = HttpTail)._2 <= HttpLimitMs &&
          step.outstandingAtEnd <= conns + math.ceil(rate * 0.1)
        Host.log(s"step $rate/s: ${step.done.length} done, pass=$ok")
        (step, reqs, ok)
      }
      // closed loop: saturated throughput at nproc connections
      val closedN = 100000
      val closedReqs = Inputs.requestMix(c.seed * 31 + HttpRates.length, closedN, ServeDocs)
      val (closed, closedS, closedErrors) =
        HttpLoad.closedLoop(server.port, conns, 0.2 * c.seconds, closedN, i => closedReqs(i).path)
      val maxRps = closed.length / closedS
      Host.log(f"closed loop: ${closed.length} done in $closedS%.2fs, $maxRps%.1f req/s")
      val gcMs = Host.gcMs() - gc0

      // in-process replay of every distinct request: the expected body and
      // the serving time without transport
      val all = steps.map { case (s, reqs, _) => (s.done, reqs, s.errors, s.rate.toString) } :+
        ((closed, closedReqs, closedErrors, "closed loop"))
      val distinct = all.flatMap { case (done, reqs, _, _) => done.map(d => reqs(d.idx)) }.distinct
      val inproc = distinct.map { r =>
        val t0 = System.nanoTime()
        val body =
          if (r.search)
            c.tracer.span("serving", "Serving.searchJson")(Serving.searchJson(
              q => c.tracer.span("search", "DirectSearcher.referenceTopK")(ds.referenceTopK(q)), r.key))
          else c.tracer.span("serving", "DirectPages.detailJson")(pages.detailJson(r.key))
        r -> (body.getBytes("UTF-8"), (System.nanoTime() - t0) / 1e6)
      }.toMap
      for ((done, reqs, errors, at) <- all) {
        for (d <- done) {
          val r = reqs(d.idx)
          tally.check(d.status == 200 && java.util.Arrays.equals(d.body, inproc(r)._1),
            s"${r.path}: status ${d.status}, body differs from in-process")
        }
        (0 until errors).foreach(_ => tally.check(ok = false, s"request error at $at"))
      }

      val (mid, midReqs, _) = steps.find(_._1.rate == HttpMiddleRate).get
      val midLat = mid.done.map(_.latencyMs)
      val (tailP, tailMs) = Stats.tail(midLat, atMost = HttpTail)
      val passing = steps.filter(_._3).map(_._1.rate)
      val searchMs = inproc.collect { case (r, (_, ms)) if r.search => ms }
      val detailMs = inproc.collect { case (r, (_, ms)) if !r.search => ms }
      val transport = mid.done.map(d => (d.endNs - d.startNs) / 1e6 - inproc(midReqs(d.idx))._2)
      val traceLayers =
        if (!c.tracer.enabled) Map.empty[String, Double]
        else {
          val self = Tracer.layerSelfNs(c.tracer.all)
          val on = mid.done.filter(_.idx % 2 == 1).map(_.latencyMs)
          val off = mid.done.filter(_.idx % 2 == 0).map(_.latencyMs)
          Map("trace.overhead_pct" -> (Stats.median(on) / Stats.median(off) - 1) * 100,
            "serving.self_ms" -> self.getOrElse("serving", 0L) / 1e6 / math.max(1, inproc.size),
            "search.self_ms" -> self.getOrElse("search", 0L) / 1e6 / math.max(1, searchMs.size))
        }
      Result(tally,
        e2e = Map("setup_s" -> setupS, "ops_per_s" -> maxRps,
          "p50_ms" -> Stats.median(midLat), "tail_ms" -> tailMs),
        layers = setupLayers ++ traceLayers ++ Map(
          "serving.search_ms" -> Stats.median(searchMs),
          "serving.detail_ms" -> Stats.median(detailMs),
          "http.transport_ms" -> Stats.median(transport),
          "http.response_bytes" -> mid.done.map(_.body.length.toDouble).sum / mid.done.length,
          "http.backlog_max" -> mid.backlog.max.toDouble,
          "http.generator_lag_ms" -> Stats.tail(mid.lagMs)._2,
          "jvm.gc_ms" -> gcMs.toDouble),
        detail = Seq(
          "steps" -> steps.map { case (s, _, ok) =>
            val l = s.done.map(_.latencyMs)
            Json.obj(Seq("rate" -> Json.num(s.rate), "sent" -> s.done.length.toString,
              "errors" -> s.errors.toString, "unsent" -> s.unsent.toString,
              "p50_ms" -> (if (l.isEmpty) "null" else Json.num(Stats.median(l))),
              "tail_ms" -> (if (l.isEmpty) "null" else Json.num(Stats.tail(l, atMost = HttpTail)._2)),
              "outstanding_at_end" -> s.outstandingAtEnd.toString, "pass" -> ok.toString))
          }.mkString("[", ",", "]"),
          "max_passing_rate" -> (if (passing.isEmpty) "null" else Json.num(passing.max)),
          "closed_loop" -> Json.obj(Seq("done" -> closed.length.toString,
            "seconds" -> Json.num(closedS), "errors" -> closedErrors.toString,
            "p50_ms" -> Json.num(Stats.median(closed.map(_.latencyMs))))),
          "middle_rate" -> Json.num(HttpMiddleRate),
          "middle_latencies_ms" -> midLat.map(Json.num).mkString("[", ",", "]"),
          "tail_percentile" -> Json.num(tailP),
          "connections" -> conns.toString))
    } finally {
      if (server != null) server.stop()
      eng.stop()
    }
  }
}
