package perfbench

import java.io.File

/** One benchmark run:
  * {{{
  * Main --workload build|search|http --seed N --seconds S --trace 0|1
  *      --work DIR --out DIR --cache DIR
  * }}}
  * Prints the run record (noise, every metric, details) as one JSON line,
  * then the result line: end-to-end metrics untraced, per-layer metrics
  * traced. `--work` holds scratch (sidecars, Spark local dirs); `--out`
  * receives the run record and, traced, the spans as JSON lines; `--cache`
  * holds the serving artifact of `search` and `http`, which
  * `Main --prepare 1 --work DIR --cache DIR` builds once per source state. */
object Main {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = opts.getOrElse("workload", "")
    if (opts.contains("prepare")) {
      val c = RunConf("prepare", 0L, 0.0, new Tracer(false, "prepare"), new File(need("work")),
        new File(need("cache")))
      try Workloads.prepare(c)
      catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
      sys.exit(0)
    }
    if (!Workloads.all.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; expected one of ${Workloads.all.mkString(", ")}")
      sys.exit(2)
    }
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new File(need("work"))
    val out = new File(need("out"))
    val cache = new File(need("cache"))
    work.mkdirs(); out.mkdirs(); cache.mkdirs()

    val run = s"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(trace, run)
    val cpu0 = Host.cpuJiffies()
    val load0 = Host.loadAvg()
    val res =
      try Workloads.run(RunConf(workload, seed, seconds, tracer, work, cache))
      catch { case e: Throwable =>
        // no result line: the run failed outright
        e.printStackTrace()
        sys.exit(1)
      }
    val steal = Host.stealFraction(cpu0, Host.cpuJiffies())
    val e2e = res.e2e + ("peak_rss_mb" -> Host.peakRssMb())
    val layers = res.layers + ("trace.spans" -> tracer.count.toDouble)
    if (trace) tracer.writeJsonLines(new File(out, s"$run.spans.jsonl").toPath)

    def nums(m: Map[String, Double]): String =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "run" -> Json.str(run), "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> trace.toString, "nproc" -> Host.nproc.toString,
      "build_docs" -> Workloads.BuildDocs.toString, "serve_docs" -> Workloads.ServeDocs.toString,
      "noise" -> Json.obj(Seq("cpu_steal_fraction" -> Json.num(steal),
        "loadavg_start" -> load0.map(Json.num).mkString("[", ",", "]"),
        "loadavg_end" -> Host.loadAvg().map(Json.num).mkString("[", ",", "]"))),
      "correct" -> res.tally.correct.toString,
      "attempted" -> res.tally.attempted.toString, "failed" -> res.tally.failed.toString,
      "failed_ratio" -> Json.num(res.tally.failed.toDouble / math.max(1L, res.tally.attempted)),
      "failures" -> res.tally.examples.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> nums(e2e), "per_layer" -> nums(layers)) ++ res.detail)
    java.nio.file.Files.write(new File(out, s"$run.json").toPath, (record + "\n").getBytes("UTF-8"))
    println(record)
    println(Metrics.resultLine(res.tally.correct, res.tally.attempted, res.tally.failed,
      if (trace) Metrics.PerLayer else Metrics.EndToEnd, if (trace) layers else e2e))
    System.out.flush()
    Host.log("exit")
    // Spark and the JDK HTTP server leave non-daemon threads behind
    sys.exit(0)
  }
}
