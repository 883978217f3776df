package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM readings: the noise record stored with every run (CPU steal
  * and load average, recorded only, never used to drop a run), peak RSS and
  * GC time. */
object Host {

  /** (steal, total) jiffies from the aggregate line of /proc/stat; guest
    * time is already folded into user, so columns past steal are excluded. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cols = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (cols.length > 7) cols(7) else 0L, cols.take(8).sum)
    } finally src.close()
  }

  def stealFraction(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total <= 0) 0.0 else (after._1 - before._1).toDouble / total
  }

  /** The three load averages from /proc/loadavg. */
  def loadAvg(): Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
    finally src.close()
  }

  /** Peak resident set size of this process in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Total GC time of this JVM so far, in milliseconds. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the calling thread. */
  def threadAllocated(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Pins the calling thread to core `cpu` with `taskset`; false when that
    * fails (no `taskset`, or no such core). */
  def pinTo(cpu: Int): Boolean =
    try {
      val tid = new java.io.File("/proc/thread-self").getCanonicalFile.getName
      new ProcessBuilder("taskset", "-p", "-c", cpu.toString, tid)
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor() == 0
    } catch { case _: java.io.IOException => false }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private val t0 = System.nanoTime()

  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
}
