package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span; `counts`
  * holds counter deltas taken at the span's own boundaries. */
final case class Span(id: Long, parent: Long, run: String, layer: String,
                      name: String, startNs: Long, endNs: Long,
                      counts: Map[String, Long]) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Disabled, [[span]] only runs its body; enabled, it keeps
  * every span in memory (nothing is written while measuring) and nests
  * spans per thread. */
final class Tracer(val enabled: Boolean, val run: String) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Workloads that measure tracing overhead switch recording off for the
    * untraced half of their operations. */
  @volatile var active: Boolean = true

  def span[A](layer: String, name: String,
              counters: Option[() => Map[String, Long]] = None)(body: => A): A =
    if (!enabled || !active) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val before = counters.map(_())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val deltas = (before, counters) match {
          case (Some(b), Some(c)) =>
            val a = c(); a.map { case (k, v) => k -> (v - b.getOrElse(k, 0L)) }
          case _ => Map.empty[String, Long]
        }
        current.set(parent)
        spans.add(Span(id, parent, run, layer, name, t0, t1, deltas))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def count: Int = spans.size()

  /** Write every span as one JSON line. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"run":${Json.str(s.run)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":$counts}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      for ((a, b) <- kids) {
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total self time per layer, in nanoseconds. */
  def layerSelfNs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Minimal JSON writing for flat records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
