package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** A persistent HTTP/1.1 connection with default socket options: one
  * request in flight at a time, written in one piece. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(30000)
  private val out = new BufferedOutputStream(sock.getOutputStream)
  private val in = new BufferedInputStream(sock.getInputStream)

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-response")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def readFully(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new java.io.EOFException("connection closed mid-body")
      off += r
    }
    b
  }

  /** (status, body) of `GET path`. */
  def get(path: String): (Int, Array[Byte]) = {
    out.write(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(US_ASCII))
    out.flush()
    val status = readLine().split(" ")(1).toInt
    var len = -1
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = line.substring(i + 1).trim.toInt
      line = readLine()
    }
    // HttpServing always sends a length; anything else is a failed request
    if (len < 0) throw new java.io.IOException(s"response to $path has no Content-Length")
    val body = readFully(len)
    (status, body)
  }

  def close(): Unit = sock.close()
}

object HttpLoad {

  /** One completed request: its index in the step, due and completion
    * times, response status and body. */
  final case class Done(idx: Int, dueNs: Long, startNs: Long, endNs: Long,
                        status: Int, body: Array[Byte]) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
  }

  /** Outcome of one fixed-rate step. `lagMs` is how late the generator
    * released each request against its due time; `backlog` samples the
    * released-but-unsent queue at each release; `unsent` counts requests
    * still queued when the step was cut. */
  final case class Step(rate: Double, durationS: Double, done: Seq[Done],
                        errors: Int, lagMs: Seq[Double], backlog: Seq[Int],
                        unsent: Int, outstandingAtEnd: Int) {
    def completedPerS: Double = done.length / durationS
  }

  /** Open-loop step: requests are released on the Poisson `schedule`
    * (nanosecond offsets) regardless of completions and sent over `conns`
    * persistent connections; each is timed from its due time. When the
    * schedule ends, requests not yet sent within `drainS` are cut. */
  def runStep(port: Int, conns: Int, rate: Double, durationS: Double,
              schedule: Array[Long], paths: Int => String,
              tracer: Tracer, drainS: Double = 2.0): Step = {
    val queue = new LinkedBlockingQueue[(Int, Long)]()
    val done = new ConcurrentLinkedQueue[Done]()
    val errors = new AtomicInteger(0)
    val released = new AtomicLong(0L)
    val finished = new AtomicLong(0L)
    @volatile var generating = true
    @volatile var cut = false
    val t0 = System.nanoTime() + 5000000L // 5 ms to let the workers park
    val workers = (0 until conns).map { w =>
      val th = new Thread(() => {
        val c = new HttpConn(port)
        try {
          var running = true
          while (running) {
            val next = queue.poll(20, TimeUnit.MILLISECONDS)
            if (next == null) { if (!generating) running = false }
            else if (cut) finished.incrementAndGet()
            else {
              val (i, due) = next
              val s = System.nanoTime()
              try {
                // traced runs trace every other request; the rest are the
                // baseline for the tracing overhead
                val (st, body) =
                  if (i % 2 == 1) tracer.span("http", "GET")(c.get(paths(i)))
                  else c.get(paths(i))
                done.add(Done(i, due, s, System.nanoTime(), st, body))
              } catch { case _: Exception => errors.incrementAndGet() }
              finished.incrementAndGet()
            }
          }
        } finally c.close()
      }, s"perfbench-conn-$w")
      th.start(); th
    }
    val lag = new Array[Double](schedule.length)
    val backlog = new Array[Int](schedule.length)
    var i = 0
    while (i < schedule.length) {
      val due = t0 + schedule(i)
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      queue.add((i, due))
      released.incrementAndGet()
      lag(i) = (now - due) / 1e6
      backlog(i) = queue.size()
      i += 1
    }
    val scheduleEnd = t0 + (durationS * 1e9).toLong
    var now = System.nanoTime()
    while (now < scheduleEnd) { LockSupport.parkNanos(scheduleEnd - now); now = System.nanoTime() }
    val outstandingAtEnd = (released.get() - finished.get()).toInt
    val drainEnd = now + (drainS * 1e9).toLong
    while (!queue.isEmpty && System.nanoTime() < drainEnd) Thread.sleep(5)
    val unsent = queue.size()
    cut = true
    generating = false
    workers.foreach(_.join())
    Step(rate, durationS, done.asScala.toSeq.sortBy(_.idx), errors.get(),
      lag.toSeq, backlog.toSeq, unsent, outstandingAtEnd)
  }

  /** Closed-loop saturation: each of `conns` connections sends request
    * after request, in the order of `paths`, for `durationS`; a request is
    * timed from its send. The completions per second are what the server
    * sustains at this concurrency. Returns (completed, seconds, errors). */
  def closedLoop(port: Int, conns: Int, durationS: Double, n: Int,
                 paths: Int => String): (Seq[Done], Double, Int) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val errors = new AtomicInteger(0)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val end = t0 + (durationS * 1e9).toLong
    val workers = (0 until conns).map { w =>
      val th = new Thread(() => {
        val c = new HttpConn(port)
        try {
          var i = next.getAndIncrement()
          while (i < n && System.nanoTime() < end) {
            val s = System.nanoTime()
            try {
              val (st, body) = c.get(paths(i))
              done.add(Done(i, s, s, System.nanoTime(), st, body))
            } catch { case _: Exception => errors.incrementAndGet() }
            i = next.getAndIncrement()
          }
        } finally c.close()
      }, s"perfbench-closed-$w")
      th.start(); th
    }
    workers.foreach(_.join())
    val elapsedS = (System.nanoTime() - t0) / 1e9
    (done.asScala.toSeq.sortBy(_.idx), elapsedS, errors.get())
  }
}
