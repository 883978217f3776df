package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors}
import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

class HttpLoadSpec extends AnyFunSuite {

  /** A local server that answers every GET with its own path, and records
    * the client ports it saw. */
  private def withEchoServer(body: (Int, java.util.Set[Integer]) => Unit): Unit = {
    val ports = ConcurrentHashMap.newKeySet[Integer]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      ports.add(ex.getRemoteAddress.getPort)
      val b = ex.getRequestURI.getPath.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    val pool = Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    try body(server.getAddress.getPort, ports)
    finally { server.stop(0); pool.shutdownNow() }
  }

  test("the closed loop sends on its connections only, until its time is up") {
    withEchoServer { (port, ports) =>
      val (done, secs, errors) = HttpLoad.closedLoop(port, 3, 0.5, 1000000, i => s"/r$i")
      assert(errors == 0)
      assert(done.nonEmpty)
      assert(secs >= 0.5 && secs < 5.0, s"ran $secs s")
      assert(done.forall(d => d.status == 200 && new String(d.body, "UTF-8") == s"/r${d.idx}"))
      assert(done.map(_.idx).distinct.length == done.length)
      assert(done.forall(d => d.dueNs == d.startNs && d.endNs >= d.startNs))
      assert(ports.size <= 3, s"${ports.size} connections")
    }
  }

  test("the closed loop stops after the last request") {
    withEchoServer { (port, _) =>
      val (done, secs, _) = HttpLoad.closedLoop(port, 2, 30.0, 5, i => s"/r$i")
      assert(done.map(_.idx) == (0 until 5))
      assert(secs < 30.0)
    }
  }
}
