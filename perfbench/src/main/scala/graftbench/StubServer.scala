package graftbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

/** Single-threaded JDK HttpServer standing in for the OpenSky endpoint.
  * Bodies are rendered before the server starts, so no generation runs
  * inside a timed tick; request i gets body i mod bodies.length. */
final class StubServer(bodies: Array[Array[Byte]]) {
  private val next = new AtomicInteger(0)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool: ExecutorService = Executors.newSingleThreadExecutor()
  server.setExecutor(pool)
  server.createContext("/api/states/all", (ex: HttpExchange) => {
    val body = bodies(next.getAndIncrement() % bodies.length)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/states/all"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
