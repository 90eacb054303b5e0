package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

/** Loopback HTTP server for the ingest inputs: `GET /<name>` returns the
  * file `<dir>/<name>`; a name in `failing` always answers 500. It counts
  * requests and body bytes, so fetch retries show up as requests per file.
  */
final class FileServer(dir: Path, failing: Set[String] = Set.empty) {
  val requests = new AtomicLong()
  val bytes = new AtomicLong()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
  server.createContext("/", (ex: HttpExchange) => serve(ex))
  server.start()

  def url(name: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/$name"

  private def serve(ex: HttpExchange): Unit = try {
    requests.incrementAndGet()
    val name = ex.getRequestURI.getPath.stripPrefix("/")
    val file = dir.resolve(name)
    if (failing.contains(name) || !Files.isRegularFile(file)) ex.sendResponseHeaders(500, -1)
    else {
      ex.sendResponseHeaders(200, Files.size(file))
      val out = ex.getResponseBody
      bytes.addAndGet(Files.copy(file, out))
      out.close()
    }
  } finally ex.close()

  def stop(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case pool: java.util.concurrent.ExecutorService =>
        pool.shutdown()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      case _ =>
    }
  }
}
