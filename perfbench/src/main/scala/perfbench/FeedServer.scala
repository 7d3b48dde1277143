package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Loopback stand-in for the paged books REST API: `GET /books?offset=N&limit=M`
  * answers with the JSON array of feed records [N, N+M). Four handler
  * threads, one per local core. Counts requests and response bytes. */
final class FeedServer(feedJson: java.io.File) extends AutoCloseable {
  private val mapper = new ObjectMapper()
  private val feed = mapper.readTree(feedJson).asInstanceOf[ArrayNode]
  val requests = new AtomicLong
  val bytes = new AtomicLong
  private val pool = Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/books", (ex: HttpExchange) => serve(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/books"
  def size: Int = feed.size()

  private def serve(ex: HttpExchange): Unit = try {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
    val from = math.min(q.getOrElse("offset", "0").toInt, feed.size())
    val until = math.min(from + q.getOrElse("limit", "100").toInt, feed.size())
    val page = mapper.createArrayNode()
    (from until until).foreach(i => page.add(feed.get(i)))
    val body = mapper.writeValueAsBytes(page)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
    requests.incrementAndGet()
    bytes.addAndGet(body.length.toLong)
  } finally ex.close()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
