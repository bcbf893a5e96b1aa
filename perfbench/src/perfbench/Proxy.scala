package perfbench

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One REST request as the proxy saw it. */
final case class RestCall(client: Int, unit: Long, kind: String, status: Int,
    reqBytes: Long, respBytes: Long, start: Double, end: Double)

/** Pass-through HTTP proxy in front of the REST catalog, one port per
  * client. Each request is attributed to the single op its client has in
  * flight ([[current]]), timed around the upstream round trip, and kept in
  * memory. */
final class Proxy(client: Int, upstream: String, tracer: Tracer) {
  @volatile var current: Long = 0L
  private val calls = mutable.ArrayBuffer.empty[RestCall]
  private val http = HttpClient.newHttpClient()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  server.createContext("/", (ex: HttpExchange) => {
    try {
      val body = ex.getRequestBody.readAllBytes()
      val path = ex.getRequestURI.toString
      val b = HttpRequest.newBuilder(java.net.URI.create(upstream + path))
      Seq("Authorization", "Content-Type").foreach { h =>
        Option(ex.getRequestHeaders.getFirst(h)).foreach(v => b.header(h, v))
      }
      val req = (ex.getRequestMethod match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case m => b.method(m, HttpRequest.BodyPublishers.ofByteArray(body))
      }).build()
      val unit = current
      val t0 = Clock.nowMs
      val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      val t1 = Clock.nowMs
      val bytes = resp.body()
      val call = RestCall(client, unit, Proxy.kindOf(ex.getRequestMethod, path),
        resp.statusCode(), body.length.toLong, bytes.length.toLong, t0, t1)
      calls.synchronized { calls += call }
      if (unit != 0L) tracer.add(Span(tracer.nextId(), unit, s"REST ${call.kind}", "rest",
        client, t0, t1))
      Option(resp.headers().firstValue("Content-Type").orElse(null))
        .foreach(v => ex.getResponseHeaders.add("Content-Type", v))
      ex.sendResponseHeaders(resp.statusCode(), if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    } finally ex.close()
  })
  server.start()

  def uri: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def all: Seq[RestCall] = calls.synchronized { calls.toList }
  def stop(): Unit = server.stop(0)
}

object Proxy {
  /** Endpoint class of a catalog request path. */
  def kindOf(method: String, path: String): String = {
    val p = path.takeWhile(_ != '?')
    if (p.endsWith("/commit")) "commit"
    else if (p.contains("/plan") || p.endsWith("/tasks")) "plan"
    else if (p.contains("/oauth/tokens")) "auth"
    else if (method == "GET" && p.matches(".*/tables/[^/]+")) "load"
    else "other"
  }
}
