package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** HTTP transport for [[GraftApi]] — the reference's GraphQL endpoint
  * (`src/modules/api/index.ts:54-75`: graphql-yoga mounted at
  * `/api/v2/graphql`, CORS enabled, port 4568) served by the JDK's
  * built-in `com.sun.net.httpserver` — no framework dependency, which
  * keeps the engine's dependency surface exactly what's already on
  * the Spark classpath.
  *
  * Protocol (GraphQL-over-HTTP):
  *   - `POST /api/v2/graphql` (also `/graphql`) with
  *     `{"query": "...", "variables": {...}}`
  *   - `GET ...?query=...&variables=...` for quick probes
  *   - 200 with `{"data": ...}` / field-level `errors` (GraphQL
  *     partial-result semantics); 400 only for malformed HTTP/JSON;
  *     CORS `*` + OPTIONS preflight like the reference's
  *     `cors: true`.
  *
  * Threading: a small fixed pool; Spark schedulers are thread-safe,
  * and each request's driver-side work is O(page) (the resolver layer
  * collects only limit-bounded pages). This is an interactive front
  * door on the DRIVER — the per-query heavy lifting runs distributed,
  * exactly as when the same pipelines are called as a library. */
final class HttpApi(api: GraftApi, port: Int = 0, threads: Int = 4) {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // owned pool, shut down by stop(): HttpServer.stop() does NOT stop
  // a caller-supplied executor, and its non-daemon threads keep any
  // embedding JVM alive after the server is gone (surfaced by the
  // StoreScale e2e stage — the runMain JVM never exited)
  private val pool =
    java.util.concurrent.Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  private val handler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try {
        ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
        ex.getResponseHeaders.add("Access-Control-Allow-Headers",
          "Content-Type")
        ex.getRequestMethod match {
          case "OPTIONS" =>
            ex.sendResponseHeaders(204, -1)
          case "POST" =>
            val body = new String(
              ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val parsed =
              try Some(mapper.readTree(body))
              catch { case _: Exception => None }
            parsed match {
              case Some(req) if req.hasNonNull("query") =>
                val vars = Option(req.get("variables"))
                  .filterNot(_.isNull)
                  .map(mapper.writeValueAsString)
                val opName = Option(req.get("operationName"))
                  .filterNot(_.isNull).map(_.asText())
                  .filter(_.nonEmpty)
                respond(ex, 200,
                  api.executeJson(req.get("query").asText(), vars,
                    opName))
              case _ =>
                respond(ex, 400,
                  """{"errors":[{"message":"body must be JSON with a 'query' string"}]}""")
            }
          case "GET" =>
            val params = queryParams(ex)
            params.get("query") match {
              case Some(q) =>
                respond(ex, 200, api.executeJson(q,
                  params.get("variables"),
                  params.get("operationName").filter(_.nonEmpty)))
              case None =>
                respond(ex, 400,
                  """{"errors":[{"message":"missing ?query="}]}""")
            }
          case _ =>
            respond(ex, 405,
              """{"errors":[{"message":"use GET or POST"}]}""")
        }
      } catch {
        // StackOverflowError included: it is an Error, so a plain
        // Exception handler would drop the request with no response —
        // and a crafted document is exactly what provokes it
        case e: Throwable if scala.util.control.NonFatal(e) ||
            e.isInstanceOf[StackOverflowError] =>
          val msg = mapper.writeValueAsString(
            Option(e.getMessage).getOrElse(e.toString))
          respond(ex, 500, s"""{"errors":[{"message":$msg}]}""")
      } finally ex.close()
    }
  }
  server.createContext("/api/v2/graphql", handler)
  server.createContext("/graphql", handler)
  // the reference's one REST route (api/controller.ts:8-39) — the
  // read half; see GraftApi.streamIdLookup for the scope note
  server.createContext("/api/v1/create_stream_id", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try {
        ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, """{"errors":[{"message":"use POST"}]}""")
        else {
          val body = mapper.readTree(new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          respond(ex, 200, mapper.writeValueAsString(
            api.streamIdLookup(
              body.path("author").asText(""),
              body.path("permlink").asText(""))))
        }
      } catch {
        case e: Exception =>
          val msg = mapper.writeValueAsString(
            Option(e.getMessage).getOrElse(e.toString))
          respond(ex, 400, s"""{"errors":[{"message":$msg}]}""")
      } finally ex.close()
    }
  })

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type",
      "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&"))
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
              java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap

  def start(): HttpApi = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
