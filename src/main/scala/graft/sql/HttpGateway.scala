package graft.sql

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** HTTP front door over the broker-response assemblers — the
  * reference's client entry points re-expressed on the JDK server (the
  * Kafka stack already proves the repo's protocol-server muscle; HTTP
  * needs no hand-rolled framing):
  *
  *   POST /query/sql       body {"sql": "..."}  →
  *   GET  /query/sql?sql=…                      →  [[BrokerResponse]]
  *     (`pinot-broker/.../api/resources/PinotClientRequest.java:141-222`
  *      — the GET form takes `sql` as a query parameter, the POST form
  *      requires the JSON field `sql` and answers 400 with "Payload is
  *      missing the query string field 'sql'" otherwise)
  *   POST /query           body {"sql": "...", "queryOptions": "k=v;…"}
  *   GET  /query?sql=…                          →  [[BrokerResponse]]
  *     (the reference's MSE entry point,
  *      `PinotClientRequest.java:311,342` — same handler surface as
  *      /query/sql plus the `queryOptions` body field, whose
  *      `k1=v1;k2=v2` pairs become the facade's SET options)
  *   POST /query/sql?getCursor=true&numRows=N  →  first page + cursor
  *     (`PinotClientRequest.java:186-189` — the result is materialized
  *      in the [[ResponseStore]] and the response carries the
  *      CursorResponseNative pagination fields)
  *   GET    /responseStore/                     →  stored-cursor metadata list
  *   GET    /responseStore/{id}                 →  one cursor's metadata
  *   GET    /responseStore/{id}/results?offset=…&numRows=…  →  a page
  *   DELETE /responseStore/{id}                 →  drop the stored result
  *   DELETE /responseStore/?expiredBefore=…     →  reap expired cursors
  *     (`ResponseStoreResource.java:89-205`, incl. its plain-string
  *      delete bodies and 404 contract)
  *   GET  /timeseries/api/v1/query_range?query=…&start=…&end=…&step=…
  *                                              →  [[TimeSeriesEndpoint]]
  *     (`TimeSeriesRequestHandler.java:226-248`; the endpoint assembles
  *      the Prometheus matrix shape, including its own error statuses,
  *      so every outcome is HTTP 200 with a status field — matching the
  *      reference handler, which maps query errors into the payload)
  *
  * Responses are EXACTLY the assemblers' JSON — the gateway adds
  * transport, never content. Queries execute on the caller-provided
  * SparkSession; concurrency rides Spark's own scheduler (the FAIR
  * QPS probe covers the engine side).
  */
object HttpGateway {

  final case class Gateway(server: HttpServer, port: Int,
      requestIds: AtomicLong, store: ResponseStore, guard: QueryGuard) {
    def stop(): Unit = {
      server.stop(0)
      // the transport pool's threads are non-daemon — shut them down so
      // a session that starts/stops gateways doesn't accrete threads
      server.getExecutor match {
        case es: java.util.concurrent.ExecutorService => es.shutdown()
        case _ =>
      }
    }
  }

  /** Minimal JSON string-field extractor for `{"sql": "..."}` bodies:
    * finds the top-level `"sql"` key and decodes the JSON string that
    * follows (escapes incl. \uXXXX). None when absent or malformed —
    * the 400 path. */
  private[graft] def extractSqlField(body: String): Option[String] =
    extractStringField(body, "sql")

  private[graft] def extractStringField(body: String,
      name: String): Option[String] = {
    val key = "\"" + name + "\""
    var i = body.indexOf(key)
    while (i >= 0) {
      var j = i + key.length
      while (j < body.length && body.charAt(j).isWhitespace) j += 1
      if (j < body.length && body.charAt(j) == ':') {
        j += 1
        while (j < body.length && body.charAt(j).isWhitespace) j += 1
        if (j < body.length && body.charAt(j) == '"')
          return decodeJsonString(body, j)
      }
      i = body.indexOf(key, i + 1)
    }
    None
  }

  private def decodeJsonString(s: String, open: Int): Option[String] = {
    val sb = new StringBuilder
    var i = open + 1
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => return Some(sb.toString)
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' if i + 5 < s.length =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16)
                .toChar)
              i += 6
            case c => sb.append(c); i += 2
          }
        case c => sb.append(c); i += 1
      }
    }
    None // unterminated
  }

  private[sql] def parseQueryParams(rawQuery: String): Map[String, String] =
    Option(rawQuery).filter(_.nonEmpty).map {
      _.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, UTF_8) ->
              java.net.URLDecoder.decode(v, UTF_8))
          case Array(k) =>
            Some(java.net.URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  /** CursorConfigs.DEFAULT_CURSOR_FETCH_ROWS — the page size when
    * getCursor=true and no numRows is given. */
  val DefaultCursorFetchRows = 10000

  /** Start the gateway on `port` (0 = ephemeral; read the bound port
    * from the returned [[Gateway]]). `resolve` is the time-series
    * table resolver (the broker's table-resolution role).
    * `cursorRoot` anchors the response store (default: a fresh temp
    * dir — pass a durable path to page across processes). */
  def start(spark: SparkSession, resolve: String => DataFrame,
      port: Int = 0, cursorRoot: Option[String] = None,
      brokerTimeoutMs: Long = QueryGuard.DefaultBrokerTimeoutMs): Gateway = {
    // the JDK server writes a response's headers and body as two
    // segments; without TCP_NODELAY the body waits for the client's
    // delayed ACK (~40 ms per request). The property is JVM-global and
    // read once, when the JVM's first HttpServer is created, so it is
    // set only when unset and only takes effect if no other HttpServer
    // came first (build.sbt sets it for the forked test JVM).
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val ids = new AtomicLong(0L)
    val store = new ResponseStore(spark, cursorRoot.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_cursors").toString))
    // serving guardrails: timeout enforcement + cancellation + scan /
    // response-size budgets (the reference broker's runaway-query
    // protection; see [[QueryGuard]])
    val guard = new QueryGuard(spark, brokerTimeoutMs)

    // both SQL entry points share one handler: the reference's /query
    // (MSE) surface equals /query/sql plus the queryOptions body field
    // (RequestUtils.java:103-104 — "k1=v1;k2=v2" become query options,
    // the facade's SET statements)
    def sqlHandler(ex: HttpExchange): Unit = {
      try {
        val params = parseQueryParams(ex.getRequestURI.getRawQuery)
        val (sql, opts) = ex.getRequestMethod.toUpperCase match {
          case "GET" => (params.get("sql"), None)
          case _ =>
            val body = readBody(ex)
            (extractSqlField(body), extractStringField(body, "queryOptions"))
        }
        sql match {
          case None => respond(ex, 400,
            """{"error": "Payload is missing the query string field 'sql'"}""")
          case Some(q0) =>
            // queryOptions pairs are VALIDATED before splicing into
            // SET statements: a value carrying ';' or '=' would
            // silently truncate or mangle the option list (the facade
            // splits on those), so such pairs are rejected with the
            // 400 the reference's bad-option path produces
            val pairs = opts.filter(_.nonEmpty).map {
              _.split(";").toSeq.map(_.trim).filter(_.nonEmpty)
                .map { kv => kv.split("=", 2) match {
                  case Array(k, v)
                      if k.trim.matches("[A-Za-z_][A-Za-z0-9_.]*") &&
                        !v.contains("=") && !v.contains(";") =>
                    Right((k.trim, v.trim))
                  case _ => Left(kv)
                }}
            }.getOrElse(Nil)
            pairs.collectFirst { case Left(bad) => bad } match {
              case Some(bad) =>
                respond(ex, 400, s"""{"error": ${jsonStr(
                  new IllegalArgumentException(
                    s"invalid queryOptions pair: $bad"))}}""")
                return
              case None => ()
            }
            val q = if (pairs.isEmpty) q0
              else pairs.collect { case Right((k, v)) =>
                s"SET $k = $v;" }.mkString(" ") + " " + q0
            val getCursor = params.get("getCursor")
              .exists(_.equalsIgnoreCase("true"))
            if (getCursor) {
              val n = params.get("numRows").flatMap(_.toIntOption)
                .filter(_ > 0).getOrElse(DefaultCursorFetchRows)
              respond(ex, 200, BrokerResponse.executeWithCursor(spark,
                store, q, ids.incrementAndGet(), n,
                System.currentTimeMillis(), guard = Some(guard)))
            } else respond(ex, 200,
              BrokerResponse.execute(spark, q,
                requestId = ids.incrementAndGet(), guard = Some(guard)))
        }
      } catch { case scala.util.control.NonFatal(e) =>
        respond(ex, 500, s"""{"error": ${jsonStr(e)}}""")
      }
    }
    server.createContext("/query/sql", sqlHandler(_))
    // /query is a PREFIX context on the JDK server: serve the exact
    // /query route (the MSE endpoint), the DELETE /query/{id} cancel
    // surface, let the more specific /query/sql context take its own
    // path, and 404 any other subpath instead of treating it as SQL
    server.createContext("/query", (ex: HttpExchange) => {
      val p = ex.getRequestURI.getPath.stripSuffix("/")
      val sub = p.stripPrefix("/query").stripPrefix("/")
      if (p == "/query") sqlHandler(ex)
      else if (ex.getRequestMethod.equalsIgnoreCase("DELETE") &&
          sub.nonEmpty && !sub.contains("/")) {
        // DELETE /query/{id}?client=&verbose= — cancel a running query
        // (`PinotClientRequest.cancelQuery`: 200 on success, 400 on a
        // malformed internal id, 404 when nothing is running under the
        // id; `client=true` resolves the client-supplied
        // `clientQueryId` option instead of the broker requestId)
        val params = parseQueryParams(ex.getRequestURI.getRawQuery)
        val isClient = params.get("client").exists(_.equalsIgnoreCase("true"))
        if (!isClient && sub.toLongOption.isEmpty)
          respond(ex, 400, s"Invalid internal query id: $sub")
        else if (guard.cancel(sub, isClient))
          respond(ex, 200,
            (if (isClient) "Cancelled client query: " else "Cancelled query: ")
              + sub)
        else respond(ex, 404, s"Query: $sub not found on the broker")
      } else respond(ex, 404, s"""{"error": "no such route: $p"}""")
    })

    // GET /queries — requestId -> query text for every in-flight query
    // (`PinotClientRequest.getRunningQueries`; Jackson serializes the
    // Map<Long, String> with string keys)
    server.createContext("/queries", (ex: HttpExchange) => {
      val p = ex.getRequestURI.getPath.stripSuffix("/")
      if (p == "/queries")
        respond(ex, 200, guard.runningQueries.toSeq.sortBy(_._1)
          .map { case (id, q) =>
            "\"" + id + "\":\"" + q.replace("\\", "\\\\")
              .replace("\"", "\\\"").replace("\n", " ").take(500) + "\""
          }.mkString("{", ",", "}"))
      else respond(ex, 404, s"""{"error": "no such route: $p"}""")
    })

    server.createContext("/responseStore", (ex: HttpExchange) => {
      try {
        val rest = ex.getRequestURI.getPath
          .stripPrefix("/responseStore").stripPrefix("/")
        val params = parseQueryParams(ex.getRequestURI.getRawQuery)
        (ex.getRequestMethod.toUpperCase, rest.split("/").toList) match {
          case ("GET", Nil) | ("GET", List("")) =>
            respond(ex, 200, store.getAllStoredResponses
              .map(BrokerResponse.cursorMetadata)
              .mkString("[", ",", "]"))
          case ("GET", List(id)) =>
            store.readMeta(id) match {
              case Some(m) =>
                respond(ex, 200, BrokerResponse.cursorMetadata(m))
              case None => respond(ex, 404,
                s"Query results for $id not found.")
            }
          case ("GET", List(id, "results")) =>
            if (store.readMeta(id).isEmpty)
              respond(ex, 404, s"Query results for $id not found.")
            else {
              val offset = params.get("offset").flatMap(_.toLongOption)
                .getOrElse(0L)
              val n = params.get("numRows").flatMap(_.toIntOption)
                .filter(_ > 0).getOrElse(DefaultCursorFetchRows)
              respond(ex, 200, BrokerResponse.fetchPage(spark, store,
                id.toLong, offset, n))
            }
          case ("DELETE", Nil) | ("DELETE", List("")) =>
            val cutoff = params.get("expiredBefore")
              .flatMap(_.toLongOption)
              .getOrElse(System.currentTimeMillis())
            val count = store.deleteExpiredResponses(cutoff)
            respond(ex, 200, s"Deleted $count expired response(s).")
          case ("DELETE", List(id)) =>
            if (store.deleteResponse(id))
              respond(ex, 200, s"Query Results for $id deleted.")
            else respond(ex, 404, s"Query results for $id not found.")
          case _ => respond(ex, 404, "not found")
        }
      } catch { case scala.util.control.NonFatal(e) =>
        respond(ex, 500, s"""{"error": ${jsonStr(e)}}""")
      }
    })

    server.createContext("/timeseries/api/v1/query_range",
      (ex: HttpExchange) => {
        try {
          respond(ex, 200, TimeSeriesEndpoint.queryRange(resolve,
            parseQueryParams(ex.getRequestURI.getRawQuery)))
        } catch { case scala.util.control.NonFatal(e) =>
          respond(ex, 500, s"""{"error": ${jsonStr(e)}}""")
        }
      })

    // small worker pool: transport threads only — Spark parallelizes
    // the queries themselves
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    Gateway(server, server.getAddress.getPort, ids, store, guard)
  }

  private def jsonStr(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
    "\"" + m.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
  }
}
