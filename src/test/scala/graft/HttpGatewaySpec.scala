package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

import graft.sql.{BrokerResponse, HttpGateway, TimeSeriesEndpoint}

/** The HTTP front door carries the assemblers' JSON verbatim over a
  * real socket: responses are byte-compared against direct
  * [[BrokerResponse]]/[[TimeSeriesEndpoint]] calls (only the
  * run-variant fields — timeUsedMs, requestId — are normalized). */
class HttpGatewaySpec extends SparkSpec {

  private lazy val metrics: DataFrame = {
    import spark.implicits._
    Seq(("a", 0L, 10.0), ("a", 10L, 30.0), ("b", 0L, 5.0))
      .toDF("host", "t", "v")
  }

  private def request(url: String, method: String = "GET",
      body: Option[String] = None): (Int, String) = {
    val conn = URI.create(url).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = try new String(is.readAllBytes(), UTF_8) finally is.close()
    conn.disconnect()
    (code, text)
  }

  private def normalize(json: String): String = json
    .replaceAll("\"timeUsedMs\":\\d+", "\"timeUsedMs\":0")
    .replaceAll("\"requestId\":\"\\d+\"", "\"requestId\":\"0\"")

  test("POST and GET /query/sql return the BrokerResponse JSON verbatim") {
    graft.sql.QueryFacade.init(spark, sf)
    val gw = HttpGateway.start(spark, _ => metrics)
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val sql = "SELECT n_regionkey, count(*) AS n FROM nation " +
        "GROUP BY n_regionkey ORDER BY n_regionkey"
      val direct = normalize(BrokerResponse.execute(spark, sql))
      val (pc, posted) = request(s"$base/query/sql", "POST",
        Some(s"""{"sql": ${escape(sql)}}"""))
      assert(pc == 200)
      assert(normalize(posted) == direct,
        s"POST body diverged:\n${normalize(posted)}\n$direct")
      // GET form: sql as a query parameter
      // (PinotClientRequest.processSqlQueryGet)
      val enc = java.net.URLEncoder.encode(sql, UTF_8)
      val (gc, got) = request(s"$base/query/sql?sql=$enc")
      assert(gc == 200 && normalize(got) == direct)
      // request ids increment per request
      assert(normalize(posted) != posted, "expected a requestId")
      // a query ERROR still answers HTTP 200 with the exceptions
      // payload ("SELECT FROM nowhere" parses as an unresolved column
      // reference -> UNKNOWN_COLUMN = 710 per the QueryErrorCode
      // classification; DivergenceContractSpec pins the class table)
      val (ec, err) = request(s"$base/query/sql", "POST",
        Some("""{"sql": "SELECT FROM nowhere"}"""))
      assert(ec == 200 && err.contains("\"errorCode\":710"))
      // missing 'sql' field → 400 with the reference's message
      val (mc, missing) = request(s"$base/query/sql", "POST",
        Some("""{"query": "SELECT 1"}"""))
      assert(mc == 400 &&
        missing.contains("missing the query string field 'sql'"))
    } finally gw.stop()
  }

  test("gateway transport adds under 20 ms per request (no delayed-ACK stall)") {
    // round trip minus the broker's own timeUsedMs is the transport's
    // share; a response sent as two segments without TCP_NODELAY waits
    // ~40 ms for the client's delayed ACK
    val gw = HttpGateway.start(spark, _ => metrics)
    try {
      val url = s"http://127.0.0.1:${gw.port}/query/sql"
      val overheads = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        val (code, body) = request(url, "POST", Some("""{"sql": "SELECT 1"}"""))
        val rtt = (System.nanoTime() - t0) / 1e6
        assert(code == 200 && !body.contains("errorCode"), body)
        val used = "\"timeUsedMs\":(\\d+)".r
          .findFirstMatchIn(body).map(_.group(1).toDouble)
          .getOrElse(fail(s"no timeUsedMs in $body"))
        rtt - used
      }.sorted
      val median = overheads(overheads.length / 2)
      assert(median < 20.0, s"median transport overhead $median ms: $overheads")
    } finally gw.stop()
  }

  test("GET /timeseries/api/v1/query_range carries the endpoint JSON") {
    val gw = HttpGateway.start(spark, _ => metrics)
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val q = """fetch{table="m", ts_column="t", ts_unit="SECONDS", value="v"} | sum{host}"""
      val params = Map("query" -> q, "start" -> "0", "end" -> "19",
        "step" -> "10")
      val direct = TimeSeriesEndpoint.queryRange(_ => metrics, params)
      val qs = params.map { case (k, v) =>
        s"$k=${java.net.URLEncoder.encode(v, UTF_8)}" }.mkString("&")
      val (c, body) = request(s"$base/timeseries/api/v1/query_range?$qs")
      assert(c == 200)
      assert(body == direct, s"query_range diverged:\n$body\n$direct")
      assert(body.contains("\"resultType\":\"matrix\""))
      // endpoint-level errors ride the payload at HTTP 200
      // (TimeSeriesRequestHandler maps them into the response)
      val (e, errBody) = request(
        s"$base/timeseries/api/v1/query_range?start=0&end=19&step=10")
      assert(e == 200 && errBody.contains("Query cannot be null"))
    } finally gw.stop()
  }

  test("sql field extraction handles escapes and rejects malformed bodies") {
    import HttpGateway.extractSqlField
    assert(extractSqlField("""{"sql": "SELECT 'a''b'"}""")
      .contains("SELECT 'a''b'"))
    assert(extractSqlField("""{"sql":"a\"b\\c\nd\u0041"}""")
      .contains("a\"b\\c\ndA"))
    assert(extractSqlField("""{"other": 1, "sql" : "x"}""").contains("x"))
    assert(extractSqlField("""{"nosql": "x"}""").isEmpty)
    assert(extractSqlField("""{"sql": 5}""").isEmpty)
    assert(extractSqlField("""{"sql": "unterminated""").isEmpty)
  }

  test("cursor pagination over the live socket matches the ResponseStore pages") {
    graft.sql.QueryFacade.init(spark, sf)
    val gw = HttpGateway.start(spark, _ => metrics)
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      // the default LIMIT 10 applies to cursor queries exactly as in
      // the reference (its own default limit) — carry an explicit one
      val sql = "SELECT n_nationkey, n_name FROM nation " +
        "ORDER BY n_nationkey LIMIT 25"
      // POST ...?getCursor=true&numRows=N returns the FIRST page plus
      // the CursorResponseNative pagination fields
      val (c0, first) = request(
        s"$base/query/sql?getCursor=true&numRows=10", "POST",
        Some(s"""{"sql": ${escape(sql)}}"""))
      assert(c0 == 200)
      assert(first.contains(""""offset":0""") &&
        first.contains(""""numRows":10""") &&
        first.contains(""""numRowsResultSet":25""") &&
        first.contains("submissionTimeMs") &&
        first.contains("expirationTimeMs"), first.take(400))
      val id = """"requestId":"(\d+)"""".r
        .findFirstMatchIn(first).get.group(1)
      // page 2 over the socket == the store's page, byte-compared
      val (c1, page1) = request(
        s"$base/responseStore/$id/results?offset=10&numRows=10")
      assert(c1 == 200)
      val direct = normalize(BrokerResponse.fetchPage(spark, gw.store,
        id.toLong, 10L, 10))
      assert(normalize(page1) == direct,
        s"page diverged:\n${normalize(page1)}\n$direct")
      // the pages tile the result: 10 + 10 + 5
      val (c2, page2) = request(
        s"$base/responseStore/$id/results?offset=20&numRows=10")
      assert(c2 == 200)
      def rowCount(js: String): Int =
        """\[(-?\d+),""".r.findAllIn(js).length
      assert(rowCount(page1) == 10 && rowCount(page2) == 5)
      // metadata surfaces without the resultTable
      val (mc, meta) = request(s"$base/responseStore/$id")
      assert(mc == 200 && meta.contains(""""resultTable":null""") &&
        meta.contains(""""numRowsResultSet":25"""))
      // the list surface carries it too
      val (lc, list) = request(s"$base/responseStore/")
      assert(lc == 200 && list.contains(s""""requestId":"$id""""))
      // DELETE drops it; a second fetch 404s with the reference text
      val (dc, dmsg) = request(s"$base/responseStore/$id", "DELETE")
      assert(dc == 200 && dmsg == s"Query Results for $id deleted.")
      val (nc, nmsg) = request(
        s"$base/responseStore/$id/results?offset=0&numRows=5")
      assert(nc == 404 && nmsg == s"Query results for $id not found.")
      val (dc2, _) = request(s"$base/responseStore/$id", "DELETE")
      assert(dc2 == 404)
    } finally gw.stop()
  }

  test("POST /query (MSE route) answers like /query/sql and applies queryOptions") {
    graft.sql.QueryFacade.init(spark, sf)
    val gw = HttpGateway.start(spark, _ => metrics)
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val sql = "SELECT n_regionkey, count(*) AS n FROM nation " +
        "GROUP BY n_regionkey ORDER BY n_regionkey"
      val direct = normalize(BrokerResponse.execute(spark, sql))
      val (pc, posted) = request(s"$base/query", "POST",
        Some(s"""{"sql": ${escape(sql)}}"""))
      assert(pc == 200 && normalize(posted) == direct)
      val enc = java.net.URLEncoder.encode(sql, UTF_8)
      val (gc, got) = request(s"$base/query?sql=$enc")
      assert(gc == 200 && normalize(got) == direct)
      // queryOptions "k=v;k2=v2" becomes SET options: explicitLimit
      // keeps the un-LIMITed SELECT from being capped to 10
      val bare = "SELECT n_nationkey FROM nation ORDER BY n_nationkey"
      val (oc, opted) = request(s"$base/query", "POST",
        Some(s"""{"sql": ${escape(bare)}, "queryOptions": "explicitLimit=true"}"""))
      assert(oc == 200 && opted.contains(""""numRowsResultSet":25"""),
        opted.take(300))
      val (dc, defaulted) = request(s"$base/query", "POST",
        Some(s"""{"sql": ${escape(bare)}}"""))
      assert(dc == 200 && defaulted.contains(""""numRowsResultSet":10"""),
        "default LIMIT 10 must still apply without the option")
      // missing sql → the same 400 contract
      val (mc, missing) = request(s"$base/query", "POST",
        Some("""{"queryOptions": "a=b"}"""))
      assert(mc == 400 &&
        missing.contains("missing the query string field 'sql'"))
      // unknown /query subpaths are 404, not silently-SQL
      val (nc, _) = request(s"$base/query/bogus?sql=$enc")
      assert(nc == 404, s"unknown /query subpath must 404, got $nc")
      // a queryOptions VALUE carrying '=' or ';' would mangle the SET
      // splice — rejected with 400 instead of silently truncating
      val (bc, badmsg) = request(s"$base/query", "POST",
        Some(s"""{"sql": ${escape(bare)}, "queryOptions": "a=b=c"}"""))
      assert(bc == 400 && badmsg.contains("invalid queryOptions"),
        s"$bc $badmsg")
      val (b2, _) = request(s"$base/query", "POST",
        Some(s"""{"sql": ${escape(bare)}, "queryOptions": "9bad=1"}"""))
      assert(b2 == 400, "non-identifier option keys must be rejected")
    } finally gw.stop()
  }

  private def escape(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
