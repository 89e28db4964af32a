package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.sql.{BrokerResponse, HttpGateway, QueryFacade}
import graft.streaming.{KafkaSocketSourceProvider, KafkaSource, KafkaWireBroker, UpsertStream}

/** What a workload hands back: end-to-end metrics, per-layer metrics
  * (traced runs only), operation counts and records `run.py` checks. */
final case class Outcome(
    endToEnd: Map[String, Metric],
    layers: Map[String, Metric],
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    records: Map[String, Any])

trait Workload {
  /** Bring the workload's front end up on a fresh session and warm it.
    * Timed as part of `setup_s`. */
  def setup(spark: SparkSession): Unit
  def teardown(): Unit
  def measure(spark: SparkSession, tracing: Option[Tracing]): Outcome
}

object Workload {
  def apply(plan: Plan): Workload = plan.str("workload") match {
    case "battery" => new Battery(plan)
    case "upsert" => new Upsert(plan)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sleepUntil(nanos: Long): Unit = {
    var left = nanos - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = nanos - System.nanoTime()
    }
  }

  /** Broker-response exceptions, empty when the query succeeded. */
  def exceptions(body: String): Seq[String] =
    try {
      val ex = Json.parse(body).get("exceptions")
      if (ex == null) Seq("no exceptions field") else ex.elements().asScala.map(_.toString).toSeq
    } catch { case e: Throwable => Seq(s"unparsable response: ${e.getMessage}") }
}

/** Client side of an in-process `HttpGateway`: `POST /query/sql`. */
final class GatewayClient(spark: SparkSession) {
  val gw: HttpGateway.Gateway = HttpGateway.start(spark, name => spark.table(name))
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** (HTTP status, body); a transport failure is status -1. */
  def post(sql: String): (Int, String) =
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${gw.port}/query/sql"))
        .header("Content-Type", "application/json")
        .timeout(java.time.Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofString(Json.render(Map("sql" -> sql)), UTF_8))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
      (resp.statusCode(), resp.body())
    } catch { case e: Exception => (-1, s"transport error: ${e.getMessage}") }

  def stop(): Unit = gw.stop()
}

/** Registry queries from `SparkEntry.queries`, one client in a closed
  * loop: after one cold pass in set-up, seed-shuffled passes until the
  * time is up (every query at least twice). */
final class Battery(plan: Plan) extends Workload {
  private val dir = plan.str("data_dir")
  private val names = plan.strings("queries")
  private lazy val registry = graft.SparkEntry.queries

  // wall time of each query's first (cold) run, in the set-up pass
  private val coldMs = mutable.LinkedHashMap[String, Double]()

  /** One cold pass: index and shred builds, codegen. */
  def setup(spark: SparkSession): Unit = {
    graft.Tables(spark, dir).registerAll()
    names.foreach { n =>
      registry.get(n).foreach { fn =>
        val t0 = System.nanoTime()
        try fn(spark, dir).collect() catch { case _: Throwable => () }
        coldMs(n) = (System.nanoTime() - t0) / 1e6
      }
    }
  }

  def teardown(): Unit = ()

  def measure(spark: SparkSession, tracing: Option[Tracing]): Outcome = {
    val missing = names.filterNot(registry.contains)
    val present = names.filter(registry.contains)
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val hashes = mutable.Map[String, mutable.LinkedHashSet[String]]()
    val errors = mutable.Map[String, String]()
    val groupSpan = mutable.Map[String, (Long, String)]()
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(plan.int("seed"))
    val budget = (plan.dbl("seconds") * 1e9).toLong
    // seed-shuffled passes over the list; a query starts while the time
    // is not up, and every query runs at least twice
    val order = Iterator.continually(rnd.shuffle(present)).flatten
    val passTimes = mutable.ArrayBuffer[Double]()
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    var rowsTotal = 0L
    var executions = 0
    val t0 = System.nanoTime()
    var p0 = t0
    while (present.nonEmpty &&
        (executions < 2 * present.size || System.nanoTime() - t0 < budget)) {
      val n = order.next()
      val pass = executions / present.size
      val group = s"battery-$pass-$n"
      sc.setJobGroup(group, group)
      val s0 = Trace.nowUs
      val q0 = System.nanoTime()
      try {
        val df = registry(n)(spark, dir)
        val s1 = Trace.nowUs
        val rows = df.collect()
        val q1 = System.nanoTime()
        val s2 = Trace.nowUs
        times.getOrElseUpdate(n, mutable.ArrayBuffer()) += (q1 - q0) / 1e6
        hashes.getOrElseUpdate(n, mutable.LinkedHashSet()) += ResultHash.of(df.schema.fieldNames.toSeq, rows.toSeq)
        rowsTotal += rows.length
        if (tracing.isDefined) {
          val root = Trace.add("battery.query", 0L, s0, s2, group)
          Trace.add("battery.build", root, s0, s1, group)
          groupSpan(group) = (root, group)
        }
      } catch {
        case e: Throwable => errors(n) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
      runs(n) += 1
      executions += 1
      sc.clearJobGroup()
      if (executions % present.size == 0) {
        val now = System.nanoTime()
        passTimes += (now - p0) / 1e9
        p0 = now
      }
    }
    val passes = math.max(1, (executions + present.size - 1) / math.max(1, present.size))
    val wall = (System.nanoTime() - t0) / 1e9
    // latency over every timed run, as the client saw it (as on
    // upsert); across ten runs these spread less than each query's
    // fastest run, which one lucky run of a bimodal query (gapfill) sets
    val lat = times.values.flatten.toSeq
    val best = times.map { case (n, ts) => n -> ts.min }.toMap
    val per = best.values.toSeq
    val unstable = hashes.collect { case (n, hs) if hs.size > 1 => n }.toSeq
    val failedRuns = (errors.keys ++ unstable).toSeq.distinct.map(runs).sum
    val e2e = Map(
      "p50_ms" -> Metric(Stats.median(lat), "ms", lat.size),
      "p95_ms" -> Metric(Stats.quantile(lat, 0.95), "ms", lat.size),
      "geomean_ms" -> Metric(Stats.geomean(lat), "ms", lat.size),
      "throughput_per_s" -> Metric(executions / wall, "1/s", executions))
    val layers = tracing.map { tr =>
      tr.drain()
      tr.linkSpans(g => groupSpan.get(g))
      val fam = best.groupBy { case (n, _) => Battery.family(n) }
        .map { case (f, m) => s"battery.family.${f}_s" -> Metric(m.values.sum / 1000.0, "s", m.size) }
      tr.layerMetrics(executions, rowsTotal.toDouble, _.startsWith("battery-")) ++ fam
    }.getOrElse(Map.empty)
    // a listed name missing from the registry fails once per pass
    Outcome(e2e, layers, executions.toLong + missing.size * passes, failedRuns.toLong + missing.size * passes,
      missing.map(n => s"$n: not in SparkEntry.queries") ++
        errors.map { case (n, m) => s"$n: $m" } ++ unstable.map(n => s"$n: result differs between runs"),
      Map("hashes" -> hashes.map { case (n, hs) => n -> hs.head }.toMap,
        "query_ms" -> best, "query_samples_ms" -> times.map { case (n, ts) => n -> ts.toSeq }.toMap,
        "cold_query_ms" -> coldMs.toMap, "pass_s" -> passTimes.toSeq, "units" -> executions,
        "battery_s" -> per.sum / 1000.0,
        "registry_size" -> registry.size, "missing" -> missing))
  }
}

object Battery {
  /** Query family: the second underscore-separated word of `q_<family>_…`
    * (TPC-H-style `q1_…` names are "tpch"). */
  def family(name: String): String = name.split("_").toList match {
    case "q" :: f :: _ => f
    case _ => "tpch"
  }
}

/** Serving while ingesting. Keyed upserts go through the socket Kafka
  * broker into a streaming upsert view while readers post queries to
  * an in-process `HttpGateway`: reads of the view alternate with short
  * Pinot-shaped queries over the sf0.1 tables. Then a backlog drain. */
final class Upsert(plan: Plan) extends Workload {
  private val dir = plan.str("data_dir")
  private val topic = "upserts"
  private val view = "upsert_view"
  private val keys = plan.int("keys")
  private val partitions = 2
  private val schema = StructType(Seq(StructField("k", LongType), StructField("seq", LongType),
    StructField("v", LongType)))
  private var broker: KafkaWireBroker = _
  private var query: StreamingQuery = _
  private var progress: Progress = _
  private var gateway: GatewayClient = _
  private var spark: SparkSession = _
  private val rnd = new java.util.Random(plan.int("seed").toLong)
  // every record sent, for the final latest-per-key check
  private val latest = mutable.Map[Long, (Long, Long)]()
  private var seq = 0L
  // append time per (partition, offset) of the timed phase
  private val appendedAt = mutable.Map[(Int, Long), Long]()
  private var sentBytes = 0L
  // (template, sql) of the serving queries, drawn from the seed
  private val pool = plan.node("reads").elements().asScala
    .map(r => (r.get(0).asText(), r.get(1).asText())).toIndexedSeq

  /** Zipf-skewed key: a few hot keys take most of the writes. */
  private val zipfCdf: Array[Double] = {
    val w = (1 to keys).map(i => 1.0 / math.pow(i, plan.dbl("zipf")))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def nextKey(): Long = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    (if (i >= 0) i else -i - 1).toLong.min(keys - 1)
  }

  private def append(n: Int, timed: Boolean): Unit = {
    val now = System.currentTimeMillis()
    (0 until n).foreach { _ =>
      val k = nextKey()
      seq += 1
      val v = rnd.nextInt(1000000).toLong
      val bytes = s"""{"k":$k,"seq":$seq,"v":$v}""".getBytes(UTF_8)
      val key = k.toString.getBytes(UTF_8)
      val p = (k % partitions).toInt
      val off = broker.append(topic, p, key, bytes, now)
      latest(k) = (seq, v)
      sentBytes += bytes.length + key.length
      if (timed) appendedAt((p, off)) = now
    }
  }

  private def viewSql(lo: Long): String =
    s"SELECT COUNT(*) AS n, COUNT(DISTINCT k) AS dk, SUM(v) AS sv FROM $view " +
      s"WHERE k BETWEEN $lo AND ${lo + keys / 4} LIMIT 1"

  private def mustAnswer(sql: String): Unit = {
    val (code, body) = gateway.post(sql)
    val ex = Workload.exceptions(body)
    if (code != 200 || ex.nonEmpty)
      throw new IllegalStateException(s"warm-up query failed ($code): $sql -> ${ex.mkString("; ")}")
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    graft.Tables(spark, dir).registerAll()
    broker = new KafkaWireBroker(numPartitions = partitions).start()
    progress = new Progress
    spark.streams.addListener(progress)
    val stream = KafkaSource.decodeJson(
      spark.readStream.format(classOf[KafkaSocketSourceProvider].getName)
        .option("brokers", broker.bootstrap).option("topic", topic).load(), schema)
    query = UpsertStream.start(spark, stream, Seq("k"), "seq", Nil, view)
    gateway = new GatewayClient(spark)
    append(plan.int("warmup_records"), timed = false)
    query.processAllAvailable()
    plan.strings("warmup").foreach(mustAnswer)
    (0 until 2).foreach(i => mustAnswer(viewSql(i.toLong)))
  }

  def teardown(): Unit = {
    if (gateway != null) gateway.stop()
    if (query != null) query.stop()
    if (progress != null) spark.streams.removeListener(progress)
    if (broker != null) broker.close()
    gateway = null; query = null; broker = null
  }

  /** One answered read: the pool index of a serving query (-1 for a view
    * read), send/receive times and the response. */
  private final case class Read(idx: Int, sendUs: Long, recvUs: Long, code: Int, body: String) {
    def ms: Double = (recvUs - sendUs) / 1000.0
    def ok: Boolean = code == 200 && Workload.exceptions(body).isEmpty && (idx >= 0 || consistent(body))
  }

  def measure(s: SparkSession, tracing: Option[Tracing]): Outcome = {
    val liveSeconds = plan.dbl("live_seconds")
    val rate = plan.int("rate")
    val tickMs = 20
    progress.batches.clear()
    sentBytes = 0L
    val stop = new AtomicBoolean(false)
    val reads = new ConcurrentLinkedQueue[Read]()
    val nextServing = new AtomicInteger(0)
    val readers = (0 until plan.int("readers")).map { r =>
      val t = new Thread(() => {
        val lr = new java.util.Random(plan.int("seed") * 31L + r)
        var i = 0
        while (!stop.get()) {
          val idx = if (i % 2 == 0) -1 else nextServing.getAndIncrement() % pool.size
          val sql = if (idx < 0) viewSql(lr.nextInt(keys).toLong) else pool(idx)._2
          val t0 = Trace.nowUs
          val (code, body) = gateway.post(sql)
          reads.add(Read(idx, t0, Trace.nowUs, code, body))
          i += 1
        }
      })
      t.start(); t
    }
    // the producer runs on this thread on a fixed schedule
    val late = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var ticks = 0L
    while (System.nanoTime() - t0 < (liveSeconds * 1e9).toLong) {
      late += (System.nanoTime() - (t0 + ticks * tickMs * 1000000L)) / 1e6
      ticks += 1
      append(rate * tickMs / 1000, timed = true)
      Workload.sleepUntil(t0 + ticks * tickMs * 1000000L)
    }
    stop.set(true)
    readers.foreach(_.join())
    query.processAllAvailable()
    val liveBatches = progress.batches.asScala.toSeq

    // backlog drain: a burst lands at once; capacity is how fast the
    // stream turns it into the view
    val backlog = plan.int("backlog")
    val d0 = System.nanoTime()
    append(backlog, timed = false)
    query.processAllAvailable()
    val drainS = (System.nanoTime() - d0) / 1e9

    // the view must equal latest-per-key of every record sent
    val got = spark.table(view).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("seq"), r.getAs[Long]("v")))).toMap
    val wrongKeys = (latest.keySet ++ got.keySet).count(k => latest.get(k) != got.get(k))
    val rowsPerKey = spark.table(view).count().toDouble / math.max(1, got.size)

    val fresh = liveBatches.flatMap { b =>
      b.ranges.flatMap { case (p, (from, until)) =>
        (from until until).flatMap(o => appendedAt.get((p, o))).map(a => (b.endMs - a).toDouble)
      }
    }
    val all = reads.asScala.toSeq
    val readMs = all.map(_.ms)
    val bad = all.filterNot(_.ok)
    val e2e = Map(
      "p50_ms" -> Metric(Stats.median(readMs), "ms", readMs.size),
      "p95_ms" -> Metric(Stats.quantile(readMs, 0.95), "ms", readMs.size),
      "geomean_ms" -> Metric(Stats.geomean(readMs), "ms", readMs.size),
      "throughput_per_s" -> Metric(backlog / drainS, "1/s", backlog))
    val layers = tracing.map(tr => layerMetrics(tr, all, late.toSeq, liveBatches, rowsPerKey, got.size))
      .getOrElse(Map.empty)
    val failures = bad.take(5).map(r => s"read ${r.idx}: ${r.code} ${r.body.take(300)}") ++
      (if (wrongKeys > 0) Seq(s"view differs from latest-per-key on $wrongKeys keys") else Nil)
    Outcome(e2e, layers, all.size + latest.size.toLong, bad.size + wrongKeys.toLong, failures,
      Map("responses" -> all.filter(_.idx >= 0).map(r => Map("idx" -> r.idx, "code" -> r.code, "body" -> r.body)),
        "units" -> all.size,
        "ingest_rows_per_s" -> backlog / drainS,
        // the live rate as a share of the capacity this run measured
        "live_load_share" -> rate / (backlog / drainS),
        "freshness_p95_ms" -> Stats.quantile(fresh, 0.95),
        "freshness_samples" -> fresh.size,
        "late_p95_ms" -> Stats.quantile(late.toSeq, 0.95),
        "records_sent" -> seq, "keys_in_view" -> got.size,
        "wrong_keys" -> wrongKeys, "store_rows_per_key" -> rowsPerKey,
        "live_batches" -> liveBatches.count(_.rows > 0)))
  }

  private val GroupReq = """graft-query-(\d+)-\d+""".r

  private def layerMetrics(tr: Tracing, all: Seq[Read], late: Seq[Double], liveBatches: Seq[Batch],
      rowsPerKey: Double, nKeys: Int): Map[String, Metric] = {
    // one span per read, keyed by the broker's requestId
    val parsed = all.flatMap(r => scala.util.Try(Json.parse(r.body)).toOption.map(r -> _))
    val spans = parsed.map { case (r, j) =>
      val id = j.get("requestId").asText()
      id -> Trace.add("read", 0L, r.sendUs, r.recvUs, id)
    }.toMap
    val overhead = parsed.map { case (r, j) => r.ms - j.get("timeUsedMs").asDouble() }
    val bytes = all.map(_.body.getBytes(UTF_8).length.toDouble)
    val rowsOut = parsed.map(_._2.get("numRowsResultSet").asDouble()).sum

    // sequential replay of two queries per serving template through the
    // module entry points: the whole broker call, then the facade on its
    // own and the collect of its DataFrame. The broker's own cost is its
    // self time minus the facade's rewrite time.
    val replay = pool.groupBy(_._1).values.flatMap(_.take(2)).map(_._2).toSeq
    val sc = spark.sparkContext
    val calls = replay.zipWithIndex.map { case (sql, i) =>
      val req = s"replay-$i"
      sc.setJobGroup(s"$req-b", req)
      val b0 = Trace.nowUs
      BrokerResponse.execute(spark, sql, requestId = 1000000L + i)
      val b1 = Trace.nowUs
      sc.setJobGroup(s"$req-f", req)
      val df = QueryFacade.sql(spark, sql)
      val f1 = Trace.nowUs
      df.collect()
      val c1 = Trace.nowUs
      sc.clearJobGroup()
      val pa = df.queryExecution.tracker.phases
        .filter { case (k, _) => k == "parsing" || k == "analysis" }.values.map(_.durationMs).sum
      val root = Trace.add("broker.execute", 0L, b0, b1, req)
      Trace.add("facade.sql", 0L, b1, f1, req)
      Trace.add("replay.collect", 0L, f1, c1, req)
      (req, root, (f1 - b1) / 1000.0 - pa)
    }
    tr.drain()
    val roots = calls.map(c => s"${c._1}-b" -> c._2).toMap
    tr.linkSpans {
      case GroupReq(id) => spans.get(id).map(s => (s, id))
      case g => roots.get(g).map(s => (s, g.stripSuffix("-b")))
    }
    val kids = Trace.spans.asScala.toSeq.groupBy(_.parent)
    val byId = Trace.spans.asScala.map(sp => sp.id -> sp).toMap
    val serialize = calls.map { case (_, root, rewrite) =>
      val r = byId(root)
      (r.durUs - covered(r, kids.getOrElse(root, Nil))) / 1000.0 - rewrite
    }
    liveBatches.foreach(b => Trace.add("stream.batch", 0L, b.startMs * 1000L, b.endMs * 1000L, "stream"))
    val withRows = liveBatches.filter(_.rows > 0)
    def dur(k: String) = Metric(Stats.mean(withRows.map(_.durations.getOrElse(k, 0L).toDouble)), "ms", withRows.size)
    tr.layerMetrics(all.size, rowsOut, {
      case GroupReq(id) => spans.contains(id)
      case _ => false
    }) ++ Map(
      "gateway.overhead_ms" -> Metric(Stats.mean(overhead), "ms", overhead.size),
      "broker.serialize_ms" -> Metric(Stats.mean(serialize), "ms", serialize.size),
      "broker.response_bytes" -> Metric(Stats.mean(bytes), "bytes", bytes.size),
      "facade.rewrite_ms" -> Metric(Stats.mean(calls.map(_._3)), "ms", calls.size),
      "loadgen.late_p95_ms" -> Metric(Stats.quantile(late, 0.95), "ms", late.size),
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.get_batch_ms" -> dur("getBatch"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.rows_per_batch" -> Metric(Stats.mean(withRows.map(_.rows.toDouble)), "rows", withRows.size),
      "upsert.store_rows_per_key" -> Metric(rowsPerKey, "ratio", nKeys),
      "upsert.rewrite_bytes_per_input_byte" -> Metric(
        tr.exec.total(_ == "stream").shuffleWrite.toDouble / math.max(1L, sentBytes), "ratio", liveBatches.size))
  }

  /** A view read sees one row per key: COUNT(*) equals COUNT(DISTINCT k). */
  private def consistent(body: String): Boolean =
    try {
      val row = Json.parse(body).get("resultTable").get("rows").get(0)
      row.get(0).asLong() == row.get(1).asLong()
    } catch { case _: Throwable => false }
}

/** Micro-batch progress of the upsert stream: offsets consumed per
  * partition and when the batch finished. */
final case class Batch(startMs: Long, endMs: Long, rows: Long,
    ranges: Map[Int, (Long, Long)], durations: Map[String, Long])

final class Progress extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  private def offsets(s: String): Map[Int, Long] =
    if (s == null) Map.empty
    else Json.parse(s).fields().asScala.map(e => e.getKey.toInt -> e.getValue.asLong()).toMap

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    val from = src.map(s => offsets(s.startOffset)).getOrElse(Map.empty)
    val until = src.map(s => offsets(s.endOffset)).getOrElse(Map.empty)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(Batch(start, start + d.getOrElse("triggerExecution", 0L), p.numInputRows,
      until.map { case (part, u) => part -> ((from.getOrElse(part, 0L), u)) }, d))
  }
}
