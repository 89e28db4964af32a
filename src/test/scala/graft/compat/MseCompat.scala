package graft.compat

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Compatibility harness over the reference engine's OWN multi-stage query
  * test suites (the JSON files under
  * `pinot-query-runtime/src/test/resources/queries`, loaded by
  * `QueryRunnerTestBase.java` — table schemas + inline rows +
  * queries, 546 of which carry explicit expected outputs).
  *
  * This is the strongest form of "a reference user could switch": we
  * materialize the reference's fixture tables as Spark views, run each
  * reference SQL string through `spark.sql` (with the Pinot function
  * registry + facade rewrites), and compare cell-for-cell against the
  * expected rows committed in the reference repo, using the reference's
  * exact comparison discipline (`QueryRunnerTestBase.java:380-423`:
  * fuzzy float/double with eps 1e-4, BigDecimal compareTo, exact
  * otherwise; unordered multiset unless `keepOutputRowOrder`).
  *
  * The reference fixtures are read at runtime from the read-only checkout;
  * nothing is copied into this repo.
  */
object MseCompat {

  val DefaultDir = "/root/reference/pinot-query-runtime/src/test/resources/queries"

  /** Fixed stand-in for the harness's built-in `ts` column
    * (`QueryRunnerTestBase.java:438` adds `ts` LONG = currentTimeMillis
    * to every row; tests never assert on its value). */
  val TsValue = 1640995200000L

  /** The reference harness splits each fixture table's rows into this
    * many segments, round-robin by row index (`------` breaker rows
    * flush early; `partitionColumns` switches to hash partitioning) —
    * `ResourceBasedQueriesTest.java:82,160-180`. Segment identity is
    * observable through SEGMENT_PARTITIONED_DISTINCT_COUNT, so fixture
    * DataFrames reproduce the layout as one Spark partition per
    * segment. */
  val DefaultNumPartitions = 4

  final case class MCol(name: String, typ: String, mv: Boolean)
  final case class MTable(key: String, cols: Seq[MCol], rows: Seq[JsonNode],
      rawRows: Seq[JsonNode] = Seq.empty,
      partitionColumns: Seq[String] = Seq.empty,
      partitionCount: Int = DefaultNumPartitions)
  final case class MCase(
      file: String, suite: String, idx: Int, sql: String, desc: String,
      outputs: Option[Seq[JsonNode]], keepOrder: Boolean,
      ignored: Boolean, expectsError: Boolean)
  final case class MSuite(
      file: String, name: String, ignored: Boolean,
      tables: Seq[MTable], cases: Seq[MCase])

  sealed trait Outcome { def tag: String }
  case object Pass extends Outcome { val tag = "pass" }          // gold outputs matched
  case object Ran extends Outcome { val tag = "ran" }            // no gold outputs; executed
  final case class Mismatch(detail: String) extends Outcome { val tag = "mismatch" }
  final case class Failed(error: String) extends Outcome { val tag = "error" }
  case object Skipped extends Outcome { val tag = "skipped" }

  final case class MResult(c: MCase, outcome: Outcome) {
    def id: String = s"${c.file}:${c.suite}:${c.idx}"
  }

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.configure(JsonParser.Feature.ALLOW_COMMENTS, true)
    m
  }

  // ---------------------------------------------------------------- loading

  def loadSuites(dir: String = DefaultDir): Seq[MSuite] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    Files.list(d).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".json")).sortBy(_.getFileName.toString)
      .flatMap(loadFile)
  }

  private def loadFile(p: Path): Seq[MSuite] = {
    val root =
      try mapper.readTree(Files.readString(p))
      catch { case _: Throwable => return Seq.empty }
    val file = p.getFileName.toString.stripSuffix(".json")
    root.properties().asScala.toSeq.map { e =>
      val name = e.getKey; val s = e.getValue
      val tables = opt(s, "tables").toSeq.flatMap(_.properties().asScala.toSeq.map { te =>
        val tv = te.getValue
        val cols = opt(tv, "schema").toSeq.flatMap(_.elements().asScala).map { c =>
          val raw = c.path("type").asText()
          val arr = raw.endsWith("[]")
          val sv = !c.has("isSingleValue") || c.path("isSingleValue").asBoolean(true)
          MCol(c.path("name").asText(), raw.stripSuffix("[]"), arr || !sv)
        }
        val rawRows = opt(tv, "inputs").toSeq.flatMap(_.elements().asScala)
        val rows = rawRows.filterNot(isBreaker)
        val partCols = opt(tv, "partitionColumns").toSeq
          .flatMap(_.elements().asScala).map(_.asText())
        val partCount = tv.path("partitionCount")
          .asInt(DefaultNumPartitions)
        MTable(te.getKey, cols, rows, rawRows, partCols, partCount)
      })
      val cases = opt(s, "queries").toSeq.flatMap(_.elements().asScala).zipWithIndex.map {
        case (q, i) =>
          MCase(file, name, i,
            sql = q.path("sql").asText(),
            desc = q.path("description").asText(""),
            outputs = opt(q, "outputs").map(_.elements().asScala.toSeq),
            keepOrder = q.path("keepOutputRowOrder").asBoolean(false),
            ignored = q.path("ignored").asBoolean(false),
            expectsError = q.has("expectedException"))
      }
      MSuite(file, name, s.path("ignored").asBoolean(false), tables, cases)
    }
  }

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    if (n.has(f)) Some(n.get(f)) else None

  private def isBreaker(r: JsonNode): Boolean =
    r.size == 1 && r.path(0).asText() == "------"

  // ------------------------------------------------------------ table build

  private def sparkType(t: String): DataType = t match {
    case "INT" => IntegerType
    case "LONG" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "STRING" => StringType
    case "BOOLEAN" => BooleanType
    case "BIG_DECIMAL" => DecimalType(38, 18)
    case "TIMESTAMP" => TimestampType
    case "BYTES" => BinaryType
    case "JSON" => StringType
    case other => throw new IllegalArgumentException(s"type $other")
  }

  /** Pinot BIG_DECIMAL is arbitrary-precision; Spark caps at 38 digits.
    * Size the decimal per column from its actual fixture values so e.g.
    * 30-digit literals fit (a fixed (38,18) would overflow anything
    * above 20 integer digits). Values that exceed 38 digits even at
    * scale 0 cannot be represented and become null (documented Spark
    * limit; the affected reference cases fail honestly). */
  private def decTypeFor(values: Seq[java.math.BigDecimal]): DecimalType =
    if (values.isEmpty) DecimalType(38, 18)
    else {
      val maxInt = values.map(v => (v.precision - v.scale).max(1)).max
      val maxFrac = values.map(_.scale.max(0)).max
      if (maxInt >= 38) DecimalType(38, 0)
      else DecimalType(math.min(38, maxInt + maxFrac), math.min(maxFrac, 38 - maxInt))
    }

  private def fitDec(v: java.math.BigDecimal, dt: DecimalType): Any = {
    val scaled = v.setScale(dt.scale, java.math.RoundingMode.HALF_UP)
    if (scaled.precision > dt.precision) null else scaled
  }

  /** The reference harness pins the JVM default timezone
    * (`ResourceBasedQueriesTest.java:98`,
    * `TimeZone.setDefault(America/Los_Angeles)`), so every zoneless
    * fixture literal — and every epoch-millis gold derived from one —
    * is defined in this zone. */
  val HarnessZone: java.time.ZoneId = java.time.ZoneId.of("America/Los_Angeles")

  /** Timestamp literals appear as `yyyy-MM-dd HH:mm:ss[.f]`, ISO-8601
    * with zone (`...T...Z`), or epoch millis. Zoneless forms are
    * interpreted in [[HarnessZone]] like the reference's
    * `Timestamp.valueOf`. */
  private[compat] def parseTs(s: String): java.sql.Timestamp = {
    val iso = if (s.contains(' ')) s.replaceFirst(" ", "T") else s
    try java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(iso).atZone(HarnessZone).toInstant)
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.sql.Timestamp.from(java.time.OffsetDateTime.parse(iso).toInstant)
        catch {
          case _: java.time.format.DateTimeParseException =>
            new java.sql.Timestamp(s.toLong)
        }
    }
  }

  private def hexBytes(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray

  private def jvm(v: JsonNode, t: String, dec: DecimalType): Any = {
    if (v == null || v.isNull) return null
    t match {
      case "INT" => v.asInt()
      case "LONG" => v.asLong()
      case "FLOAT" => v.floatValue()
      case "DOUBLE" => v.doubleValue()
      case "STRING" => v.asText()
      case "BOOLEAN" => v.asBoolean()
      case "BIG_DECIMAL" => fitDec(new java.math.BigDecimal(v.asText()), dec)
      case "TIMESTAMP" =>
        if (v.isNumber) new java.sql.Timestamp(v.asLong())
        else parseTs(v.asText())
      case "BYTES" => hexBytes(v.asText())
      case "JSON" => if (v.isTextual) v.asText() else mapper.writeValueAsString(v)
    }
  }

  private def cell(v: JsonNode, c: MCol, dec: DecimalType): Any =
    if (v == null || v.isNull) null
    else if (c.mv) v.elements().asScala.map(e => jvm(e, c.typ, dec)).toSeq
    else jvm(v, c.typ, dec)

  /** Exact-representability check: a decimal column whose fixture
    * values cannot fit a Spark DecimalType LOSSLESSLY (the reference's
    * BIG_DECIMAL is arbitrary-precision, e.g. 1E+328) falls back to
    * StringType — arithmetic coerces per SQL rules and the
    * arbitrary-precision aggregates (SUMPRECISION) parse the string. */
  private def decTypeOrString(vals: Seq[java.math.BigDecimal]): Option[DecimalType] = {
    val dt = decTypeFor(vals)
    val exact = vals.forall { v =>
      try v.setScale(dt.scale, java.math.RoundingMode.UNNECESSARY).precision <= dt.precision
      catch { case _: ArithmeticException => false }
    }
    if (exact) Some(dt) else None
  }

  /** Register a suite's fixture tables as temp views; returns
    * placeholder-key -> view-name. Each fixture DataFrame reproduces
    * the reference harness's segment layout (one Spark partition per
    * segment, [[DefaultNumPartitions]]-way round-robin by raw row
    * index, `------` rows flushing early, hash partitioning when
    * `partitionColumns` is set) so segment-identity-dependent
    * aggregates see the same grouping the gold outputs were produced
    * with. */
  def register(spark: SparkSession, s: MSuite): Map[String, String] =
    s.tables.map { t =>
      val view = s"mse_${s.name}_${t.key}".replaceAll("[^A-Za-z0-9_]", "_")
      val hasTs = t.cols.exists(_.name.equalsIgnoreCase("ts"))
      val cols = if (hasTs) t.cols else t.cols :+ MCol("ts", "LONG", mv = false)
      val decTypes: Map[Int, Option[DecimalType]] = t.cols.zipWithIndex.collect {
        case (c, i) if c.typ == "BIG_DECIMAL" =>
          val vals = t.rows.flatMap { r =>
            val v = r.path(i)
            if (v == null || v.isNull) Nil
            else if (c.mv) v.elements().asScala.map(e => new java.math.BigDecimal(e.asText())).toSeq
            else Seq(new java.math.BigDecimal(v.asText()))
          }
          i -> decTypeOrString(vals)
      }.toMap
      def colType(c: MCol, i: Int): DataType =
        if (c.typ == "BIG_DECIMAL")
          decTypes.getOrElse(i, Some(DecimalType(38, 18))).getOrElse(StringType)
        else sparkType(c.typ)
      val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
        val base = colType(c, i)
        StructField(c.name, if (c.mv) ArrayType(base) else base)
      })
      def mkRow(r: JsonNode): Row = {
        val base = t.cols.zipWithIndex.map { case (c, i) =>
          decTypes.get(i) match {
            case Some(None) => // string-typed decimal column
              val v = r.path(i)
              if (v == null || v.isNull) null
              else if (c.mv) v.elements().asScala.map(_.asText()).toSeq
              else v.asText()
            case _ =>
              cell(r.path(i), c, decTypes.get(i).flatten.getOrElse(DecimalType(38, 18)))
          }
        }
        Row.fromSeq(if (hasTs) base else base :+ TsValue)
      }
      // --- reference segment layout (ResourceBasedQueriesTest) ---
      val numPartitions = t.partitionCount
      val partColIdx = t.partitionColumns
        .map(pc => t.cols.indexWhere(_.name == pc)).filter(_ >= 0)
      val buckets = Array.fill(numPartitions)(
        scala.collection.mutable.ArrayBuffer.empty[Row])
      val segments = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
      def flush(): Unit = buckets.foreach { b =>
        if (b.nonEmpty) { segments += b.toSeq; b.clear() }
      }
      val raw = if (t.rawRows.nonEmpty) t.rawRows else t.rows
      raw.zipWithIndex.foreach { case (r, i) =>
        if (isBreaker(r)) flush()
        else {
          val pid =
            if (partColIdx.isEmpty || t.partitionColumns.size != partColIdx.size)
              i % numPartitions
            else {
              // reference: sum of Java hashCodes of the partition values
              val h = partColIdx.map { ci =>
                val v = cell(r.path(ci), t.cols(ci),
                  decTypes.get(ci).flatten.getOrElse(DecimalType(38, 18)))
                if (v == null) 0 else v.hashCode()
              }.sum
              (h & Int.MaxValue) % numPartitions
            }
          buckets(pid) += mkRow(r)
        }
      }
      flush()
      val sc = spark.sparkContext
      val rdd =
        if (segments.isEmpty) sc.parallelize(Seq.empty[Row], 1)
        else sc.union(segments.map(sg => sc.parallelize(sg, 1)).toSeq)
      spark.createDataFrame(rdd, schema).createOrReplaceTempView(view)
      t.key -> view
    }.toMap

  def substitute(sql: String, views: Map[String, String]): String =
    views.foldLeft(sql) { case (q, (k, v)) => q.replace(s"{$k}", v) }

  // ------------------------------------------------------------- comparison

  /** Reference comparison epsilon (`QueryRunnerTestBase.java:86`). */
  val Eps = 1e-4

  private def fuzzy(a: Double, e: Double): Boolean = {
    if (a == e || math.abs(a - e) <= Eps) true
    else {
      val m = math.max(math.abs(a), math.abs(e))
      m != 0 && math.abs(a / m - e / m) <= Eps
    }
  }

  private def numD(e: JsonNode): Option[Double] =
    if (e.isNumber) Some(e.doubleValue())
    else if (e.isTextual) e.asText().toDoubleOption
    else None

  /** Tolerant cell equality, actual Spark value vs expected JSON literal —
    * mirrors `typeCompatibleFuzzyEquals`. */
  def cellEq(actual: Any, expected: JsonNode): Boolean = (actual, expected) match {
    case (null, e) => e == null || e.isNull
    case (_, e) if e == null || e.isNull => false
    case (b: Boolean, e) =>
      if (e.isBoolean) b == e.asBoolean()
      else if (e.isNumber) b == (e.asInt() != 0)
      else e.isTextual && b == e.asText().equalsIgnoreCase("true")
    case (i: Int, e) => e.isNumber && e.asLong() == i.toLong || numD(e).exists(fuzzy(i.toDouble, _))
    case (l: Long, e) => e.isNumber && e.asLong() == l || numD(e).exists(fuzzy(l.toDouble, _))
    case (s: Short, e) => e.isNumber && e.asLong() == s.toLong
    case (b: Byte, e) => e.isNumber && e.asLong() == b.toLong
    case (f: Float, e) => numD(e).exists(fuzzy(f.toDouble, _))
    case (d: Double, e) => numD(e).exists(fuzzy(d, _))
    case (bd: java.math.BigDecimal, e) =>
      (e.isNumber || e.isTextual) &&
        (try bd.compareTo(new java.math.BigDecimal(e.asText())) == 0
         catch { case _: NumberFormatException => false })
    case (s: String, e) => e.isTextual && s == e.asText() ||
      (e.isNumber && s == e.asText())
    case (t: java.sql.Timestamp, e) =>
      if (e.isNumber) t.getTime == e.asLong()
      else if (e.isTextual)
        (try t == parseTs(e.asText())
         catch { case _: RuntimeException => false })
      else false
    case (d: java.sql.Date, e) => e.isTextual && d.toString == e.asText()
    case (b: Array[Byte], e) =>
      e.isTextual && b.map("%02x".format(_)).mkString.equalsIgnoreCase(e.asText())
    case (a: scala.collection.Seq[_], e) =>
      e.isArray && a.size == e.size() &&
        a.zipWithIndex.forall { case (x, i) => cellEq(x, e.get(i)) }
    case _ => false
  }

  def rowEq(actual: Row, expected: JsonNode): Boolean =
    expected.isArray && actual.length == expected.size() &&
      (0 until actual.length).forall(i => cellEq(actual.get(i), expected.get(i)))

  /** Multiset comparison via greedy matching (row counts are small in
    * these fixtures); ordered pairwise when keepOrder. */
  def compare(actual: Seq[Row], expected: Seq[JsonNode], keepOrder: Boolean): Option[String] = {
    if (actual.size != expected.size)
      return Some(s"row count ${actual.size} != expected ${expected.size}")
    if (keepOrder) {
      actual.zip(expected).zipWithIndex.collectFirst {
        case ((a, e), i) if !rowEq(a, e) =>
          s"row $i: got ${fmtRow(a)} expected $e"
      }
    } else {
      val remaining = scala.collection.mutable.ArrayBuffer(actual: _*)
      expected.collectFirst {
        case e if {
          val i = remaining.indexWhere(rowEq(_, e))
          if (i >= 0) { remaining.remove(i); false } else true
        } => s"no actual row matches expected $e; unmatched actuals e.g. ${remaining.take(2).map(fmtRow).mkString("; ")}"
      }
    }
  }

  private def fmtRow(r: Row): String =
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => "null"
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case v => v.toString
      }
    }.mkString("[", ", ", "]")

  // ---------------------------------------------------------------- running

  /** Run one case against pre-registered views. Applies the facade
    * rewrites a user query goes through (`QueryFacade.rewrite`):
    * leading `SET k=v;` options parsed off, then every text pass. */
  def runCase(spark: SparkSession, c: MCase, views: Map[String, String]): MResult = {
    import graft.sql.QueryFacade
    if (c.ignored) return MResult(c, Skipped)
    val sql = QueryFacade.rewrite(spark, substitute(c.sql, views))
    val attempt =
      try Right(spark.sql(sql).collect().toSeq)
      catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)) }
    val out = (attempt, c.outputs) match {
      case (Left(err), _) if c.expectsError => Pass
      case (Left(err), _) => Failed(err)
      // reference rejects the query but this engine supports it (e.g.
      // ASOF shapes Pinot restricts): an extension, not a wrong result
      case (Right(_), _) if c.expectsError => Ran
      case (Right(rows), Some(exp)) =>
        compare(rows, exp, c.keepOrder).map(Mismatch(_)).getOrElse(Pass)
      case (Right(_), None) => Ran
    }
    MResult(c, out)
  }

  def runSuite(spark: SparkSession, s: MSuite): Seq[MResult] = {
    if (s.ignored) return s.cases.map(MResult(_, Skipped))
    val views =
      try register(spark, s)
      catch { case e: Throwable =>
        val msg = "fixture: " + Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        return s.cases.map(MResult(_, Failed(msg)))
      }
    s.cases.map(runCase(spark, _, views))
  }

  /** Session settings matching the reference dialect: double-quoted
    * identifiers (Pinot quotes identifiers with `"`), and verbatim
    * string literals (Calcite has no backslash escapes, so `'\w'` is a
    * two-char regex, not an escape). */
  val DialectConf: Seq[(String, String)] = Seq(
    "spark.sql.ansi.doubleQuotedIdentifiers" -> "true",
    "spark.sql.parser.escapedStringLiterals" -> "true",
    // the reference harness runs with JVM default TZ America/Los_Angeles
    // (ResourceBasedQueriesTest.java:98); session-TZ-sensitive casts and
    // the gold epoch values assume it
    "spark.sql.session.timeZone" -> "America/Los_Angeles")

  def runAll(spark: SparkSession, dir: String = DefaultDir): Seq[MResult] = {
    graft.functions.PinotFunctions.registerAll(spark)
    val prev = DialectConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    DialectConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try loadSuites(dir).flatMap(runSuite(spark, _))
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def summary(rs: Seq[MResult]): Map[String, Int] =
    rs.groupBy(_.outcome.tag).view.mapValues(_.size).toMap.withDefaultValue(0)

  /** Runs the reference's MSE suites and writes the full outcome report
    * to target/mse_report.txt. Optional arg 1 = filter substring on
    * "file:suite". */
  def main(args: Array[String]): Unit = {
    val filter = args.headOption.getOrElse("")
    val spark = graft.SparkEntry.localSession(8, "mse-compat")
    DialectConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val results = loadSuites()
      .filter(s => filter.isEmpty || s"${s.file}:${s.name}".contains(filter))
      .flatMap(runSuite(spark, _))

    val sb = new StringBuilder
    results.groupBy(_.c.file).toSeq.sortBy(_._1).foreach { case (f, rs) =>
      val s = summary(rs)
      sb.append(f"$f%-34s pass=${s("pass")}%4d ran=${s("ran")}%4d " +
        f"mism=${s("mismatch")}%4d err=${s("error")}%4d skip=${s("skipped")}%4d\n")
    }
    val tot = summary(results)
    sb.append(s"\nTOTAL: $tot of ${results.size}\n\n== FAILURES ==\n")
    def oneLine(s: String, n: Int) = s.replaceAll("\\s+", " ").take(n)
    results.foreach { r =>
      r.outcome match {
        case Mismatch(d) =>
          sb.append(s"MISMATCH ${r.id}\n  sql: ${oneLine(r.c.sql, 220)}\n  $d\n")
        case Failed(e) =>
          sb.append(s"ERROR ${r.id}\n  sql: ${oneLine(r.c.sql, 220)}\n  ${oneLine(e, 260)}\n")
        case _ =>
      }
    }
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/mse_report.txt"), sb.toString)
    println(sb.toString.linesIterator.take(60).mkString("\n"))
    println(s"full report: target/mse_report.txt  TOTAL: $tot of ${results.size}")
    spark.stop()
  }
}
