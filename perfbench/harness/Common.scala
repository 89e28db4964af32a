package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** Plan handed over by `run.py`: workload parameters plus the inputs
  * drawn from the seed. */
final class Plan(val root: JsonNode) {
  def str(k: String): String = root.get(k).asText()
  def int(k: String): Int = root.get(k).asInt()
  def dbl(k: String): Double = root.get(k).asDouble()
  def bool(k: String): Boolean = root.get(k).asBoolean()
  def node(k: String): JsonNode = root.get(k)
  def strings(k: String): Seq[String] =
    root.get(k).elements().asScala.map(_.asText()).toSeq
}

object Json {
  val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(Files.readString(Paths.get(path)))
  def parse(s: String): JsonNode = mapper.readTree(s)

  def str(s: String): String = mapper.writeValueAsString(s)

  /** Render nested Scala values (Map, Seq, String, numbers, Boolean,
    * null) as JSON. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v) + "\n", UTF_8)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A measured value with its unit and the number of samples behind
  * it. */
final case class Metric(value: Double, unit: String, samples: Long) {
  def toMap: Map[String, Any] = Map("value" -> value, "unit" -> unit, "samples" -> samples)
}

object Engine {
  /** The session every workload runs on: fixed core count and shuffle
    * width (results of approximate operators can depend on them), and
    * every scratch path inside the benchmark's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a forced full collection, in MiB. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Wall-clock time in nanoseconds since the epoch (microsecond
    * resolution on Linux), comparable with Python's `time.time_ns()`. */
  def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuTimes(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Share of CPU time that went to other guests of the host between
    * two `cpuTimes()` samples. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }
}

/** Order-independent fingerprint of a result: columns sorted by name,
  * every row rendered cell by cell, rows sorted, SHA-256 over the
  * lines. Doubles print in Java's shortest round-trip form, so the
  * hash changes when any bit of a value does. */
object ResultHash {
  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case s: String => "'" + s + "'"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  def of(fields: Seq[String], rows: Seq[Row]): String = {
    val order = fields.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(fields(_)).mkString(",").getBytes(UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(UTF_8)) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
