package graft.compat

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import scala.collection.JavaConverters._
import scala.collection.mutable.ArrayBuffer

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** OnTime suite cross-check — the reference's airline-benchmark
  * integration corpus (`BaseClusterIntegrationTestSet.java:86,471`
  * `testQueriesFromQueryFile`: every
  * `On_Time_..._test_queries_200.sql` entry runs against Pinot and H2
  * over the OnTime avro data and the results must agree; selection
  * queries with a LIMIT are checked as SUBSETS of the full result,
  * `ClusterIntegrationTestUtils.testQuery`).
  *
  * This main reproduces that gate with DuckDB as the H2 analog over
  * the committed Min_100 avro subset: the avro is decoded with the
  * plain Avro reader (bounded: one 100-row file), registered as
  * `mytable`, each query runs through the engine facade, and results
  * dump in the `tools/mse_duck.py` layout (tables parquet + result
  * JSON + manifest). Entries with an `hsqls` H2 rewrite use it for the
  * DuckDB side — the reference's own dialect bridge. Selection-LIMIT
  * queries are marked `subset: true` and compared with the reference's
  * subset discipline.
  */
object OnTimeCompat {

  private val Resources =
    "/root/reference/pinot-integration-tests/src/test/resources"
  private val AvroTar =
    s"$Resources/On_Time_On_Time_Performance_2014_Min_100_subset_nonulls.tar.gz"
  private val QueryFile =
    s"$Resources/On_Time_On_Time_Performance_2014_100k_subset.test_queries_200.sql"
  private val QueryFile10K =
    s"$Resources/On_Time_On_Time_Performance_2014_100k_subset.test_queries_10K.sql"

  /** Untar the committed archive and return the avro entry's path. */
  def extractAvro(destDir: String): String = {
    Files.createDirectories(Paths.get(destDir))
    val in = new TarArchiveInputStream(new GZIPInputStream(
      new BufferedInputStream(new FileInputStream(AvroTar))))
    try {
      var entry = in.getNextEntry
      var out: String = null
      while (entry != null) {
        if (!entry.isDirectory && entry.getName.endsWith(".avro")) {
          val dest = Paths.get(destDir,
            Paths.get(entry.getName).getFileName.toString)
          Files.copy(in, dest,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          out = dest.toString
        }
        entry = in.getNextEntry
      }
      require(out != null, s"no avro entry in $AvroTar")
      out
    } finally in.close()
  }

  private def sparkType(t: org.apache.avro.Schema): DataType =
    t.getType match {
      case org.apache.avro.Schema.Type.LONG => LongType
      case org.apache.avro.Schema.Type.INT => IntegerType
      case org.apache.avro.Schema.Type.DOUBLE => DoubleType
      case org.apache.avro.Schema.Type.FLOAT => FloatType
      case org.apache.avro.Schema.Type.BOOLEAN => BooleanType
      case org.apache.avro.Schema.Type.STRING => StringType
      case org.apache.avro.Schema.Type.ARRAY =>
        ArrayType(sparkType(t.getElementType))
      case org.apache.avro.Schema.Type.UNION =>
        // nullable-field unions ["null", T] (avro_data_with_nulls)
        val nonNull = t.getTypes.asScala
          .filter(_.getType != org.apache.avro.Schema.Type.NULL)
        require(nonNull.size == 1, s"unsupported avro union $t")
        sparkType(nonNull.head)
      case other =>
        throw new IllegalArgumentException(s"avro type $other")
    }

  private def cell(v: Any): Any = v match {
    case u: Utf8 => u.toString
    case l: java.util.List[_] => l.asScala.map(cell).toSeq
    case other => other
  }

  /** Decode the avro file into (schema, rows) — bounded driver-side
    * read: this is the committed 100-row test subset. */
  def readAvro(path: String): (StructType, Seq[Row]) = {
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    try {
      val avroSchema = reader.getSchema
      val fields = avroSchema.getFields.asScala.toSeq
      val st = StructType(fields.map(f =>
        StructField(f.name, sparkType(f.schema), nullable = true)))
      val rows = ArrayBuffer[Row]()
      while (reader.hasNext) {
        val rec = reader.next()
        rows += Row.fromSeq(fields.map(f => cell(rec.get(f.pos))))
      }
      (st, rows.toSeq)
    } finally reader.close()
  }

  private val AggRe =
    "(?i)\\b(count|sum|min|max|avg|distinctcount)\\s*\\(".r
  private val LimitRe = """(?is)\s+LIMIT\s+\d+\s*$""".r

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/ontime_duck")
    // second arg "10k" switches to the 10,000-query corpus the same
    // reference harness can run (`getQueryFileName` override)
    val queryFile =
      if (args.lift(1).exists(_.equalsIgnoreCase("10k"))) QueryFile10K
      else QueryFile
    val spark = graft.SparkEntry.localSession(8, "ontime-compat")
    // Calcite double-quoted identifiers ("Month") — same dialect conf
    // the MSE gate runs under (timezone irrelevant: no temporal types)
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")

    val avro = extractAvro(s"$outDir/avro")
    val (schema, rows) = readAvro(avro)
    val df = spark.createDataFrame(rows.asJava, schema)
    df.createOrReplaceTempView("mytable")
    Files.createDirectories(Paths.get(s"$outDir/tables"))
    Files.createDirectories(Paths.get(s"$outDir/results"))
    df.write.mode("overwrite").parquet(s"$outDir/tables/mytable")

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    val entries = Files.readAllLines(Paths.get(queryFile)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    val manifest = new StringBuilder("[")
    var first = true
    var ok = 0
    var failed = 0
    entries.zipWithIndex.foreach { case (line, idx) =>
      // {"sql": "...", "hsqls": ["..."]} — tolerate both shapes
      val sql = """"sql"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
        .findFirstMatchIn(line).map(m => unescape(m.group(1))).getOrElse("")
      val hsql = """"hsqls"\s*:\s*\[\s*"((?:[^"\\]|\\.)*)"""".r
        .findFirstMatchIn(line).map(m => unescape(m.group(1)))
      if (sql.nonEmpty) {
        val id = s"ontime__$idx"
        try {
          val res = graft.sql.QueryFacade.sql(spark,
            "SET explicitLimit = true; " + sql).collect()
          val sb = new StringBuilder("[")
          res.zipWithIndex.foreach { case (r, i) =>
            if (i > 0) sb.append(',')
            sb.append('[')
            (0 until r.length).foreach { j =>
              if (j > 0) sb.append(',')
              r.get(j) match {
                case null => sb.append("null")
                case x: java.lang.Number => sb.append(x.toString match {
                  case "NaN" | "Infinity" | "-Infinity" => jstr("num:" + x)
                  case v => v
                })
                case b: java.lang.Boolean => sb.append(b.toString)
                case seq: scala.collection.Seq[_] =>
                  sb.append(jstr("arr:" + seq.mkString("|")))
                case other => sb.append(jstr(other.toString))
              }
            }
            sb.append(']')
          }
          sb.append(']')
          Files.writeString(Paths.get(s"$outDir/results/$id.json"),
            sb.toString)
          // the reference's comparison discipline
          // (ClusterIntegrationTestUtils.testQuery):
          //  - selection with LIMIT → engine rows ⊆ the full result;
          //  - group-by with LIMIT but NO ORDER BY → which groups land
          //    in the window is engine-arbitrary; the reference skips
          //    these outright ("TODO: compare results for aggregation
          //    group by queries w/o order by") — here they are
          //    compared as subsets of the FULL grouping instead
          //    (stronger than the reference, still order-free)
          val upper = sql.toUpperCase
          val isAgg = AggRe.findFirstIn(sql).isDefined ||
            upper.contains("GROUP BY")
          val hasLimit = LimitRe.findFirstIn(sql).isDefined
          val hasOrder = "(?is).*\\bORDER\\s+BY\\b.*".r
            .matches(sql.replaceAll("\\([^()]*\\)", ""))
          val subset = hasLimit &&
            (!isAgg || (upper.contains("GROUP BY") && !hasOrder))
          // the H2 variants quote identifiers with backticks; the
          // ANSI engine on the other side wants double quotes
          val duckSql0 = hsql.getOrElse(sql).replace('`', '"')
          val duckSql =
            if (subset) LimitRe.replaceAllIn(duckSql0, "") else duckSql0
          val ordered = !subset &&
            "(?is).*\\bORDER\\s+BY\\b.*".r
              .matches(sql.replaceAll("\\([^()]*\\)", ""))
          if (!first) manifest.append(',')
          first = false
          manifest.append(s"""{"id":${jstr(id)},"sql":${jstr(duckSql)},""" +
            s""""ordered":$ordered,"subset":$subset}""")
          ok += 1
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(
              s"[ontime] $idx failed: ${e.getMessage.take(160)}")
        }
      }
    }
    manifest.append(']')
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      manifest.toString)
    println(s"ontime: dumped $ok engine results, $failed engine errors")
    spark.stop()
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
}
