package graft.compat

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** SSB (Star Schema Benchmark) compat gate — replays the reference's
  * own integration suite (`SSBQueryTest.java`: five committed avro
  * tables under `examples/batch/ssb/`, the 13-query set in
  * `ssb/ssb_query_set.yaml`, validated against H2 there) through the
  * facade, dumping engine results + a manifest for the independent
  * DuckDB cross-check (`tools/mse_duck.py` — the same discipline the
  * no-gold MSE queries use: 1e-4 fuzzy doubles, multiset unless
  * ordered).
  *
  * Usage: `sbt "runMain graft.compat.SsbCompat /tmp/ssb_duck"` then
  * `python3 tools/mse_duck.py /tmp/ssb_duck`. */
object SsbCompat {

  private val Resources =
    "/root/reference/pinot-integration-tests/src/test/resources"
  private val Tables = Seq("customer", "dates", "lineorder", "part",
    "supplier")
  private val QuerySet = s"$Resources/ssb/ssb_query_set.yaml"

  /** The `sqls:` block-scalar list of the committed YAML. */
  private[graft] def parseQueries(yaml: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var cur: StringBuilder = null
    yaml.linesIterator.foreach { line =>
      val t = line.trim
      if (t.startsWith("- |")) {
        if (cur != null) out += cur.toString.trim
        cur = new StringBuilder
      } else if (cur != null && t.startsWith("#")) {
        // comment between entries
      } else if (cur != null && line.startsWith("    ")) {
        cur.append(line.trim).append(' ')
      }
    }
    if (cur != null) out += cur.toString.trim
    out.result().map(_.stripSuffix(";").trim).filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/ssb_duck")
    val spark = graft.SparkEntry.localSession(8, "ssb-compat")

    Files.createDirectories(Paths.get(s"$outDir/tables"))
    Files.createDirectories(Paths.get(s"$outDir/results"))
    Tables.foreach { t =>
      val avro = s"$Resources/examples/batch/ssb/$t/rawdata/$t.avro"
      val (schema, rows) = OnTimeCompat.readAvro(avro)
      val df = spark.createDataFrame(rows.asJava, schema)
      df.createOrReplaceTempView(t)
      df.write.mode("overwrite").parquet(s"$outDir/tables/$t")
    }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    val queries = parseQueries(Files.readString(Paths.get(QuerySet)))
    require(queries.size == 13, s"expected 13 SSB queries, got ${queries.size}")
    val manifest = new StringBuilder("[")
    var ok = 0
    var failed = 0
    queries.zipWithIndex.foreach { case (sql, idx) =>
      val id = s"ssb__$idx"
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
              case other => sb.append(jstr(other.toString))
            }
          }
          sb.append(']')
        }
        sb.append(']')
        Files.writeString(Paths.get(s"$outDir/results/$id.json"),
          sb.toString)
        val ordered = "(?is).*\\bORDER\\s+BY\\b.*".r
          .matches(sql.replaceAll("\\([^()]*\\)", ""))
        if (ok > 0) manifest.append(',')
        manifest.append(s"""{"id":${jstr(id)},"sql":${jstr(sql)},""" +
          s""""ordered":$ordered,"subset":false}""")
        ok += 1
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[ssb] $idx failed: ${e.getMessage.take(200)}")
      }
    }
    manifest.append(']')
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest.toString)
    println(s"ssb: dumped $ok engine results, $failed engine errors")
    spark.stop()
  }
}
