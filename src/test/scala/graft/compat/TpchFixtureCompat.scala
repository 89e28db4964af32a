package graft.compat

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** TPC-H fixture replay — the reference's OWN integration corpus
  * (`TPCHQueryIntegrationTest.java`: eight committed avro tables under
  * `examples/batch/tpch/`, queries `tpch/<n>.sql` for n in 1..24 minus
  * the EXEMPT set {15, 16, 17, 23}, validated against H2 there, with
  * `<n>-h2.sql` variants where the dialects diverge). Unlike
  * `queries/TpchQueries` (which adapts the same SQL to the synthetic
  * testdata), this replays the VERBATIM reference SQL on the
  * reference's committed data and cross-checks via DuckDB
  * (`tools/mse_duck.py` discipline: 1e-4 fuzzy doubles, multiset
  * unless ordered).
  *
  * Usage: `sbt "runMain graft.compat.TpchFixtureCompat /tmp/tpch_duck"`
  * then `python3 tools/mse_duck.py /tmp/tpch_duck`. */
object TpchFixtureCompat {

  private val Resources =
    "/root/reference/pinot-integration-tests/src/test/resources"
  private val Tables = Seq("customer", "lineitem", "nation", "orders",
    "part", "partsupp", "region", "supplier")
  /** `TPCHQueryIntegrationTest.EXEMPT_QUERIES`. */
  private val Exempt = Set(15, 16, 17, 23)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/tpch_duck")
    val spark = graft.SparkEntry.localSession(8, "tpch-fixture-compat")

    Files.createDirectories(Paths.get(s"$outDir/tables"))
    Files.createDirectories(Paths.get(s"$outDir/results"))
    Tables.foreach { t =>
      val avro = s"$Resources/examples/batch/tpch/$t/rawdata/$t.avro"
      val (schema, rows) = OnTimeCompat.readAvro(avro)
      val df = spark.createDataFrame(rows.asJava, schema)
      df.createOrReplaceTempView(t)
      df.write.mode("overwrite").parquet(s"$outDir/tables/$t")
    }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def load(path: String): Option[String] = {
      val p = Paths.get(path)
      if (!Files.exists(p)) None
      else Some(Files.readAllLines(p).asScala
        .filterNot(_.startsWith("#")).mkString("\n").trim.stripSuffix(";"))
    }

    val manifest = new StringBuilder("[")
    var ok = 0
    var failed = 0
    (1 to 24).filterNot(Exempt).foreach { n =>
      val sql = load(s"$Resources/tpch/$n.sql").getOrElse {
        failed += 1
        System.err.println(s"[tpch-fixture] $n.sql missing")
        ""
      }
      if (sql.nonEmpty) {
        val id = f"tpchfx__$n%02d"
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
          // DuckDB runs the H2 variant when the reference needed one;
          // the avro fixture stores dates as strings, which H2's
          // extract() coerces implicitly but DuckDB needs cast explicit
          val duckSql = load(s"$Resources/tpch/$n-h2.sql").getOrElse(sql)
            .replaceAll("(?i)extract\\s*\\(\\s*year\\s+from\\s+(\\w+)\\s*\\)",
              "extract(year from CAST($1 AS DATE))")
          val ordered = "(?is).*\\bORDER\\s+BY\\b.*".r
            .matches(sql.replaceAll("\\([^()]*\\)", ""))
          if (ok > 0) manifest.append(',')
          manifest.append(s"""{"id":${jstr(id)},"sql":${jstr(duckSql)},""" +
            s""""ordered":$ordered,"subset":false}""")
          ok += 1
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(
              s"[tpch-fixture] $n failed: ${e.getMessage.take(200)}")
        }
      }
    }
    manifest.append(']')
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest.toString)
    println(s"tpch-fixture: dumped $ok engine results, $failed engine errors")
    spark.stop()
  }
}
