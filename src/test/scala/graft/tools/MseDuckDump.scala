package graft.tools

import java.nio.file.{Files, Paths}
import graft.compat.MseCompat

/** Cross-engine arm for the MSE queries WITHOUT committed gold outputs:
  * the reference verifies those against H2
  * (`QueryRunnerTestBase.addTableToH2` path); this tool produces the
  * inputs for the analogous DuckDB comparison (`tools/mse_duck.py`):
  *
  *  - every fixture table as parquet under `outDir/tables/<view>`;
  *  - every no-gold query's ENGINE result as JSON rows under
  *    `outDir/results/<id>.json`;
  *  - a manifest with the hint-stripped, placeholder-substituted SQL
  *    (NOT facade-rewritten — DuckDB gets standard SQL) and whether
  *    top-level ordering must be respected.
  */
object MseDuckDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/mse_duck")
    val filter = args.drop(1).headOption.getOrElse("")
    val spark = graft.SparkEntry.localSession(8, "mse-duck-dump")
    MseCompat.DialectConf.foreach { case (k, v) => spark.conf.set(k, v) }

    Files.createDirectories(Paths.get(s"$outDir/tables"))
    Files.createDirectories(Paths.get(s"$outDir/results"))

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    val manifest = new StringBuilder("[")
    var first = true
    var nDumped = 0
    val suites = MseCompat.loadSuites()
      .filter(s => filter.isEmpty || s"${s.file}:${s.name}".contains(filter))
    suites.foreach { s =>
      if (!s.ignored) {
        val views =
          try MseCompat.register(spark, s)
          catch { case _: Throwable => Map.empty[String, String] }
        // tables whose schemas parquet cannot host (e.g. columns
        // differing only by case) disqualify their suite from the
        // cross-check — their queries are simply not dumped
        val dumpable = views.nonEmpty && views.values.forall { v =>
          val dest = s"$outDir/tables/$v"
          Files.exists(Paths.get(dest)) ||
            (try { spark.table(v).write.mode("overwrite").parquet(dest); true }
             catch { case _: Throwable => false })
        }
        if (dumpable) {
          s.cases.foreach { c =>
            val noGold = c.outputs.isEmpty && !c.ignored && !c.expectsError
            if (noGold) {
              val id = s"${c.file}__${c.suite}__${c.idx}"
              val raw = MseCompat.substitute(c.sql, views)
              val stripped = graft.sql.QueryFacade.stripHints(
                graft.sql.QueryFacade.parseOptions(raw).sql)
              val engineSql = graft.sql.QueryFacade.rewrite(spark, raw)
              try {
                val rows = spark.sql(engineSql).collect()
                // JSON rows: cells stringified with type tags the
                // Python comparator understands
                val sb = new StringBuilder("[")
                rows.zipWithIndex.foreach { case (r, i) =>
                  if (i > 0) sb.append(',')
                  sb.append('[')
                  (0 until r.length).foreach { j =>
                    if (j > 0) sb.append(',')
                    r.get(j) match {
                      case null => sb.append("null")
                      case b: Array[Byte] =>
                        sb.append(jstr("hex:" + b.map("%02x".format(_)).mkString))
                      case t: java.sql.Timestamp =>
                        sb.append(jstr("ts:" + t.getTime))
                      case d: java.math.BigDecimal => sb.append(jstr("num:" + d))
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
                Files.writeString(Paths.get(s"$outDir/results/$id.json"), sb.toString)
                val ordered = "(?is).*\\bORDER\\s+BY\\b(?![^()]*\\)).*".r
                  .matches(stripped.replaceAll("\\([^()]*\\)", ""))
                if (!first) manifest.append(',')
                first = false
                manifest.append(s"""{"id":${jstr(id)},"sql":${jstr(stripped)},""" +
                  s""""ordered":$ordered}""")
                nDumped += 1
              } catch { case _: Throwable => () } // engine errors tracked by MseCompat.main
            }
          }
        }
      }
    }
    manifest.append(']')
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest.toString)
    println(s"dumped $nDumped no-gold query results to $outDir")
    spark.stop()
  }
}
