package perfbench

import scala.util.control.NonFatal

/** Produces the battery's expected results once: for each registry
  * query, its result hash (twice, to catch results that change from
  * run to run), its warm wall time, its result as parquet and its
  * DuckDB oracle SQL, so `expect.py` can cross-check the hash.
  *
  * Usage: perfbench.Expect <data_dir> <out_dir> <work_dir> <cores> [query ...]
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, work, cores) = args.take(4)
    val only = args.drop(4).toSet
    val spark = Engine.session(cores.toInt, work)
    graft.Tables(spark, dir).registerAll()
    val registry = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val rows = registry.keys.toSeq.sorted.filter(n => only.isEmpty || only(n)).map { n =>
      try {
        val hashes = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val df = registry(n)(spark, dir)
          val rs = df.collect()
          ((System.nanoTime() - t0) / 1e6, ResultHash.of(df.schema.fieldNames.toSeq, rs.toSeq), rs.length)
        }
        registry(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        n -> Map("ms" -> hashes.last._1, "hash" -> hashes.last._2, "rows" -> hashes.last._3,
          "stable" -> (hashes.map(_._2).distinct.size == 1), "oracle" -> oracle.get(n))
      } catch {
        case NonFatal(e) => n -> Map("error" -> Option(e.getMessage).getOrElse(e.toString).take(300))
      }
    }.toMap
    Json.write(s"$out/expect.json", Map("registry_size" -> registry.size, "queries" -> rows))
    spark.stop()
  }
}
