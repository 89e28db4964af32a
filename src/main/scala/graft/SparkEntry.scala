package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.AllQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The one local session every main and the test suites build:
    * `cores` task slots and as many shuffle partitions, the Catalyst
    * extensions, UTC session time, no UI, WARN logging and the
    * Pinot-named functions registered. AQE is Spark 4's default. */
  def localSession(cores: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.PinotFunctions.registerAll(spark)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-style pricing summary (SURVEY §7.2 minimum slice). */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every builder
    * runs with the Pinot-named function surface registered (idempotent),
    * so queries may use `expr("strpos(...)")` etc. directly. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    AllQueries.all.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        graft.functions.PinotFunctions.registerAll(s)
        q.build(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approximate sketches, hash-defined LSH) → rows-only check. */
  def oracleSql: Map[String, String] =
    AllQueries.all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
