package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Catalog facade: one DataFrame per driver-provided table (TESTDATA.md).
  *
  * Mirrors the reference's table abstraction (apache/pinot
  * `pinot-spi/.../data/Schema.java`, table CRUD in
  * `PinotTableRestletResource.java`) without the controller machinery:
  * a table is a parquet-backed DataFrame registered in the Spark session
  * catalog, so `spark.sql` sees the same names the oracle does.
  *
  * Scale note: reads are plain `spark.read.parquet` — columnar scan,
  * predicate pushdown and column pruning are handled by the parquet
  * data source; at cluster scale the same code reads a partitioned
  * directory tree and prunes partitions.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** Memoized per (session, dir): re-resolving a parquet relation costs
    * file listing + footer reads on every query otherwise (74 queries ×
    * 10 tables adds seconds of pure metadata work to a bench run). */
  def table(name: String): DataFrame =
    Tables.cache.computeIfAbsent((spark, dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))

  lazy val region: DataFrame = table("region")
  lazy val nation: DataFrame = table("nation")
  lazy val customer: DataFrame = table("customer")
  lazy val supplier: DataFrame = table("supplier")
  lazy val part: DataFrame = table("part")
  lazy val orders: DataFrame = table("orders")
  lazy val lineitem: DataFrame = table("lineitem")

  /** The sf0.001, sf0.01 and sf0.1 events.parquet store ts as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    * TimestampNTZ directly. A copy that stores TIMESTAMP(NANOS) has no
    * native Spark type: the legacy conf reads it as long, and the
    * branch below converts it to micros (dropping sub-microsecond
    * digits), keeping the session-TZ-free NTZ type of the other
    * tables. */
  lazy val events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events") // resolve (and cache) BEFORE the outer
    // computeIfAbsent — nesting them would be a recursive map update
    Tables.cache.computeIfAbsent((spark, dir, "events__converted"), { _ =>
      // a TIMESTAMP(NANOS) copy reads as long → convert; the MICROS
      // tables already carry a proper timestamp
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      else raw
    })
  }
  lazy val documents: DataFrame = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")

  /** Register all tables as temp views for spark.sql use (events goes
    * through the nanos-safe reader above). */
  def registerAll(): Unit = Tables.names.foreach { n =>
    val df = if (n == "events") events else table(n)
    df.createOrReplaceTempView(n)
  }
}

object Tables {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
