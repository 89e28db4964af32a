package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 100× A/B for the exprMin/exprMax rewrite shapes (round 10). The
  * RANK() OVER (ORDER BY …) = 1 form LOOKS like the classic
  * single-partition scale-killer (WindowExec even warns "Moving all
  * data to a single partition"), but Catalyst's InferWindowGroupLimit
  * plans a PARTIAL WindowGroupLimit below the exchange: each input
  * partition forwards only its own rank-1 candidates, so the final
  * window sees ~(tie-candidates × partitions) rows, not the table.
  * The tempting alternative — aggregate the extreme measure tuple
  * (min/max(struct) or ORDER BY+LIMIT 1) and join it back as an
  * equality filter — pays TWO full scans and measured 4-5× slower at
  * 15M rows, so the rewrite keeps the single-scan window form. This
  * probe is the measured evidence. */
object ExprMinMaxScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val orders = graft.Tables(spark, sfDir).orders
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val big = spark.range(factor).crossJoin(
        orders.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .repartition(cpus.toInt * 2).localCheckpoint()
    println(s"[probe] rows = ${big.count()}")
    big.createOrReplaceTempView("emm_probe_t")

    def time(name: String)(sql: String): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = spark.sql(sql).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name%-30s pass$i $s%8.2f s  rows=$n")
      }
    }

    // —— global shape ——
    time("global rank=1 window (KEPT)")(
      """SELECT __ret FROM (
           SELECT o_orderkey AS __ret,
                  RANK() OVER (ORDER BY (o_totalprice) DESC) AS __rk
           FROM emm_probe_t) WHERE __rk = 1""")
    time("global TakeOrdered + join")(
      """SELECT o_orderkey FROM emm_probe_t JOIN
           (SELECT (o_totalprice) AS __emm_m0 FROM emm_probe_t
            ORDER BY (o_totalprice) DESC LIMIT 1)
         ON (o_totalprice) <=> __emm_m0""")

    // —— grouped shape (5-value key: worst case for per-key windows) ——
    time("grouped rank=1 window (KEPT)")(
      """SELECT __ret FROM (
           SELECT o_orderkey AS __ret,
                  RANK() OVER (PARTITION BY o_orderpriority
                               ORDER BY (o_totalprice) DESC) AS __rk
           FROM emm_probe_t) WHERE __rk = 1""")
    time("grouped min-struct + join")(
      """SELECT o_orderkey FROM emm_probe_t JOIN
           (SELECT o_orderpriority AS __emm_k0,
                   max(struct((o_totalprice))) AS __emm_mv
            FROM emm_probe_t GROUP BY o_orderpriority)
         ON o_orderpriority <=> __emm_k0
         WHERE struct((o_totalprice)) <=> __emm_mv""")

    // —— MIXED shape (round 11): K distinct (kind, measures) parents
    // each re-reference __emm_src, so with CTE inlining the source is
    // scanned K (+1 for the sibling-aggregate base) times. A/B: the
    // facade's own rewrite output as-is vs the same text with
    // __emm_src swapped for a CACHED materialization — if the re-scan
    // dominated, caching would win big; parity means the per-parent
    // window (with its partial WindowGroupLimit) dominates and the
    // multi-scan shape is fine.
    val mixedGlobal =
      "SELECT count(*), exprmin(o_orderkey, o_totalprice)," +
        " exprmax(o_orderkey, o_totalprice)," +
        " exprmin(o_orderkey, o_orderpriority, o_totalprice)" +
        " FROM emm_probe_t"
    val mixedGrouped =
      "SELECT o_orderpriority, count(*)," +
        " exprmin(o_orderkey, o_totalprice)," +
        " exprmax(o_orderkey, o_totalprice)," +
        " exprmin(o_orderkey, o_orderkey, o_totalprice)" +
        " FROM emm_probe_t GROUP BY o_orderpriority"
    val srcCte = "__emm_src AS (SELECT *, monotonically_increasing_id()" +
      " AS __emm_ord FROM emm_probe_t)"
    spark.sql("CACHE TABLE emm_probe_cached AS SELECT *," +
      " monotonically_increasing_id() AS __emm_ord FROM emm_probe_t")
    for ((label, stmt) <- Seq("mixed global 3p+count" -> mixedGlobal,
        "mixed grouped 3p+count" -> mixedGrouped)) {
      val rewritten = graft.sql.QueryFacade.rewrite(spark, stmt)
      require(rewritten.contains("__emm_src"), s"rewrite did not fire: $stmt")
      time(s"$label (as-is)")(rewritten)
      time(s"$label (cached src)")(rewritten.replace(srcCte,
        "__emm_src AS (SELECT * FROM emm_probe_cached)"))
    }
    spark.stop()
  }
}
