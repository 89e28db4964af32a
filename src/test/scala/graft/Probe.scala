package graft

import java.io.PrintStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The one measurement probe over registry queries (`SparkEntry.queries`).
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<tables> sbt "Test/runMain graft.Probe plan <dir> <suffix> [q_a,q_b]"
  * SPARK_GRAFT_SF_DIR=<tables> sbt "Test/runMain graft.Probe layers q_a,q_b [reps]"
  * SPARK_GRAFT_SF_DIR=<tables> sbt "Test/runMain graft.Probe ab <reps> q_a,q_b"
  * }}}
  *
  *  - `plan` writes `explain("formatted")` of each query (every registered
  *    query when no list is given) to `<dir>/<query>_<suffix>.txt`.
  *  - `layers` splits the best of `reps` runs (default 3) into build,
  *    plan and exec wall time, prints the planner's own phase times
  *    (`queryExecution.tracker`) and the executed plan tree with its
  *    non-zero time, row, byte and spill SQL metrics.
  *  - `ab` runs the queries interleaved in this JVM: one printed warm
  *    lap, then `reps` timed laps, each stamped with the 1-minute load
  *    average and a result checksum; then warm, best, median and every
  *    lap per query.
  *
  * SPARK_GRAFT_CPUS sets the core count (default 4, as Bench).
  */
object Probe {
  private val Usage = "usage: Probe plan <dir> <suffix> [q,...] | " +
    "layers <q,...> [reps] | ab <reps> <q,...>"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "SPARK_GRAFT_SF_DIR must name the tables' directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkEntry.localSession(cpus, "graft-probe")
    try run(spark, sfDir, args.toSeq, System.out) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, args: Seq[String],
      out: PrintStream): Unit = {
    val registry = SparkEntry.queries
    def named(csv: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
      val names = csv.split(",").toSeq.filter(_.nonEmpty)
      val unknown = names.filterNot(registry.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      names.map(n => n -> registry(n))
    }
    args match {
      case Seq("plan", dir, suffix, rest @ _*) =>
        val qs = rest.headOption.map(named).getOrElse(registry.toSeq.sortBy(_._1))
        plan(spark, sfDir, qs, dir, suffix, out)
      case Seq("layers", csv, rest @ _*) =>
        layers(spark, sfDir, named(csv), rest.headOption.fold(3)(_.toInt), out)
      case Seq("ab", reps, csv) =>
        ab(spark, sfDir, named(csv), reps.toInt, out)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  private def plan(spark: SparkSession, sfDir: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      dir: String, suffix: String, out: PrintStream): Unit = {
    Files.createDirectories(Paths.get(dir))
    qs.foreach { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), txt)
        out.println(s"[plan] wrote $name")
      } catch {
        case e: Exception => out.println(s"[plan] FAILED $name: ${e.getMessage}")
      }
    }
  }

  private def layers(spark: SparkSession, sfDir: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int, out: PrintStream): Unit = qs.foreach { case (name, fn) =>
    try {
      fn(spark, sfDir).collect() // warm: codegen, index builds, footers
      // per rep: (build, plan, exec) ms and the DataFrame it ran
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.collect()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, df)
      }
      val (build, planMs, exec, df) = runs.minBy(r => r._1 + r._2 + r._3)
      out.println(f"===== $name  best of $reps: build=$build%.1f " +
        f"plan=$planMs%.1f exec=$exec%.1f ms")
      val phases = df.queryExecution.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      out.println("  tracker " +
        phases.map { case (p, s) => s"$p=${s.durationMs}" }.mkString(" ") + " ms")
      opTree(df.queryExecution.executedPlan, 1, out)
    } catch {
      case e: Exception => out.println(s"[layers] FAILED $name: ${e.getMessage}")
    }
  }

  /** Executed plan tree, one operator a line, with its non-zero metrics. */
  private def opTree(plan: SparkPlan, depth: Int, out: PrintStream): Unit =
    plan match {
      case a: AdaptiveSparkPlanExec => opTree(a.executedPlan, depth, out)
      case q: QueryStageExec => opTree(q.plan, depth, out)
      case r: ReusedExchangeExec =>
        out.println("  " * depth + "ReusedExchangeExec -> " +
          r.child.getClass.getSimpleName)
      case p =>
        val ms = p.metrics.toSeq.sortBy(_._1).collect {
          case (k, m) if m.value > 0 && (k == "numOutputRows" ||
              Seq("time", "bytes", "spill", "duration")
                .exists(k.toLowerCase.contains)) => s"$k=${m.value}"
        }
        out.println("  " * depth + p.getClass.getSimpleName +
          ms.map(" " + _).mkString)
        p.children.foreach(opTree(_, depth + 1, out))
        // scalar subqueries hide whole pipelines
        p.subqueries.foreach(opTree(_, depth + 1, out))
    }

  private def ab(spark: SparkSession, sfDir: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int, out: PrintStream): Unit = {
    require(reps >= 1, Usage)
    // one lap per query: (seconds, checksum of the sorted result rows)
    def lap(fn: (SparkSession, String) => DataFrame): (Double, String) = {
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).collect()
      val s = (System.nanoTime() - t0) / 1e9
      val sum = scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq)
      (s, f"$sum%08x")
    }
    // laps.head is the warm lap: it shows where one-time index build or
    // load cost lands relative to the steady state
    val laps = (0 to reps).map { i =>
      val load = loadavg()
      val tag = if (i == 0) "warm" else i.toString
      qs.map { case (name, fn) =>
        val (s, sum) = lap(fn)
        out.println(f"[ab] lap=$tag load=$load%.2f $name%-24s $s%.3f s sum=$sum")
        name -> (s, sum)
      }.toMap
    }
    qs.foreach { case (name, _) =>
      val timed = laps.tail.map(_(name)._1)
      val sorted = timed.sorted
      out.println(f"[ab] $name%-24s warm=${laps.head(name)._1}%.3f s " +
        f"best=${sorted.head}%.3f s median=${sorted(sorted.size / 2)}%.3f s " +
        s"all=${timed.map(t => f"$t%.3f").mkString(",")} " +
        s"sum=${laps.map(_(name)._2).distinct.mkString(",")}")
    }
  }

  /** 1-minute load average, or -1 where /proc/loadavg is unreadable. */
  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}
