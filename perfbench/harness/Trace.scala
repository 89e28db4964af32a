package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: name, start and end in epoch microseconds, the
  * enclosing span (0 for a root) and the request it belongs to. */
final case class Span(id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long, req: String) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store of the traced run, written out at exit. The
  * clock is epoch-anchored nanoTime, so harness spans line up with the
  * millisecond timestamps Spark's listener events carry. */
object Trace {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  def add(name: String, parent: Long, startUs: Long, endUs: Long, req: String): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, startUs, endUs, req))
    id
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id)).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "req" -> s.req))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  /** Self time per span name: each span's duration minus the part its
    * children cover. Returns name -> (count, total ms, self ms). */
  def selfTimes(): Map[String, (Int, Double, Double)] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.durUs).sum
      val self = ss.map(s => s.durUs - covered(s, children.getOrElse(s.id, Nil))).sum
      name -> ((ss.size, total / 1000.0, self / 1000.0))
    }
  }
}

/** How much of `s` the union of its children's intervals covers. */
private object covered {
  def apply(s: Span, kids: Seq[Span]): Long = {
    var end = s.startUs
    var total = 0L
    kids.map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { total += b - from; end = b }
      }
    total
  }
}

/** Planner phases and graft rule costs of one executed query, from
  * `QueryExecution.tracker`. */
final case class PlanEvent(phases: Map[String, (Long, Long)],
    parsed: Boolean, ruleNs: Long, ruleCalls: Long, ruleEffective: Long, execNs: Long)

final class PlanListener extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[PlanEvent]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val graft = t.rules.filter(_._1.startsWith("graft.plans.")).values
    events.add(PlanEvent(phases, phases.contains("parsing"),
      graft.map(_.totalTimeNs).sum, graft.map(_.numInvocations).sum,
      graft.map(_.numEffectiveInvocations).sum, durationNs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** A job or SQL execution of one job group, in epoch milliseconds. */
final case class Interval(group: String, name: String, startMs: Long, endMs: Long, execId: Long)

/** Execution counters of one job group (one request or query). */
final class ExecStats {
  var jobs, stages, tasks = 0L
  var schedWaitMs, taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, recordsRead = 0L
}

/** Jobs, stages and tasks keyed by job group, plus the SQL executions
  * each group ran. Streaming micro-batch jobs are filed under "stream"
  * whatever group the stream thread carries. */
final class ExecListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, ExecStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, Long)]()
  val intervals = new ConcurrentLinkedQueue[Interval]()
  private val sqlStart = new ConcurrentHashMap[Long, (String, Long)]()

  private def stats(g: String): ExecStats = byGroup.computeIfAbsent(g, _ => new ExecStats)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).map(_ => "stream")
      .orElse(Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val s = stats(g)
    s.synchronized { s.jobs += 1 }
    e.stageIds.foreach(id => stageGroup.put(id, g))
    jobStart.put(e.jobId, (g, e.time, exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0, exec) =>
      intervals.add(Interval(g, "exec.job", t0, e.time, exec))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val s = stats(Option(stageGroup.remove(id)).getOrElse("none"))
    val wait = for (sub <- Option(stageSubmit.remove(id)); l <- Option(stageLaunch.remove(id)))
      yield math.max(0L, l - sub)
    s.synchronized {
      s.stages += 1
      s.schedWaitMs += wait.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stats(Option(stageGroup.get(e.stageId)).getOrElse("none"))
    s.synchronized {
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, (s.jobGroupId.getOrElse("none"), s.time))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(s.executionId)).foreach { case (g, t0) =>
        intervals.add(Interval(g, "exec.sql", t0, s.time, s.executionId))
      }
    case _ =>
  }

  /** Sum of the counters of every group accepted by `keep`. */
  def total(keep: String => Boolean): ExecStats = {
    val t = new ExecStats
    byGroup.asScala.foreach { case (g, s) =>
      if (keep(g)) s.synchronized {
        t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks
        t.schedWaitMs += s.schedWaitMs; t.taskRunMs += s.taskRunMs
        t.taskCpuNs += s.taskCpuNs; t.gcMs += s.gcMs
        t.shuffleWrite += s.shuffleWrite; t.shuffleRead += s.shuffleRead
        t.spill += s.spill; t.recordsRead += s.recordsRead
      }
    }
    t
  }
}

/** The listeners of a traced run, registered on one session. */
final class Tracing(spark: org.apache.spark.sql.SparkSession) {
  val exec = new ExecListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plans)

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = plans.events.size + exec.intervals.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Pair each SQL execution with the query execution that ran it.
    * Their ids are separate counters, so the pairing is by time: the
    * planner's last phase ends as the execution starts, and both report
    * the same duration. */
  def planOf(): Map[Long, PlanEvent] = {
    val free = mutable.Set.from(plans.events.asScala)
    exec.intervals.asScala.filter(_.name == "exec.sql").toSeq.sortBy(_.startMs).flatMap { i =>
      val best = free.toSeq.flatMap { p =>
        p.phases.get("planning").map { case (_, planEnd) =>
          p -> (math.abs(planEnd - i.startMs) + math.abs(p.execNs / 1000000L - (i.endMs - i.startMs)))
        }
      }.filter(_._2 <= 50).sortBy(_._2).headOption
      best.map { case (p, _) => free -= p; i.execId -> p }
    }.toMap
  }

  /** Attach Spark-side spans (SQL executions, their jobs, planner
    * phases) under the spans that own their job groups. */
  def linkSpans(owner: String => Option[(Long, String)]): Unit = {
    val plan = planOf()
    val sqlSpan = mutable.Map[Long, Long]()
    val all = exec.intervals.asScala.toSeq
    all.filter(_.name == "exec.sql").foreach { i =>
      owner(i.group).foreach { case (parent, req) =>
        sqlSpan(i.execId) = Trace.add("exec.sql", parent, i.startMs * 1000L, i.endMs * 1000L, req)
        plan.get(i.execId).foreach(_.phases.foreach { case (ph, (a, b)) =>
          Trace.add(s"catalyst.$ph", parent, a * 1000L, b * 1000L, req)
        })
      }
    }
    all.filter(_.name == "exec.job").foreach { i =>
      owner(i.group).foreach { case (parent, req) =>
        Trace.add("exec.job", sqlSpan.getOrElse(i.execId, parent), i.startMs * 1000L, i.endMs * 1000L, req)
      }
    }
  }

  /** The per-layer execution metrics of the groups `keep` accepts,
    * normalised per unit of work. */
  def layerMetrics(units: Double, rowsOut: Double, keep: String => Boolean): Map[String, Metric] = {
    val t = exec.total(keep)
    val plan = planOf()
    val ev = exec.intervals.asScala.toSeq.filter(i => i.name == "exec.sql" && keep(i.group))
      .flatMap(i => plan.get(i.execId))
    val n = math.max(units, 1.0)
    def ph(name: String) = ev.flatMap(_.phases.get(name)).map { case (a, b) => (b - a).toDouble }.sum / n
    val calls = ev.map(_.ruleCalls).sum
    Map(
      "catalyst.parse_ms" -> Metric(ph("parsing"), "ms", ev.size),
      "catalyst.analysis_ms" -> Metric(ph("analysis"), "ms", ev.size),
      "catalyst.optimization_ms" -> Metric(ph("optimization"), "ms", ev.size),
      "catalyst.planning_ms" -> Metric(ph("planning"), "ms", ev.size),
      "plans.rule_ms" -> Metric(ev.map(_.ruleNs).sum / 1e6 / n, "ms", ev.size),
      "plans.rule_effective_ratio" -> Metric(
        if (calls == 0) 0.0 else ev.map(_.ruleEffective).sum.toDouble / calls, "ratio", calls),
      "exec.jobs" -> Metric(t.jobs / n, "count", t.jobs),
      "exec.stages" -> Metric(t.stages / n, "count", t.stages),
      "exec.tasks" -> Metric(t.tasks / n, "count", t.tasks),
      "exec.sched_wait_ms" -> Metric(if (t.stages == 0) 0.0 else t.schedWaitMs.toDouble / t.stages, "ms", t.stages),
      "exec.task_run_ms" -> Metric(t.taskRunMs / n, "ms", t.tasks),
      "exec.task_cpu_ms" -> Metric(t.taskCpuNs / 1e6 / n, "ms", t.tasks),
      "exec.shuffle_write_bytes" -> Metric(t.shuffleWrite / n, "bytes", t.tasks),
      "exec.shuffle_read_bytes" -> Metric(t.shuffleRead / n, "bytes", t.tasks),
      "exec.spill_bytes" -> Metric(t.spill / n, "bytes", t.tasks),
      "exec.records_read_per_row_out" -> Metric(
        if (rowsOut <= 0) 0.0 else t.recordsRead / rowsOut, "ratio", t.tasks),
      "exec.gc_ms" -> Metric(t.gcMs / n, "ms", t.tasks),
      "facade.calls" -> Metric(ev.count(_.parsed) / n, "count", ev.size))
  }
}
