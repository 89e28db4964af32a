package perfbench

/** Runs one workload as `run.py` planned it and writes the outcome as
  * JSON.
  *
  * Usage: perfbench.Main <plan.json> <outcome.json> <launch_epoch_ns>
  *
  * One set-up per process: session, tables, the workload's front end
  * and its warm-up. `setup_s` runs from the process launch (the epoch
  * time `run.py` took just before starting this JVM) until the first
  * timed request is ready, so JVM start and class loading count too.
  * A traced run registers the listeners after set-up and keeps spans
  * in memory until the end.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val entered = Engine.epochNanos()
    val plan = new Plan(Json.read(args(0)))
    val outPath = args(1)
    val cores = plan.int("cores")
    val work = plan.str("work_dir")
    val traced = plan.bool("trace")
    val load0 = Engine.loadavg()
    val workload = Workload(plan)

    val launched = args(2).toLong
    val spark = Engine.session(cores, work)
    val sessionUp = Engine.epochNanos()
    workload.setup(spark)
    val ready = Engine.epochNanos()
    val setup = (ready - launched) / 1e9

    val tracing = if (traced) Some(new Tracing(spark)) else None
    val cpu0 = Engine.cpuTimes()
    val t0 = System.nanoTime()
    val out = workload.measure(spark, tracing)
    val measured = (System.nanoTime() - t0) / 1e9
    val measureSteal = Engine.stealShare(cpu0, Engine.cpuTimes())
    workload.teardown()
    val heap = Engine.liveHeapMb()
    if (traced) Trace.write(plan.str("span_file"))
    val selfTimes = if (traced) Trace.selfTimes() else Map.empty[String, (Int, Double, Double)]
    val load1 = Engine.loadavg()
    spark.stop()

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val e2e = out.endToEnd ++ Map(
      "setup_s" -> Metric(setup, "s", 1),
      "live_heap_mb" -> Metric(heap, "MB", 1))
    Json.write(outPath, Map(
      "end_to_end" -> e2e.map { case (k, m) => k -> m.toMap },
      "per_layer" -> out.layers.map { case (k, m) => k -> m.toMap },
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures,
      "records" -> out.records,
      "setup_parts_s" -> Map(
        "jvm_start" -> (entered - launched) / 1e9,
        "session" -> (sessionUp - entered) / 1e9,
        "workload" -> (ready - sessionUp) / 1e9),
      "measured_s" -> measured,
      "self_time" -> selfTimes.map { case (k, (n, total, self)) =>
        k -> Map("count" -> n, "total_ms" -> total, "self_ms" -> self) },
      "stamps" -> Map(
        "spark_cores" -> cores,
        "jvm" -> System.getProperty("java.vm.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> rt.getInputArguments.toString,
        "loadavg_start" -> load0,
        "measure_steal_share" -> measureSteal,
        "loadavg_end" -> load1)))
  }
}
