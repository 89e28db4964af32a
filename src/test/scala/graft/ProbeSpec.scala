package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

/** Each `Probe` mode runs on the shared session and leaves it running. */
class ProbeSpec extends SparkSpec {
  private val q = "q1_pricing_summary"

  private def probe(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Probe.run(spark, sf, args, new PrintStream(buf, true, "UTF-8"))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("plan writes the formatted physical plan per query") {
    val dir = Files.createTempDirectory("graft-probe")
    try {
      probe("plan", dir.toString, "before", q)
      val txt = Files.readString(dir.resolve(s"${q}_before.txt"))
      assert(txt.contains("Physical Plan"))
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("layers prints the planner phases and the operator tree") {
    val out = probe("layers", q, "1")
    assert(out.exists(_.startsWith(s"===== $q  best of 1: build=")), out)
    val tracker = out.find(_.startsWith("  tracker ")).getOrElse(fail(out.mkString("\n")))
    Seq("analysis", "optimization", "planning").foreach { p =>
      assert(tracker.contains(s"$p="), tracker)
    }
    assert(out.exists(l => l.startsWith("  ") && l.trim.split(" ")(0).endsWith("Exec")), out)
    assert(!spark.sparkContext.isStopped)
  }

  test("ab prints one result checksum on every lap") {
    val out = probe("ab", "1", q)
    val laps = out.filter(_.startsWith("[ab] lap="))
    assert(laps.map(_.split(" ")(1)) == Seq("lap=warm", "lap=1"), out)
    val sums = laps.map(_.split("sum=")(1))
    assert(sums.distinct.size == 1, out)
    assert(out.exists(l => l.startsWith(s"[ab] $q") && l.contains(s"sum=${sums.head}")), out)
    assert(!spark.sparkContext.isStopped)
  }
}
