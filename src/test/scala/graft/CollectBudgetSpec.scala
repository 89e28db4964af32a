package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical driver-materialization budget (round-12 directive): every
  * `.collect()` in main sources is an audited, bounded driver
  * materialization — the per-round hand audit (33 sites as of r11,
  * each adjudicated in PLANS.md / the verdict) becomes a failing gate.
  * A NEW call site fails this spec until it is audited for boundedness
  * (dim-bounded, size-gated, or result-sized) and added to the
  * allowlist below with the audit note. The same walk guards the shape
  * of `src/main`: Bench and Verify are its only mains, and
  * `SparkEntry.localSession` is its only session builder. */
class CollectBudgetSpec extends AnyFunSuite {

  /** file -> (allowed count, why those materializations are bounded) */
  private val allowlist: Map[String, (Int, String)] = Map(
    "sql/QueryFacade.scala" -> (7,
      "scalar-subquery/option/IN-ID-SET splices: single-row or LIMIT'd"),
    "functions/TextMatch.scala" -> (4,
      "lucene-clause dictionaries: vocabulary-bounded term sets"),
    "sql/BrokerResponse.scala" -> (2,
      "response rendering: rows already LIMIT'd by the query contract"),
    "sources/TextIndex.scala" -> (2,
      "posting dictionary build: distinct-term bounded, size-gated"),
    "operators/Clustering.scala" -> (2,
      "k-means moments: k x dim driver state only"),
    "Bench.scala" -> (2, "bench harness timing loop"),
    "streaming/KafkaWireBroker.scala" -> (1,
      "test-broker replay of a bounded in-memory topic"),
    "sql/TimeSeriesEndpoint.scala" -> (1,
      "query_range rendering: series-bounded response"),
    "sources/RegexpIndex.scala" -> (1,
      "dictionary candidates: distinct-value capped, honest refusal"),
    "sources/FooterStats.scala" -> (1,
      "footer stats: one row per file, metadata-only"),
    "operators/ScalarQuantize.scala" -> (1,
      "quantile cuts: fixed 255/15-entry codebook"),
    "operators/PqIndex.scala" -> (1, "PQ codebooks: m x 256 x dim"),
    "operators/IvfIndex.scala" -> (1, "IVF centroids: nlist x dim"),
    "operators/Dedup.scala" -> (1,
      "union-find edges: size-gated under 2^20 (else label propagation)"),
    "functions/PinotFunctions.scala" -> (1,
      "lookup-table broadcast: dim-table bounded"),
    "functions/Bpe.scala" -> (1,
      "BPE merge table: vocab-size bounded"))

  /** Every main source file: path relative to the graft root -> text. */
  private lazy val sources: Map[String, String] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val files = scala.collection.mutable.Map.empty[String, String]
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala")) files(rel) = new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    files.toMap
  }

  private def count(src: String, needle: String): Int =
    src.sliding(needle.length).count(_ == needle)

  private val CommentOrString =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r

  /** Source with comments blanked (string literals kept), so a usage
    * line in a scaladoc is not counted as code. */
  private def code(src: String): String =
    CommentOrString.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) " "
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  test("every non-tools .collect() site is allowlisted with an audit note") {
    val found = sources.map { case (f, src) => f -> count(src, ".collect()") }
      .filter(_._2 > 0)
    val unexpected = found.filter { case (f, n) =>
      allowlist.get(f).forall(_._1 < n)
    }
    assert(unexpected.isEmpty,
      "NEW driver materialization site(s) — audit for boundedness " +
        "(dim-bounded / size-gated / result-sized) and extend the " +
        s"allowlist with the audit note: ${unexpected.toSeq.sorted}")
    // and the ledger can't rot: stale entries (file gone or count
    // shrank) must be pruned so the budget stays tight
    val stale = allowlist.filter { case (f, (n, _)) =>
      found.getOrElse(f, 0) < n
    }
    assert(stale.isEmpty,
      s"allowlist overstates the budget — tighten: ${stale.keys.toSeq.sorted}")
  }

  test("Bench and Verify are the only mains; localSession the only builder") {
    val mains = sources
      .map { case (f, src) => f -> "\\bdef\\s+main\\b".r.findAllIn(code(src)).size }
      .filter(_._2 > 0)
    assert(mains == Map("Bench.scala" -> 1, "Verify.scala" -> 1),
      s"probe and A/B mains belong in src/test (graft.Probe): $mains")
    val builders = sources
      .map { case (f, src) => f -> count(code(src), "SparkSession.builder") }
      .filter(_._2 > 0)
    assert(builders == Map("SparkEntry.scala" -> 1),
      s"build sessions with SparkEntry.localSession: $builders")
    // the one builder call sits in localSession's body
    val entry = code(sources("SparkEntry.scala"))
    val at = entry.indexOf("SparkSession.builder")
    assert(entry.lastIndexOf("def ", at) == entry.indexOf("def localSession"))
  }
}
