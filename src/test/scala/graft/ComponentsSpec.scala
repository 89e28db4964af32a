package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup.components vs an in-memory union-find over random graphs, plus
  * structured worst cases (path graph — exercises pointer jumping — and
  * disjoint cliques — the LSH near-dup shape). */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference union-find (path compression only, no ranks — fine at
    * test sizes). Returns node -> min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // root is always the min id of the component because union always
    // parents the larger root under the smaller
    nodes.map(n => n -> find(n)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val expected = unionFind(edges)
    // driverEdgeLimit = 0 forces the distributed propagation loop;
    // the default exercises the driver union-find shortcut
    for (limit <- Seq(0L, 1L << 20)) {
      val got = Dedup.components(edges.toDF("id_a", "id_b"),
          driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"limit=$limit")
    }
  }

  test("random graphs match union-find (15 seeds)") {
    for (seed <- 1 to 15) {
      val rnd = new Random(seed)
      val n = 30 + rnd.nextInt(40)
      val m = 20 + rnd.nextInt(60)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) check(edges)
    }
  }

  test("path graph of 60 nodes collapses to one component") {
    // worst case for plain min-propagation (diameter = n); pointer
    // jumping must still converge inside maxIters = 25 since 2^25 >> 60.
    // driverEdgeLimit = 0 forces the distributed loop.
    val edges = (0L until 59L).map(i => (i, i + 1))
    val got = Dedup.components(edges.toDF("id_a", "id_b"),
      driverEdgeLimit = 0L).collect()
    assert(got.length == 60 && got.forall(_.getLong(1) == 0L))
  }

  test("driverEdgeLimit = Long.MaxValue keeps the driver path's components") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val got = Dedup.components(edges.toDF("id_a", "id_b"),
        driverEdgeLimit = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("disjoint cliques keep distinct min labels") {
    val cliques = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L, 13L), Seq(50L, 51L))
    val edges = cliques.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b))
    val got = Dedup.components(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (c <- cliques; x <- c) assert(got(x) == c.min)
  }

  test("semanticDedup collapses identical-embedding groups to one representative") {
    // 3 well-separated directions; members of a group are exact copies
    // (cosine 1.0), so regardless of the k-means cell layout each group
    // must collapse — copies always land in the same cell.
    val dirs = Seq(
      Seq(1.0f, 0.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f, 0.0f),
      Seq(0.0f, 0.0f, 1.0f, 0.0f))
    val rows = for (g <- 0 until 3; m <- 0 until 4)
      yield ((g * 10 + m).toLong, dirs(g))
    val emb = rows.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
        k = 3, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 10L, 20L))
    val pairs = Dedup.semanticPairs(emb, "vec_id", "embedding",
      k = 3, threshold = 0.99)
    // no cross-group pair (orthogonal directions)
    assert(pairs.filter(expr("id_a div 10 != id_b div 10")).count() == 0)
  }

  test("keepRepresentatives drops non-minimal members only") {
    val docs = Seq.tabulate(8)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (3L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val kept = Dedup.keepRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // component {1,3,5} keeps 1; {6,7} keeps 6; 0,2,4 untouched
    assert(kept.toSeq == Seq(0L, 1L, 2L, 4L, 6L))
  }

  test("keepRepresentativesBy keeps the highest-preference member") {
    import org.apache.spark.sql.functions.length
    // text lengths: doc 5 longest in {1,3,5}; 6 and 7 tie -> smaller id
    val docs = Seq((0L, "a"), (1L, "bb"), (3L, "ccc"), (5L, "dddd"),
      (6L, "ee"), (7L, "ff")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (3L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val kept = Dedup.keepRepresentativesBy(docs, "doc_id", pairs,
        length(org.apache.spark.sql.functions.col("text")))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 5L, 6L))
  }
}
