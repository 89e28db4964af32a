package graft

import org.apache.spark.sql.functions._
import graft.sql.QueryFacade
import graft.functions.PinotFunctions

class FacadeAndFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val init: Unit = QueryFacade.init(spark, sf)

  test("default LIMIT 10 applied when query has none (query.thrift:29)") {
    init
    assert(QueryFacade.sql(spark, "SELECT l_orderkey FROM lineitem").count() == 10)
    assert(QueryFacade.sql(spark,
      "SELECT l_orderkey FROM lineitem LIMIT 25").count() == 25)
    assert(QueryFacade.sql(spark,
      "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 3").count() == 3)
  }

  test("SET option prefix parsed off and explicitLimit honored") {
    init
    val p = QueryFacade.parseOptions(
      "SET enableNullHandling=true; SET timeoutMs = 5000; SELECT 1")
    assert(p.options == Map("enablenullhandling" -> "true", "timeoutms" -> "5000"))
    assert(p.sql == "SELECT 1")
    val n = QueryFacade.sql(spark,
      "SET explicitLimit=true; SELECT l_orderkey FROM lineitem").count()
    assert(n > 10)
  }

  test("pinot-named scalar functions run through spark.sql") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT ARRAYLENGTH(ARRAY(1,2,3)) AS al,
        ARRAYSUM(ARRAY(1.0, 2.0, 3.5)) AS asum,
        TIMECONVERT(90000, 'MILLISECONDS', 'SECONDS') AS tc,
        JSONEXTRACTSCALAR('{"k": 7}', '$.k', 'INT') AS js,
        SPLITPART('a,b,c', ',', 2) AS sp,
        STPOINT(0.0, 0.0) AS p LIMIT 1""").collect().head
    assert(r.getAs[Int]("al") == 3)
    assert(r.getAs[Double]("asum") == 6.5)
    assert(r.getAs[Long]("tc") == 90L)
    assert(r.getAs[Int]("js") == 7)
    // Pinot splitPart is 0-BASED (StringFunctions.java:502) — index 2
    // is the third token (the previous 1-based "b" expectation was a
    // divergence, fixed with the StringFunctionsTest wave-13 replay)
    assert(r.getAs[String]("sp") == "c")
  }

  test("OPTION() suffix syntax and WKT point parsing") {
    init
    val p = QueryFacade.parseOptions(
      "SELECT 1 OPTION(timeoutMs=5000, explicitLimit=true)")
    assert(p.options == Map("timeoutms" -> "5000", "explicitlimit" -> "true"))
    assert(p.sql == "SELECT 1")
    val r = QueryFacade.sql(spark,
      """SELECT STDISTANCE(STGEOGFROMTEXT('POINT (0.0 0.0)'),
        STGEOGFROMTEXT('POINT (1.0 0.0)')) AS d,
        ARRAYUNION(ARRAY(1, 2), ARRAY(2, 3)) AS u,
        ARRAYREMOVE(ARRAY(1, 2, 1), 1) AS rm LIMIT 1""").collect().head
    assert(math.abs(r.getAs[Double]("d") - 111195.0) < 100.0)
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(2))
  }

  test("dateTimeConvert epoch/SDF formats with granularity bucketing") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT
        DATETIMECONVERT(1704110460123, '1:MILLISECONDS:EPOCH',
          '1:MINUTES:EPOCH', '15:MINUTES') AS m15,
        DATETIMECONVERT(1704110460123, '1:MILLISECONDS:EPOCH',
          '1:MILLISECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm',
          '1:HOURS') AS sdf_out,
        DATETIMECONVERT('2024-01-01 12:34:56',
          '1:MILLISECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm:ss',
          '1:SECONDS:EPOCH', '1:DAYS') AS day_epoch
        LIMIT 1""").collect().head
    // 1704110460123 ms = 2024-01-01T12:01:00.123Z -> 15-min bucket 12:00
    assert(r.getAs[Long]("m15") == 1704110400000L / 60000)
    assert(r.getAs[String]("sdf_out") == "2024-01-01 12:00")
    assert(r.getAs[Long]("day_epoch") == 1704067200L)
  }

  test("TEXT_MATCH lucene-subset queries") {
    init
    val docs = Seq(
      (1L, "Spark query engines are fast"),
      (2L, "the quick brown fox"),
      (3L, "querying is an art")).toDF("id", "t")
    docs.createOrReplaceTempView("tm_docs")
    def ids(q: String): Seq[Long] =
      QueryFacade.sql(spark,
        s"SET explicitLimit=true; SELECT id FROM tm_docs WHERE TEXT_MATCH(t, '$q') ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
    assert(ids("query") == Seq(1L))              // whole token, not 'querying'
    assert(ids("query*") == Seq(1L, 3L))         // prefix wildcard
    assert(ids("\"quick brown\"") == Seq(2L))    // phrase
    assert(ids("spark AND fast") == Seq(1L))
    assert(ids("fox OR art") == Seq(2L, 3L))
    // Lucene clause model: spark MUST, missing MUST, fox SHOULD →
    // both MUSTs required, no doc has 'missing'
    assert(ids("spark AND missing OR fox") == Seq())
    // all-MUST_NOT queries match nothing in Lucene's BooleanQuery
    assert(ids("NOT fast") == Seq())
    assert(ids("art NOT fox") == Seq(3L))           // SHOULD + MUST_NOT
    assert(ids("engines AND NOT missing") == Seq(1L))
    assert(ids("fast OR NOT quick") == Seq(1L))     // fast SHOULD, quick MUST_NOT
  }

  test("url / ip / hash extras") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT ENCODEURL('a b&c') AS e, DECODEURL('a%20b%26c') AS d,
        ISSUBNETOF('192.168.1.0/24', '192.168.1.77') AS in1,
        ISSUBNETOF('192.168.1.0/24', '192.168.2.1') AS in2,
        SHA512('x') AS h LIMIT 1""").collect().head
    assert(r.getAs[String]("e") == "a+b%26c")
    assert(r.getAs[String]("d") == "a b&c")
    assert(r.getAs[Boolean]("in1"))
    assert(!r.getAs[Boolean]("in2"))
    assert(r.getAs[String]("h").length == 128)
  }

  test("st_distance haversine is sane (1 deg longitude at equator ~111km)") {
    init
    val d = QueryFacade.sql(spark,
      "SELECT STDISTANCE(STPOINT(0.0,0.0), STPOINT(1.0,0.0)) AS d LIMIT 1")
      .collect().head.getAs[Double]("d")
    assert(math.abs(d - 111195.0) < 100.0)
  }

  test("polygon geo functions: contains, within, area") {
    init
    // unit square (0,0)-(1,1); point inside, outside, and area
    val r = QueryFacade.sql(spark,
      """SELECT
        STCONTAINS(ARRAY(STPOINT(0.0,0.0), STPOINT(1.0,0.0),
          STPOINT(1.0,1.0), STPOINT(0.0,1.0)), STPOINT(0.5, 0.5)) AS inside,
        STCONTAINS(ARRAY(STPOINT(0.0,0.0), STPOINT(1.0,0.0),
          STPOINT(1.0,1.0), STPOINT(0.0,1.0)), STPOINT(1.5, 0.5)) AS outside,
        STWITHIN(STPOINT(0.25, 0.75), ARRAY(STPOINT(0.0,0.0),
          STPOINT(1.0,0.0), STPOINT(1.0,1.0), STPOINT(0.0,1.0))) AS within_sq,
        STAREA(ARRAY(STPOINT(0.0,0.0), STPOINT(2.0,0.0),
          STPOINT(2.0,3.0), STPOINT(0.0,3.0))) AS rect_area,
        STAREA(ARRAY(STPOINT(0.0,0.0), STPOINT(4.0,0.0),
          STPOINT(0.0,3.0))) AS tri_area
        LIMIT 1""").collect().head
    assert(r.getAs[Boolean]("inside"))
    assert(!r.getAs[Boolean]("outside"))
    assert(r.getAs[Boolean]("within_sq"))
    assert(r.getAs[Double]("rect_area") == 6.0)
    assert(r.getAs[Double]("tri_area") == 6.0)
  }

  test("pinot-named aggregates run through spark.sql") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT DISTINCTCOUNT(l_returnflag) AS dc,
        MINMAXRANGE(l_quantity) AS mmr,
        EXPRMAX(l_orderkey, l_extendedprice) AS em,
        BOOLAND(l_quantity > 0) AS ba
        FROM lineitem""").collect().head
    assert(r.getAs[Int]("dc") == 3)
    assert(r.getAs[Double]("mmr") == 49.0)
    assert(r.getAs[Boolean]("ba"))
    // ARRAY_AGG distinct flag (ArrayAggFunction 3rd arg)
    val aa = QueryFacade.sql(spark,
      """SELECT sort_array(ARRAYAGG(l_returnflag, 'STRING', true)) AS d,
        size(ARRAYAGG(l_returnflag, 'STRING')) AS n FROM lineitem""")
      .collect().head
    assert(aa.getSeq[String](0) == Seq("A", "N", "R"))
    assert(aa.getAs[Int]("n") > 3)
  }

  test("IDSET / INIDSET bloom semi-join semantics") {
    init
    // build an id set of big-order customers, probe membership
    val rows = QueryFacade.sql(spark,
      """SET explicitLimit=true;
        WITH ids AS (SELECT IDSET(o_custkey) AS s FROM orders
          WHERE o_totalprice > 200000.0)
        SELECT c_custkey, INIDSET(c_custkey, (SELECT s FROM ids)) AS hit
        FROM customer ORDER BY c_custkey""").collect()
    val hits = rows.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val exact = QueryFacade.sql(spark,
      """SET explicitLimit=true;
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000.0""")
      .collect().map(_.getLong(0)).toSet
    // bloom filter: no false negatives
    assert(exact.subsetOf(hits))
    // and few false positives at this sizing
    assert(hits.size <= exact.size + 5)
  }

  test("IP prefix/min/max and RFC 5952 canonical forms") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT
        ipprefix('192.168.1.100', 24) AS p4,
        ipsubnetmin('192.168.1.0/24') AS mn4,
        ipsubnetmax('192.168.1.0/24') AS mx4,
        ipprefix('2001:0DB8:0:0:0:0:0:1', 48) AS p6,
        ipsubnetmin('2001:db8::/116') AS mn6,
        ipsubnetmax('2001:db8::/116') AS mx6,
        ipprefix('not-an-ip', 8) AS bad,
        issubnetof('::ffff:10.0.0.0/104', '::ffff:10.1.2.3') AS v4mapped
      """).collect().head
    assert(r.getString(0) == "192.168.1.0/24")
    assert(r.getString(1) == "192.168.1.0")
    assert(r.getString(2) == "192.168.1.255")
    assert(r.getString(3) == "2001:db8::/48")
    assert(r.getString(4) == "2001:db8::")
    assert(r.getString(5) == "2001:db8::fff")
    assert(r.isNullAt(6))
    assert(r.getBoolean(7))
  }

  test("H3 hex-grid identities: disk size, metric, center round-trip") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT
        size(griddisk(geotoh3(12.5, 47.3, 8), 3)) AS disk3,
        griddistance(geotoh3(12.5, 47.3, 8), geotoh3(12.5, 47.3, 8)) AS self_d,
        griddistance(geotoh3(12.5, 47.3, 8), geotoh3(13.5, 46.3, 8)) AS d_ab,
        griddistance(geotoh3(13.5, 46.3, 8), geotoh3(12.5, 47.3, 8)) AS d_ba,
        griddistance(geotoh3(12.5, 47.3, 8),
          geotoh3(h3togeo(geotoh3(12.5, 47.3, 8)).x,
                  h3togeo(geotoh3(12.5, 47.3, 8)).y, 8)) AS roundtrip
      """).collect().head
    assert(r.getInt(0) == 3 * 3 * (3 + 1) + 1) // 3k(k+1)+1 = 37
    assert(r.getLong(1) == 0L)
    assert(r.getLong(2) == r.getLong(3) && r.getLong(2) > 0)
    assert(r.getLong(4) == 0L)
  }

  test("WKT POLYGON parses and drives ST_Contains/ST_Area") {
    init
    val r = QueryFacade.sql(spark,
      """SELECT
        stcontains(stgeogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
          stpoint(5.0, 5.0)) AS inside,
        stcontains(stgeogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
          stpoint(15.0, 5.0)) AS outside,
        starea(stgeogfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')) AS a
      """).collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getDouble(2) == 100.0)
  }

  test("HISTOGRAM aggregate returns equal-width bin counts") {
    init
    val r = QueryFacade.sql(spark,
      "SELECT HISTOGRAM(l_quantity, 0.0, 50.0, 5) AS h FROM lineitem")
      .collect().head.getSeq[Long](0)
    assert(r.length == 5)
    assert(r.sum > 5000) // nearly all of the 6000 sf0.001 rows fall in range
  }

  test("MV aggregates over array columns") {
    init
    val df = Seq((Seq(1.0, 2.0), 1), (Seq(3.0), 2)).toDF("mv", "id")
    df.createOrReplaceTempView("mvt")
    val r = QueryFacade.sql(spark,
      "SELECT COUNTMV(mv) AS c, SUMMV(mv) AS s, MAXMV(mv) AS mx FROM mvt")
      .collect().head
    assert(r.getAs[Long]("c") == 3L)
    assert(r.getAs[Double]("s") == 6.0)
    assert(r.getAs[Double]("mx") == 3.0)
  }

  test("MODE multi-mode reducers: MIN default, MAX reverse (double out)") {
    init
    Seq(1, 1, 3, 3, 2).toDF("v").createOrReplaceTempView("mode_in")
    val r = QueryFacade.sql(spark,
      "SELECT MODE(v) AS mn, MODE(v, 'MIN') AS mn2, MODE(v, 'MAX') AS mx FROM mode_in")
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0 && r.getDouble(2) == 3.0)
  }

  test("histogram: explicit-edges mode, last bin closed, both modes agree") {
    init
    Seq(0.5, 1.0, 4.9, 5.0, 9.9, 30.0, 51.0, 51.1).toDF("v")
      .createOrReplaceTempView("hist_in")
    // edges [1,5,10,30,51]: 0.5 and 51.1 dropped; {1.0, 4.9} -> bin0;
    // {5.0, 9.9} -> bin1; bin2 [10,30) empty; 30.0 -> bin3, and 51.0
    // hits the CLOSED last edge -> bin3.
    val edges = spark.sql(
      "SELECT histogram(v, array(1, 5, 10, 30, 51)) AS h FROM hist_in")
      .collect().head.getSeq[Long](0)
    assert(edges == Seq(2L, 2L, 0L, 2L))
    // equal-width histogram(v, 1, 51, 10): width 5 -> {1.0, 4.9, 5.0}
    // in [1,6); 51.0 closed into the last bin [46,51].
    val eq = spark.sql(
      "SELECT histogram(v, 1, 51, 10) AS h FROM hist_in")
      .collect().head.getSeq[Long](0)
    assert(eq.sum == 6L && eq.head == 3L && eq.last == 1L)
    intercept[Exception] {
      spark.sql("SELECT histogram(v, array(5, 5)) FROM hist_in").collect()
    }
  }

  test("idset/inidset: bloom blob has no false negatives via scalar subquery") {
    init
    val matched = spark.sql("""
      SELECT count(*) AS n FROM lineitem
      WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_partkey <= 20)
        AND NOT inidset(l_orderkey,
          (SELECT idset(l_orderkey) FROM lineitem WHERE l_partkey <= 20))""")
      .collect().head.getLong(0)
    assert(matched == 0L, "bloom id-set must match every true member")
  }

  test("EXPLAIN PLAN FOR returns the formatted physical plan") {
    QueryFacade.init(spark, sf)
    val plan = QueryFacade.sql(spark,
      "EXPLAIN PLAN FOR SELECT l_returnflag, SUM(l_quantity) FROM lineitem GROUP BY 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("Scan parquet"))
    val impl = QueryFacade.sql(spark,
      "EXPLAIN IMPLEMENTATION PLAN FOR SELECT COUNT(*) FROM lineitem")
      .collect().map(_.getString(0)).mkString("\n")
    assert(impl.contains("HashAggregate"), "IMPLEMENTATION form accepted")
  }

  test("built-in virtual columns $docId / $segmentName / $hostName") {
    QueryFacade.init(spark, sf)
    val rows = QueryFacade.sql(spark,
      "SELECT $docId AS d, $segmentName AS seg, $hostName AS h FROM region")
      .collect()
    assert(rows.nonEmpty)
    // doc ids are per-segment row indexes: (segment, docId) unique,
    // starting at 0 within each segment
    val pairs = rows.map(r => (r.getString(1), r.getLong(0)))
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.groupBy(_._1).values.forall(_.map(_._2).min == 0L))
    assert(rows.forall(_.getString(1).startsWith("partition-")))
    assert(rows.map(_.getString(2)).distinct.length == 1)
  }

  test("VECTOR_SIMILARITY rewrite: topk-then-filter, top-level tail split") {
    QueryFacade.init(spark, sf)
    val vec = (1.0 +: Seq.fill(63)(0.0)).mkString("ARRAY[", ", ", "]")
    // remaining conjunct applies AFTER the top-k (the reference's
    // default path): result must be a subset of the unfiltered top-5
    val top5 = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""")
      .collect().map(_.getLong(0)).toSet
    val filtered = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY(embedding, $vec, 5) AND vec_id % 2 = 0""")
      .collect().map(_.getLong(0)).toSet
    assert(filtered.subsetOf(top5))
    assert(filtered == top5.filter(_ % 2 == 0))
    // the predicate may sit at ANY top-level AND position — the
    // reorder pre-pass normalizes it to the front (same semantics:
    // index top-k first, siblings intersect after)
    val notFirst = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE vec_id % 2 = 0 AND VECTOR_SIMILARITY(embedding, $vec, 5)
          ORDER BY vec_id""")
      .collect().map(_.getLong(0)).toSet
    assert(notFirst == filtered, s"reorder mismatch: $notFirst vs $filtered")
    // a conjunct containing a subquery with ORDER BY/LIMIT must not
    // desync the tail split
    val sub = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY(embedding, $vec, 5)
            AND vec_id IN (SELECT vec_id FROM embeddings
                           ORDER BY vec_id LIMIT 1000)
          ORDER BY vec_id""")
      .collect().map(_.getLong(0)).toSet
    assert(sub == top5.filter(_ < 1000))
  }

  test("VECTOR_SIMILARITY_RADIUS rewrite + multi-occurrence + '_' boundary") {
    QueryFacade.init(spark, sf)
    val vec = (1.0 +: Seq.fill(63)(0.0)).mkString("ARRAY[", ", ", "]")
    // radius form = distance threshold (VectorRadiusFilterOperator
    // .java:239-241): every kept row is within cosine distance 0.8,
    // and the set equals the brute-force >= 0.2-similarity set
    val viaSql = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, 0.8)
            AND vec_id <> 0""")
      .collect().map(_.getLong(0)).toSet
    val brute = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE cosine_sim(embedding, cast($vec as array<double>)) >= 0.2
            AND vec_id <> 0""")
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == brute && viaSql.nonEmpty)
    // both branches of a UNION ALL are rewritten (multi-occurrence)
    val union = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY(embedding, $vec, 3)
          UNION ALL
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""")
      .collect()
    assert(union.length == 8)
    // string-level: '_' is an identifier char, not a keyword boundary
    val rw = QueryFacade.rewriteVectorSimilarity(
      "SELECT * FROM t WHERE VECTOR_SIMILARITY(v, ARRAY[1.0], 5) " +
        "AND my_limit > 2 ORDER BY id")
    assert(rw.contains("WHERE my_limit > 2 ORDER BY id"),
      s"identifier split mid-word: $rw")
    // backslash-escaped quote inside a literal does not desync the
    // quote tracker of the tail scanner
    val rw2 = QueryFacade.rewriteVectorSimilarity(
      "SELECT * FROM t WHERE VECTOR_SIMILARITY(v, ARRAY[1.0], 5) " +
        "AND name = 'o\\'brien limit' ORDER BY id")
    assert(rw2.contains("WHERE name = 'o\\'brien limit' ORDER BY id"),
      s"escaped quote desync: $rw2")
  }

  test("VECTOR_SIMILARITY served from a registered HNSW index") {
    QueryFacade.init(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id", "embedding")
    try {
      val vec = (1.0 +: Seq.fill(63)(0.0)).mkString("ARRAY[", ", ", "]")
      val df = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)
            ORDER BY vec_id""")
      val got = df.collect().map(_.getLong(0)).toSet
      // the index path collapses the predicate to an id IN-list that
      // PUSHES DOWN — the full-corpus cosine scan never runs
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(vec_id")),
        s"index ids not pushed:\n$plan")
      assert(!plan.contains("cosine_sim"), "brute-force path still present")
      // approximate per the index contract (the reference's configured-
      // index behavior): >= 4/5 overlap with the exact top-5
      val exact = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            ORDER BY cosine_sim(embedding, cast($vec as array<double>)) DESC,
              vec_id LIMIT 5""")
        .collect().map(_.getLong(0)).toSet
      assert(got.size == 5 && got.intersect(exact).size >= 4,
        s"recall too low: got=$got exact=$exact")
      // sibling conjuncts still apply AFTER the index candidates
      val even = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)
              AND vec_id % 2 = 0""")
        .collect().map(_.getLong(0)).toSet
      assert(even == got.filter(_ % 2 == 0))
      // RADIUS with an index: candidates filtered by the exact
      // threshold (VectorRadiusFilterOperator index-assisted path)
      val viaIdx = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, 0.8)""")
      val idxPlan = viaIdx.queryExecution.executedPlan.toString
      assert(idxPlan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(vec_id")),
        s"radius index ids not pushed:\n$idxPlan")
      val idxIds = viaIdx.collect().map(_.getLong(0)).toSet
      val bruteIds = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE cosine_sim(embedding, cast($vec as array<double>))
              >= 0.2""").collect().map(_.getLong(0)).toSet
      assert(bruteIds.nonEmpty &&
        idxIds.intersect(bruteIds).size >= (bruteIds.size * 9) / 10,
        s"radius recall too low: ${idxIds.size} vs ${bruteIds.size}")
      // a SATURATED candidate pool must fall back to the exact scan
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", internalLimit = 1)
      val sat = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, 0.8)""")
      assert(sat.collect().map(_.getLong(0)).toSet == bruteIds,
        "saturated radius did not fall back to the exact path")
    } finally QueryFacade.VectorIndexes.clear()
  }

  test("L2 radius: HNSW and IVF_FLAT index-served, IP/quantized refused") {
    QueryFacade.init(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vec = (1.0 +: Seq.fill(63)(0.0)).mkString("ARRAY[", ", ", "]")
    // exact in-radius set by plain double arithmetic (no rewrite fires
    // on a statement without the predicate spelling)
    def exact(thr: Double): Set[Long] = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE l2distance(embedding, cast($vec as array<double>))
            <= $thr""").collect().map(_.getLong(0)).toSet
    def radius(thr: Double): Set[Long] = QueryFacade.sql(spark,
      s"""SET explicitLimit = true;
          SELECT vec_id FROM embeddings
          WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, $thr)""")
      .collect().map(_.getLong(0)).toSet
    def mode: String = QueryFacade.VectorIndexes
      .lastMode("embeddings", "embedding").getOrElse("")
    try {
      val want = exact(1.23)
      assert(want.nonEmpty)
      // HNSW: graph radius reader on negated-distance scores
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", distanceFunction = "EUCLIDEAN")
      assert(radius(1.23) == want, "HNSW L2 radius diverged from exact")
      assert(mode == "ANN_THRESHOLD_SCAN", s"mode: $mode")
      // sibling conjunct reports the THEN_FILTER mode
      QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, 1.23)
              AND vec_id % 2 = 0""").collect()
      assert(mode == "ANN_THRESHOLD_THEN_FILTER", s"mode: $mode")
      // IVF_FLAT: complete triangle-inequality pruning
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", distanceFunction = "EUCLIDEAN",
        vectorIndexType = "IVF_FLAT")
      assert(radius(1.23) == want, "IVF_FLAT L2 radius diverged from exact")
      assert(mode == "ANN_THRESHOLD_SCAN", s"mode: $mode")
      // the exact-fallback rewrite is metric-aware too: an
      // out-of-reach threshold on a EUCLIDEAN registration means L2
      // semantics (everything within distance 99), not cosine
      assert(radius(99.0) == exact(99.0))
      // INNER_PRODUCT cannot promise a distance radius → EXACT_SCAN
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", distanceFunction = "INNER_PRODUCT")
      radius(0.8)
      assert(mode == "EXACT_SCAN", s"mode: $mode")
    } finally QueryFacade.VectorIndexes.clear()
  }

  test("vector execution modes: FILTER_THEN_ANN, rerank, mode reporting") {
    QueryFacade.init(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vec = (1.0 +: Seq.fill(63)(0.0)).mkString("ARRAY[", ", ", "]")
    def exactTopKWhere(cond: String, k: Int): Set[Long] =
      QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings WHERE $cond
            ORDER BY cosine_sim(embedding, cast($vec as array<double>)) DESC,
              vec_id LIMIT $k""").collect().map(_.getLong(0)).toSet
    try {
      // default registration: sibling filters intersect AFTER the ANN
      // candidates (ANN_THEN_FILTER) and the planner reports it
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding")
      QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)
              AND vec_id % 2 = 0""").collect()
      assert(QueryFacade.VectorIndexes.lastMode("embeddings", "embedding")
        .contains("ANN_THEN_FILTER"))
      QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""").collect()
      assert(QueryFacade.VectorIndexes.lastMode("embeddings", "embedding")
        .contains("ANN_TOP_K"))
      // FILTER_THEN_ANN opt-in: a SELECTIVE sibling filter flips the
      // plan to an exact search on the filtered subset — the top-k
      // AMONG survivors (VectorExecutionMode.java:61), which ANN-then-
      // intersect could only under-deliver
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", filterThenAnnLimit = 1000)
      val filtered = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)
              AND vec_id % 7 = 0""").collect().map(_.getLong(0)).toSet
      assert(QueryFacade.VectorIndexes.lastMode("embeddings", "embedding")
        .contains("FILTER_THEN_ANN"))
      assert(filtered == exactTopKWhere("vec_id % 7 = 0", 5),
        s"FILTER_THEN_ANN must return the exact top-5 among survivors")
      // ANN_TOP_K_WITH_RERANK: overfetch + exact re-score — for cosine
      // the reranked top-5 must equal the exact top-5
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", exactRerank = true)
      val reranked = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""")
        .collect().map(_.getLong(0)).toSet
      assert(QueryFacade.VectorIndexes.lastMode("embeddings", "embedding")
        .contains("ANN_TOP_K_WITH_RERANK"))
      assert(reranked == exactTopKWhere("TRUE", 5),
        s"rerank: $reranked vs ${exactTopKWhere("TRUE", 5)}")
    } finally QueryFacade.VectorIndexes.clear()
  }

  test("non-cosine distance functions flow from the index config") {
    QueryFacade.init(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vec = (0.5 +: Seq.fill(62)(0.1) :+ 2.0).mkString("ARRAY[", ", ", "]")
    try {
      // EUCLIDEAN index: the SQL predicate's top-k is by L2 distance
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", distanceFunction = "L2", exactRerank = true)
      val l2Got = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""")
        .collect().map(_.getLong(0)).toSet
      val l2Exact = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            ORDER BY l2distance(embedding, cast($vec as array<double>)) ASC,
              vec_id LIMIT 5""").collect().map(_.getLong(0)).toSet
      assert(l2Got == l2Exact, s"L2 index top-k: $l2Got vs exact $l2Exact")
      // DOT_PRODUCT index: ranked by raw inner product
      QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
        "embedding", distanceFunction = "DOT_PRODUCT", exactRerank = true)
      val dotGot = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""")
        .collect().map(_.getLong(0)).toSet
      val dotExact = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            ORDER BY innerproduct(embedding, cast($vec as array<double>)) DESC,
              vec_id LIMIT 5""").collect().map(_.getLong(0)).toSet
      assert(dotGot == dotExact, s"dot index top-k: $dotGot vs $dotExact")
      // IVF backends (VectorBackendType via vectorIndexType): the same
      // predicate served from cell-probed candidates. IVF_FLAT with
      // nprobe covering all cells + exact rerank is EXACT; IVF_PQ's
      // 4-bit ADC shortlist is lossy by design — same >= 3/5 floor as
      // q_ann_pq
      Seq("IVF_FLAT", "IVF_PQ").foreach { backend =>
        QueryFacade.VectorIndexes.register("embeddings", emb, "vec_id",
          "embedding", vectorIndexType = backend, nlist = 16,
          nprobe = 16, exactRerank = true)
        val got = QueryFacade.sql(spark,
          s"""SET explicitLimit = true;
              SELECT vec_id FROM embeddings
              WHERE VECTOR_SIMILARITY(embedding, $vec, 5)""")
          .collect().map(_.getLong(0)).toSet
        val exact = QueryFacade.sql(spark,
          s"""SET explicitLimit = true;
              SELECT vec_id FROM embeddings
              ORDER BY cosine_sim(embedding, cast($vec as array<double>))
                DESC, vec_id LIMIT 5""")
          .collect().map(_.getLong(0)).toSet
        if (backend == "IVF_FLAT")
          assert(got == exact, s"$backend full-probe top-5: $got vs $exact")
        else
          assert(got.size == 5 && got.intersect(exact).size >= 3,
            s"$backend recall: $got vs $exact")
        // radius predicates have no IVF reader — EXACT_SCAN fallback,
        // same answers as the brute path
        val radius = QueryFacade.sql(spark,
          s"""SET explicitLimit = true;
              SELECT vec_id FROM embeddings
              WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, 0.8)""")
          .collect().map(_.getLong(0)).toSet
        assert(QueryFacade.VectorIndexes.lastMode("embeddings", "embedding")
          .contains("EXACT_SCAN"))
        val radiusExact2 = QueryFacade.sql(spark,
          s"""SET explicitLimit = true;
              SELECT vec_id FROM embeddings
              WHERE cosine_sim(embedding, cast($vec as array<double>))
                >= 0.2""").collect().map(_.getLong(0)).toSet
        assert(radius == radiusExact2)
      }
      // a RADIUS predicate on a non-cosine index must keep the exact
      // cosine semantics (fall back), reported as EXACT_SCAN
      val radius = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE VECTOR_SIMILARITY_RADIUS(embedding, $vec, 0.8)""")
        .collect().map(_.getLong(0)).toSet
      assert(QueryFacade.VectorIndexes.lastMode("embeddings", "embedding")
        .contains("EXACT_SCAN"))
      val radiusExact = QueryFacade.sql(spark,
        s"""SET explicitLimit = true;
            SELECT vec_id FROM embeddings
            WHERE cosine_sim(embedding, cast($vec as array<double>)) >= 0.2""")
        .collect().map(_.getLong(0)).toSet
      assert(radius == radiusExact)
    } finally QueryFacade.VectorIndexes.clear()
  }

  test("JSON_MATCH SQL predicate compiles; shredded tables push down") {
    QueryFacade.init(spark, sf)
    // functional form over the raw JSON string
    val viaJm = QueryFacade.sql(spark,
      """SET explicitLimit = true;
         SELECT event_type, count(*) AS n FROM events
         WHERE JSON_MATCH(props, '"$.k" >= 50')
         GROUP BY event_type ORDER BY event_type""")
    val direct = QueryFacade.sql(spark,
      """SET explicitLimit = true;
         SELECT event_type, count(*) AS n FROM events
         WHERE cast(get_json_object(props, '$.k') as double) >= 50
         GROUP BY event_type ORDER BY event_type""")
    assert(viaJm.collect().toSeq == direct.collect().toSeq)
    // composed predicate with doubled-quote escapes and sibling filter
    val composed = QueryFacade.sql(spark,
      """SET explicitLimit = true;
         SELECT count(*) AS n FROM events
         WHERE JSON_MATCH(props, '("$.k" >= 90 OR "$.k" < 5)
           AND "$.k" IS NOT NULL') AND event_id % 2 = 0""")
      .collect().head.getLong(0)
    val composedDirect = QueryFacade.sql(spark,
      """SET explicitLimit = true;
         SELECT count(*) AS n FROM events
         WHERE (cast(get_json_object(props, '$.k') as double) >= 90
             OR cast(get_json_object(props, '$.k') as double) < 5)
           AND get_json_object(props, '$.k') IS NOT NULL
           AND event_id % 2 = 0""")
      .collect().head.getLong(0)
    assert(composed == composedDirect && composed > 0)
    // qualified column references keep their table prefix
    val joined = QueryFacade.sql(spark,
      """SET explicitLimit = true;
         SELECT count(*) AS n FROM events e
         JOIN events e2 ON e.event_id = e2.event_id
         WHERE JSON_MATCH(e.props, '"$.k" >= 95')""")
      .collect().head.getLong(0)
    val joinedDirect = QueryFacade.sql(spark,
      """SET explicitLimit = true;
         SELECT count(*) AS n FROM events
         WHERE cast(get_json_object(props, '$.k') as double) >= 95""")
      .collect().head.getLong(0)
    assert(joined == joinedDirect && joined > 0)
    // a string literal mentioning json_match stays verbatim
    val literalSafe = QueryFacade.sql(spark,
      "SET explicitLimit = true; SELECT 'json_match(a, b)' AS s")
      .collect().head.getString(0)
    assert(literalSafe == "json_match(a, b)")
    // a table registered with a shred spec resolves the path to the
    // typed column — the predicate reaches the scan
    val tmp = java.nio.file.Files.createTempDirectory("jm_sql").toString
    import org.apache.spark.sql.types.IntegerType
    try {
      val shredded = graft.sources.JsonShred.ingestShredded(spark,
        spark.table("events").select($"event_type", $"props"),
        s"$tmp/shred", "props", Seq("$.k" -> IntegerType))
      shredded.createOrReplaceTempView("events_shredded")
      graft.sources.JsonShred.registerTable("events_shredded", "props",
        Seq("$.k" -> IntegerType))
      val q = QueryFacade.sql(spark,
        """SET explicitLimit = true;
           SELECT count(*) AS n FROM events_shredded
           WHERE JSON_MATCH(props, '"$.k" >= 50')""")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("props__k")),
        s"shredded JSON_MATCH not pushed:\n$plan")
      assert(q.collect().head.getLong(0) ==
        direct.collect().map(_.getLong(1)).sum)
    } finally graft.sources.JsonShred.clear()
  }

  test("RLS filters: injected predicate pushes down; deny by default") {
    QueryFacade.init(spark, sf)
    // explicit SET rlsFilters-<table> (RlsFiltersRewriter.java option
    // path): same rows as writing the predicate by hand
    val rls = QueryFacade.sql(spark,
      "SET rlsFilters-nation = 'n_regionkey = 1'; SET explicitLimit = true; " +
        "SELECT count(*) AS n FROM nation")
    val direct = QueryFacade.sql(spark,
      "SET explicitLimit = true; " +
        "SELECT count(*) AS n FROM nation WHERE n_regionkey = 1")
    assert(rls.collect().head.getLong(0) == direct.collect().head.getLong(0))
    // composes with an existing WHERE, and the predicate reaches the
    // parquet scan (PushedFilters) — RLS must not defeat pushdown
    val q = QueryFacade.sql(spark,
      "SET rlsFilters-nation = 'n_regionkey = 1'; SET explicitLimit = true; " +
        "SELECT n_name FROM nation WHERE n_nationkey > 5")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"RLS predicate not pushed:\n$plan")
    val expect = QueryFacade.sql(spark,
      "SET explicitLimit = true; SELECT n_name FROM nation " +
        "WHERE n_regionkey = 1 AND n_nationkey > 5")
    assert(q.collect().map(_.getString(0)).sorted.toSeq ==
      expect.collect().map(_.getString(0)).sorted.toSeq)
    // aliased reference keeps its alias
    val aliased = QueryFacade.sql(spark,
      "SET rlsFilters-nation = 'n_regionkey = 1'; SET explicitLimit = true; " +
        "SELECT x.n_name FROM nation x ORDER BY x.n_name")
    assert(aliased.collect().length == direct.collect().head.getLong(0))
    // policy store: protected table DENIES a user with no grant
    QueryFacade.Rls.clear()
    QueryFacade.Rls.protect("nation")
    intercept[SecurityException] {
      QueryFacade.sqlAs(spark, "alice", "SELECT * FROM nation")
    }
    QueryFacade.Rls.grant("nation", "alice", "n_regionkey = 2")
    val granted = QueryFacade.sqlAs(spark, "alice",
      "SET explicitLimit = true; SELECT count(*) AS n FROM nation")
    val expect2 = QueryFacade.sql(spark,
      "SET explicitLimit = true; " +
        "SELECT count(*) AS n FROM nation WHERE n_regionkey = 2")
    assert(granted.collect().head.getLong(0) ==
      expect2.collect().head.getLong(0))
    // tables without policies stay open
    QueryFacade.sqlAs(spark, "bob",
      "SET explicitLimit = true; SELECT count(*) AS n FROM region").collect()
    // a granted filter containing a STRING LITERAL survives stamping
    // (options pass programmatically, not through SET quoting)
    QueryFacade.Rls.protect("region")
    QueryFacade.Rls.grant("region", "carol", "r_name = 'EUROPE'")
    val carol = QueryFacade.sqlAs(spark, "carol",
      "SET explicitLimit = true; SELECT count(*) AS n FROM region")
    assert(carol.collect().head.getLong(0) == 1L)
    // quoting/qualification cannot dodge the policy: the reference's
    // RlsFiltersRewriter resolves the table from the parsed data source
    // (a) backtick-quoted reference still gets the granted filter
    val quoted = QueryFacade.sqlAs(spark, "alice",
      "SET explicitLimit = true; SELECT count(*) AS n FROM `nation`")
    assert(quoted.collect().head.getLong(0) ==
      expect2.collect().head.getLong(0),
      "backtick-quoted reference must not bypass the RLS filter")
    // (b) backtick-quoted reference still deny-by-defaults an
    // unauthorized user
    intercept[SecurityException] {
      QueryFacade.sqlAs(spark, "mallory", "SELECT * FROM `nation`")
    }
    // (c) qualified reference the rewriter can't anchor fails CLOSED
    // (SecurityException), never serves unfiltered rows
    intercept[SecurityException] {
      QueryFacade.sqlAs(spark, "mallory", "SELECT * FROM db.nation")
    }
    QueryFacade.Rls.clear()
    // (d) SET-stamped filter on a quoted reference applies (the
    // non-policy-store path through applyRlsFilters)
    val setQuoted = QueryFacade.sql(spark,
      "SET rlsFilters-nation = 'n_regionkey = 1'; SET explicitLimit = true; " +
        "SELECT count(*) AS n FROM `nation` x")
    val setExpect = QueryFacade.sql(spark,
      "SET explicitLimit = true; " +
        "SELECT count(*) AS n FROM nation WHERE n_regionkey = 1")
    assert(setQuoted.collect().head.getLong(0) ==
      setExpect.collect().head.getLong(0))
  }

  test("virtual-column rewrite leaves string literals untouched") {
    def rw(s: String) = QueryFacade.rewriteVirtualCols(s)
    // single- and double-quoted literals keep their $names verbatim
    assert(rw("SELECT 'see $docId' AS a") == "SELECT 'see $docId' AS a")
    assert(rw("SELECT \"cost $hostName\" AS a") ==
      "SELECT \"cost $hostName\" AS a")
    // backslash-escaped quote inside the literal does not desync the
    // protected region
    assert(rw("SELECT 'it\\'s $docId' AS a, $segmentName AS s")
      == "SELECT 'it\\'s $docId' AS a, " +
        "concat('partition-', cast(spark_partition_id() as string)) AS s")
    // doubled-quote escapes, quoted identifiers and comments are
    // protected regions too
    for (q <- Seq("SELECT 'it''s $docId' AS a", "SELECT `$docId` FROM t",
        "SELECT 1 -- $hostName\nFROM t", "SELECT /* $segmentName */ 1"))
      assert(rw(q) == q)
    // outside literals the substitution still applies
    assert(rw("SELECT $docId AS d").contains("monotonically_increasing_id"))
  }

  test("user literals round-trip through QueryFacade.rewrite and sql") {
    init
    for (lit <- Seq("round(2.5)", "concat(a, b)", "mode(x)", "bit_and(1)",
        "x AS VARCHAR)", "1GROUP BY", "/*+ hint */")) {
      val q = s"SELECT '$lit' AS s FROM nation LIMIT 1"
      assert(QueryFacade.rewrite(spark, q) == q, lit)
      assert(QueryFacade.sql(spark, q).as[String].collect().toSeq == Seq(lit))
    }
  }

  test("no pass edits inside a literal, quoted identifier or comment") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    init
    // one trigger per text pass (and per rewrite inside rewriteReserved)
    val triggers = Seq("round(2.5)", "AS VARCHAR)", "1GROUP BY",
      "/*+ x */", "$docId", "json_match(props, '\"$.k\" = 1')",
      "vector_similarity(e, array(1.0), 3)", "ORDER BY n_name",
      "datetrunc('DAY', ts)", "listagg(n_name, ',')", "concat(a, b)",
      "mode(x)", "bit_and(1)", "dateadd('day', 1, ts)", "ARRAY[1, 2]",
      "U&'d\\0061ta'", "BETWEEN SYMMETRIC a AND b", "CAST(x AS DECIMAL)",
      "to_timestamp(ts)", "row_number() over ()", "from nation",
      "FROM a ASOF JOIN b MATCH_CONDITION(a.t >= b.t) ON a.k = b.k",
      "n_nationkey = n_name", "exprmin(n_name, n_nationkey)",
      "clpMatch(msg, '*x*')", "mapValue(m, 'k')", "text_match(c, 'x')",
      "regexp_like(n_name, 'x')", "n_name LIKE 'x%'",
      "ST_Distance(ST_Point(lng, lat), ST_Point(1.0, 2.0)) < 5",
      "distinctcountthetasketch(x, '', 'a', 'b', 'SET_UNION($1,$2)')",
      "jsonextractscalar(props, '$.k', 'INT', null)")
    val regions: Seq[String => String] = Seq(
      t => "'it''s " + t.replace("'", "''") + "'",
      t => "'it\\'s " + t.replace("'", "\\'") + "'",
      t => "\"" + t.replace("\"", "\\\"") + "\"",
      t => "`" + t.replace("`", "``") + "`",
      t => "-- " + t + "\n",
      t => "/* " + t + " */")
    val hosts = Seq(
      "SELECT @ AS s FROM nation",
      "SELECT n_name FROM nation WHERE n_name <> @",
      "SET enableNullHandling = true; SELECT n_name, @ FROM nation " +
        "ORDER BY n_name",
      "SET rlsFilters-nation = 'n_regionkey = 1'; SELECT @ FROM nation")
    // each case: one trigger, one host, the trigger in every region kind
    val prop = Prop.forAllNoShrink(Gen.oneOf(triggers), Gen.oneOf(hosts)) {
      (t, host) => Prop.all(regions.map { r =>
        val region = r(t)
        val out = QueryFacade.rewrite(spark, host.replace("@", region))
        val kept = graft.sql.SqlLexer.lex(out).regions
          .map(x => out.substring(x.start, x.end))
        Prop(kept.contains(region.stripSuffix("\n"))) :| s"$region in $out"
      }: _*)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status)
  }

  test("every reference function name resolves except the ledgered three") {
    // tools/ref_fn_names.txt: the names of apache/pinot's
    // TransformFunctionType, AggregationFunctionType and @ScalarFunction
    // surface, one a line
    val names = scala.io.Source.fromFile("tools/ref_fn_names.txt")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    val reg = spark.sessionState.functionRegistry
    val unresolved = names.filterNot(n => reg.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n))).toSet
    val ledger = Map(
      "case" -> "SQL syntax (CASE WHEN), not a callable function",
      "scalar" -> "SQL syntax (scalar subquery marker), not a callable function",
      "groovy" -> "runs arbitrary code; excluded by design")
    assert(names.size == 663)
    assert(unresolved == ledger.keySet)
  }
}
