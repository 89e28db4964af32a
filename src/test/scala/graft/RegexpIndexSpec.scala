package graft

import org.apache.spark.sql.functions._

import graft.sources.RegexpIndex

/** Value-dictionary regexp/LIKE index (FST analog): the facade rewrite
  * is EXACT — identical answers to the per-row scan in every boolean
  * context including NOT and NULL inputs — and falls back to the scan
  * whenever ownership or selectivity can't be proven. */
class RegexpIndexSpec extends SparkSpec {

  private lazy val t = Tables(spark, sf)

  private def rewrite(stmt: String): String =
    graft.sql.QueryFacade.rewriteRegexpIndexed(spark, stmt)

  test("REGEXP_LIKE rewrites to an exact IN-list that matches the scan") {
    graft.sql.QueryFacade.init(spark, sf)
    RegexpIndex.register("part", t.part, "p_type")
    try {
      val served = graft.sql.QueryFacade.sql(spark,
        "SET explicitLimit = true; SELECT p_partkey FROM part " +
          "WHERE REGEXP_LIKE(p_type, '^(STAND|ECON)') ORDER BY p_partkey")
      assert(served.queryExecution.executedPlan.toString
        .linesIterator.exists(l => l.contains("PushedFilters") &&
          (l.contains("In(p_type") || l.contains("EqualTo(p_type"))),
        "dictionary IN-list did not push into the scan")
      val expect = t.part.filter(col("p_type").rlike("^(STAND|ECON)"))
        .select("p_partkey").collect().map(_.getLong(0)).sorted.toSeq
      assert(served.collect().map(_.getLong(0)).toSeq == expect)
      assert(expect.nonEmpty)
      // the 3-arg case-insensitive form resolves on the dictionary too
      val ci = graft.sql.QueryFacade.sql(spark,
        "SET explicitLimit = true; SELECT count(*) AS n FROM part " +
          "WHERE REGEXP_LIKE(p_type, '^(stand|econ)', 'i')")
      assert(ci.collect().head.getLong(0) == expect.size)
    } finally RegexpIndex.clear()
  }

  test("NULL semantics survive NOT and the degenerate all/none cases") {
    import spark.implicits._
    val df = Seq(Some("alpha"), Some("beta"), Some("gamma"), None)
      .toDF("v")
    df.createOrReplaceTempView("nulltab")
    RegexpIndex.register("nulltab", df, "v")
    try {
      def answers(stmt: String): Seq[Seq[Any]] = {
        val served = graft.sql.QueryFacade.sql(spark,
          s"SET explicitLimit = true; $stmt")
        val scan = spark.sql(stmt)
        val a = served.collect().map(_.toSeq).toSeq
        assert(a == scan.collect().map(_.toSeq).toSeq, stmt)
        a
      }
      // NOT over a served leaf must filter the NULL row exactly as the
      // engine does (IN is NULL for NULL input, like LIKE/REGEXP_LIKE)
      assert(answers(
        "SELECT v FROM nulltab WHERE v NOT LIKE 'alpha%' ORDER BY v")
        .map(_.head) == Seq("beta", "gamma"))
      // alwaysFalse: no dictionary value matches — NULL row must not
      // resurface under NOT
      assert(answers(
        "SELECT v FROM nulltab WHERE REGEXP_LIKE(v, 'zzz')").isEmpty)
      assert(answers(
        "SELECT v FROM nulltab WHERE NOT REGEXP_LIKE(v, 'zzz') ORDER BY v")
        .map(_.head) == Seq("alpha", "beta", "gamma"))
      // alwaysTrue: every value matches — NULL row still excluded
      assert(answers(
        "SELECT v FROM nulltab WHERE REGEXP_LIKE(v, '.') ORDER BY v")
        .map(_.head) == Seq("alpha", "beta", "gamma"))
      assert(answers(
        "SELECT v FROM nulltab WHERE NOT REGEXP_LIKE(v, '.')").isEmpty)
    } finally RegexpIndex.clear()
  }

  test("large exact sets serve as a distributed semi-join") {
    import spark.implicits._
    val big = spark.range(30000)
      .select(concat(lit("val_"), format_string("%06d", col("id")))
        .as("s"), col("id"))
    big.createOrReplaceTempView("bigdict")
    RegexpIndex.register("bigdict", big, "s")
    try {
      // > MaxInList matching values (all 30k match 'val_') but the
      // dictionary is join-sized → semi-join path, still exact
      val stmt = rewrite(
        "SELECT count(*) AS n FROM bigdict WHERE REGEXP_LIKE(s, '^val_0[01]')")
      val served = graft.sql.QueryFacade.sql(spark,
        "SET explicitLimit = true; " +
          "SELECT count(*) AS n FROM bigdict WHERE REGEXP_LIKE(s, '^val_0[01]')")
      assert(served.collect().head.getLong(0) == 20000L)
      assert(stmt.contains("IN (SELECT value FROM"),
        s"expected semi-join emission: $stmt")
    } finally RegexpIndex.clear()
  }

  test("fallback: unregistered columns, unparseable shapes, ESCAPE") {
    graft.sql.QueryFacade.init(spark, sf)
    RegexpIndex.register("part", t.part, "p_type")
    try {
      // unregistered column keeps the scan
      val other = rewrite(
        "SELECT 1 FROM part WHERE REGEXP_LIKE(p_name, 'x')")
      assert(other.contains("REGEXP_LIKE(p_name"))
      // LIKE with an ESCAPE clause is not served (converter would need
      // the custom escape semantics)
      val esc = rewrite(
        "SELECT 1 FROM part WHERE p_type LIKE '%X!%%' ESCAPE '!'")
      assert(esc.contains("LIKE"))
      // a literal containing the call shape is untouched
      val lit0 = rewrite(
        "SELECT 'REGEXP_LIKE(p_type, ''a'')' AS s FROM part")
      assert(lit0.contains("'REGEXP_LIKE(p_type, ''a'')'"))
    } finally RegexpIndex.clear()
  }

  test("unescapeSqlLiteral mirrors Spark's lexer byte-for-byte") {
    // The dictionary path must hand LIKE/regex the SAME string the
    // scan path's lexer produces; any divergence is wrong rows. Gate
    // empirically: round-trip a corpus through spark.sql.
    val corpus = Seq(
      """'plain'""",
      """'a\%b'""", """'a\_b'""", """'100\%'""",
      """'tab\there'""", """'nl\nhere'""", """'cr\rhere'""",
      """'bs\bhere'""", """'ff\fhere'""", """'sub\Zhere'""",
      """'oct\101here'""", """'octal\377'""",
      "'uni\\u0041x'", "'badhex\\uzzzz'",
      """'quote''inside'""", """'mix\\%\\_'""", """'back\\slash'""",
      """'dot\.star\*'""", """'\0nul'""", """'\7seven'""", """'\42x'""")
    for (q <- corpus) {
      val viaSpark = spark.sql(s"SELECT $q AS v").head.getString(0)
      val viaGraft = graft.sql.SqlLexer.unescapeSqlLiteral(q)
      assert(viaGraft == viaSpark,
        s"$q: graft=${viaGraft.map(_.toInt).mkString(",")}" +
          s" spark=${viaSpark.map(_.toInt).mkString(",")}")
    }
  }

  test("escaped LIKE wildcards stay literal on the dictionary path") {
    import spark.implicits._
    // values containing literal % and _ -- an unescaped-\% bug turns
    // the escape into a wildcard and over-matches as an exact IN-list
    val df = Seq("100%", "100x", "1000", "a_b", "axb", "a%b").toDF("v")
    df.createOrReplaceTempView("esctab")
    RegexpIndex.register("esctab", df, "v")
    try {
      def answers(stmt: String): Set[String] = {
        val served = graft.sql.QueryFacade.sql(spark,
          s"SET explicitLimit = true; $stmt")
        val scan = spark.sql(stmt)
        val a = served.collect().map(_.getString(0)).toSet
        assert(a == scan.collect().map(_.getString(0)).toSet, stmt)
        a
      }
      assert(answers("""SELECT v FROM esctab WHERE v LIKE '100\%'""") ==
        Set("100%"))
      assert(answers("""SELECT v FROM esctab WHERE v LIKE 'a\_b'""") ==
        Set("a_b"))
      assert(answers("""SELECT v FROM esctab WHERE v LIKE '100%'""") ==
        Set("100%", "100x", "1000"))
      assert(answers("""SELECT v FROM esctab WHERE v LIKE 'a_b'""") ==
        Set("a_b", "axb", "a%b"))
    } finally RegexpIndex.clear()
  }
}
