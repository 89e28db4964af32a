package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.col
import graft.Tables
import graft.functions.PinotFunctions

/** Pinot-compatible SQL front door.
  *
  * Mirrors the reference's broker entry semantics
  * (`BaseSingleStageBrokerRequestHandler.java:349`,
  * `CalciteSqlParser.compileToSqlNodeAndOptions` — leading
  * `SET key=value;` option statements, and the implicit `LIMIT 10`
  * default from `pinot-common/src/thrift/query.thrift:29`) on top of
  * `spark.sql`. Everything after the text rewrite is stock Catalyst —
  * parse/analyze/optimize/AQE replace the broker/server scatter-gather.
  *
  * [[rewrite]] turns a Pinot query into the text `spark.sql` runs:
  * options are parsed off, then the passes of [[Passes]] run in this
  * order — rlsFilters, timestampIndex, stripHints, reserved (lexical
  * forms, virtual columns and the colliding-name renames), asOf,
  * jsonMatch, mvDistinct, listAggMv, typeSafeCompare, exprMinMax, clp,
  * thetaSetOps, orderBySelectExpr, mapValueShredded, geoIndexed,
  * regexpIndexed, textMatchIndexed, reorderVectorSimilarity,
  * vectorSimilarityIndexed, vectorSimilarity — and last the
  * enableNullHandling choice between rewriteNullOrdering and
  * rewriteJsonNullDefault. Every pass matches on the [[SqlLexer]] mask,
  * in which string literals (`'…'`, `"…"`), quoted identifiers
  * (`` `…` ``) and comments (`--`, `/* */`, hints) are blanked, and
  * splices by offset: no pass edits inside those regions. Only
  * stripHints removes hint comments, whole.
  */
object QueryFacade {

  /** Pinot's default result limit (query.thrift:29). */
  val DefaultLimit = 10

  final case class Parsed(options: Map[String, String], sql: String)

  // key charset includes '-' for the reference's RLS option keys
  // (`RlsUtils.buildRlsFilterKey`: "rlsFilters-<table>")
  private val SetPattern = """(?is)^\s*SET\s+([\w-]+)\s*=\s*('[^']*'|"[^"]*"|\S+?)\s*;""".r

  private val OptionSuffix = """(?is)\s+OPTION\s*\(([^)]*)\)\s*$""".r

  /** Strip leading `SET k = v;` statements and a trailing
    * `OPTION(k=v, ...)` clause (both Pinot query-option syntaxes). */
  def parseOptions(query: String): Parsed = {
    var rest = query
    var opts = Map.empty[String, String]
    var matched = true
    while (matched) {
      SetPattern.findFirstMatchIn(rest) match {
        case Some(m) =>
          opts += (m.group(1).toLowerCase -> m.group(2).stripPrefix("'")
            .stripSuffix("'").stripPrefix("\"").stripSuffix("\""))
          rest = rest.substring(m.end)
        case None => matched = false
      }
    }
    OptionSuffix.findFirstMatchIn(rest).foreach { m =>
      m.group(1).split(',').foreach { kv =>
        kv.split('=') match {
          case Array(k, v) => opts += (k.trim.toLowerCase -> v.trim)
          case _ =>
        }
      }
      rest = rest.substring(0, m.start)
    }
    Parsed(opts, rest.trim)
  }

  /** Does the plan already bound its result set at the top level?
    * (Walks the unary spine — Sort/Project/CTE wrappers — like the
    * reference checks its PinotQuery.limit field.) */
  private def hasTopLevelLimit(plan: LogicalPlan): Boolean = plan match {
    case _: GlobalLimit | _: LocalLimit => true
    case p: Project => hasTopLevelLimit(p.child)
    case s: Sort => hasTopLevelLimit(s.child)
    case d: Distinct => hasTopLevelLimit(d.child)
    case w: WithCTE => hasTopLevelLimit(w.plan)
    case u: UnresolvedWith => hasTopLevelLimit(u.child)
    case s: SubqueryAlias => hasTopLevelLimit(s.child)
    case _ => false
  }

  /** Register the Pinot function surface + the testdata tables. */
  def init(spark: SparkSession, dir: String): Unit = {
    PinotFunctions.registerAll(spark)
    Tables(spark, dir).registerAll()
  }

  /** Pinot spells dateAdd/timestampAdd with a QUOTED unit
    * (`DateTimeFunctions.java:1126` — `timestampAdd('days', 10, x)`
    * over epoch millis); Spark's parser grabs those names at the
    * grammar level and rejects string-literal units. Rewrite to the
    * registered epoch variants so the Pinot spelling works unchanged. */
  private val ReservedDateFn =
    """(?i)\b(dateadd|datediff|timestampadd|timestampdiff)\s*\(\s*'""".r

  /** MODE collides with a Spark builtin of different semantics (long
    * out, arbitrary tie) — route to the reference-compliant aggregate
    * (double out, MultiModeReducerType tie handling). */
  private val ModeFn = """(?i)\bmode\s*\(""".r

  /** CONCAT is separator-LAST in Pinot when 3 args
    * (`scalar/string/StringFunctions.java:33`) — route to
    * `pinotconcat`. The lookbehind keeps `concat_ws`, `group_concat`
    * and `arrayConcat…` untouched (no '(' directly after "concat"). */
  private val ConcatFn = """(?i)(?<![a-z0-9_])concat\s*\(""".r

  /** Pinot's 2-arg bitwise SCALARS spelled with underscores collide
    * with Spark's 1-arg bitwise AGGREGATES (`bit_and` etc.), so the
    * underscore-stripping resolution rule cannot retarget them —
    * rewrite the spelling directly (Pinot has no bit_and aggregate). */
  private val BitScalarFn = """(?i)\bbit_(and|or|xor)\s*\(""".r

  /** Pinot allows ROW_NUMBER() over an unordered window
    * (`RowNumberWindowFunction.java` — arbitrary tie order); Spark
    * requires ORDER BY, so supply a constant ordering (same arbitrary
    * semantics). */
  private val UnorderedRowNumber =
    """(?i)\brow_number\s*\(\s*\)\s+over\s*\(([^()]*)\)""".r

  /** More Pinot-vs-Spark semantic collisions routed to reference-
    * compliant registrations: PERCENTILE is 0-100 floor-index (Spark's
    * is 0-1 interpolated), SUBSTR is 0-based with an end index (Spark's
    * is 1-based with a length), SKEWNESS/KURTOSIS are sample statistics
    * (Spark's are population), DIV is double division (Spark's builtin
    * is integer division). Lookbehind/lookahead keep derived names
    * (percentile_est, percentileest, substring, intdiv, …) untouched. */
  private val CollidingFns =
    """(?i)(?<![a-z0-9_])(percentile|substr|skewness|kurtosis|round|div)\s*\(""".r

  /** Pinot `TO_TIMESTAMP(millis)` (`DateTimeFunctions.java` toTimestamp)
    * collides with Spark's builtin `to_timestamp(string|seconds)` —
    * which silently lands millis in year ~52971. Route to the
    * reference-compliant registration (caught by the
    * TimestampQueriesTest gold replay). */
  private val ToTimestampFn =
    """(?i)(?<![a-z0-9_])to_timestamp\s*\(""".r

  /** Calcite's lexer splits a numeric literal from a following keyword
    * without whitespace (`1.75GROUP BY` parses); Spark's does not. */
  private val NumKeyword = """(?i)(\d)(GROUP\s+BY|ORDER\s+BY|LIMIT\b)""".r

  /** SQL-standard Unicode string literals `U&'d\0061ta'` (Calcite
    * lexical structure; default escape char `\` + 4 hex digits).
    * Spark has no U& syntax — decode to a plain literal. */
  private val UnicodeEscape = """\\([0-9a-fA-F]{4})""".r

  /** Calcite array constructor `ARRAY [1, 2]`; Spark spells it
    * `array(1, 2)`. */
  private val ArrayBracket = """(?i)\barray\s*\[([^\[\]]*)\]""".r

  private[graft] def rewriteLexical(stmt: String): String = {
    val lexed = SqlLexer.lex(stmt)
    // U& prefixes a single-quoted literal region
    val u = SqlLexer.splice(stmt, lexed.regions.collect {
      case r if r.kind == SqlLexer.Str && r.closed && r.start >= 2 &&
          SqlLexer.singleQuoted(stmt.substring(r.start, r.end)) &&
          stmt.regionMatches(true, r.start - 2, "U&", 0, 2) =>
        val decoded = UnicodeEscape.replaceAllIn(
          stmt.substring(r.start + 1, r.end - 1), e =>
            java.util.regex.Matcher.quoteReplacement(
              Integer.parseInt(e.group(1), 16).toChar.toString))
        (r.start - 2, r.end, s"'$decoded'")
    })
    rewriteVirtualCols(SqlLexer.replaceAll(u, ArrayBracket)(m =>
      s"array(${m.group(1)})"))
  }

  /** Built-in virtual columns (`CommonConstants.Segment
    * .BuiltInVirtualColumn`: $docId, $hostName, $segmentName — the
    * reference materializes them per segment). Segment ≙ input
    * partition here: $docId is the row index within its partition
    * (the low 33 bits of monotonically_increasing_id), $segmentName
    * names the partition, $hostName is this host (single JVM —
    * executors would substitute their own). The reference resolves
    * them as identifiers, so text inside literals, quoted identifiers
    * and comments stays as written. */
  private lazy val localHost =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "localhost" }
  private val VirtualCol = """(?i)\$(docId|segmentName|hostName)\b""".r
  private[graft] def rewriteVirtualCols(stmt: String): String =
    if (!stmt.contains("$")) stmt
    else SqlLexer.replaceAll(stmt, VirtualCol)(_.group(1).toLowerCase match {
      case "docid" => "(monotonically_increasing_id() & 8589934591)"
      case "segmentname" =>
        "concat('partition-', cast(spark_partition_id() as string))"
      case _ => s"'$localHost'"
    })

  /** Pinot CAST target types Spark spells differently
    * (`DataTypeConversionFunctions.java` cast surface). */
  private val CastTypes =
    """(?i)\bAS\s+(BIG_DECIMAL|VARCHAR|BYTES)\s*\)""".r

  /** `CAST(x AS BIG_DECIMAL)` with a simple operand → the unbounded
    * `bigdecimal(x)` scalar (reference BIG_DECIMAL has no 38-digit
    * cap); nested-paren operands fall through to the DECIMAL(38,18)
    * approximation below. */
  private val CastBigDecimal =
    """(?i)\bCAST\s*\(([^()]+?)\s+AS\s+(?:BIG_)?DECIMAL\s*\)""".r

  /** The lexical and colliding-name rewrites, in order. Each runs on
    * the mask, so names inside literals, quoted identifiers and
    * comments stay as written. */
  private[graft] def rewriteReserved(stmt: String): String = {
    def sub(re: scala.util.matching.Regex)(f: SqlLexer.Hit => String)
        : String => String = SqlLexer.replaceAll(_, re)(f)
    Seq[String => String](
      rewriteLexical,
      sub(ReservedDateFn)(m =>
        if (m.group(1).toLowerCase.endsWith("diff")) "dateDiffEpoch('"
        else "dateAddEpoch('"),
      sub(ModeFn)(_ => "pinotmode("),
      sub(NumKeyword)(m => s"${m.group(1)} ${m.group(2)}"),
      sub(BetweenSymmetric) { m =>
        val (a, b) = (m.group(1), m.group(2))
        s"BETWEEN least($a, $b) AND greatest($a, $b)"
      },
      rewriteExcludeWindows,
      sub(CastBigDecimal)(m => s"bigdecimal(${m.group(1)})"),
      sub(CastTypes)(_.group(1).toUpperCase match {
        case "BIG_DECIMAL" => "AS DECIMAL(38,18))"
        case "VARCHAR" => "AS STRING)"
        case _ => "AS BINARY)"
      }),
      sub(CollidingFns)(m => s"pinot${m.group(1).toLowerCase}("),
      sub(ToTimestampFn)(_ => "totimestamp("),
      sub(ConcatFn)(_ => "pinotconcat("),
      sub(BitScalarFn)(m => s"bit${m.group(1).toLowerCase}("),
      sub(UnorderedRowNumber) { m =>
        val spec = m.group(1)
        if (m.masked(1).toLowerCase.contains("order by")) m.matched
        else {
          val sep = if (spec.trim.isEmpty) "" else spec.trim + " "
          s"row_number() OVER ($sep ORDER BY 'arbitrary')"
        }
      }
    ).foldLeft(stmt)((s, pass) => pass(s))
  }

  /** Pinot hint comments (slash-star-plus `aggOptions(k='v')` blocks,
    * `PinotHintOptions.java`) carry key='value' pairs Spark's hint
    * grammar rejects; they are execution hints with no semantic
    * content, so the facade drops them. */
  private[graft] def stripHints(stmt: String): String =
    SqlLexer.splice(stmt, SqlLexer.lex(stmt).regions.collect {
      case r if r.kind == SqlLexer.Hint && r.closed => (r.start, r.end, " ")
    })

  /** `BETWEEN SYMMETRIC a AND b` (Calcite): bounds in either order. */
  private val BetweenSymmetric =
    """(?i)\bBETWEEN\s+SYMMETRIC\s+(\w+(?:\.\w+)?)\s+AND\s+(\w+(?:\.\w+)?)""".r

  /** Window frame EXCLUDE clause (`WindowAggregateOperator` supports
    * SQL:2003 frame exclusion; Spark's grammar does not). SUM/COUNT/AVG
    * are rewritten to frame-aggregate minus excluded-part — current row
    * (`COALESCE(expr, 0)` / null-aware count) and/or the ORDER-BY peer
    * group (a `RANGE CURRENT ROW` window). MIN/MAX/value functions are
    * not subtraction-decomposable and stay unsupported. */
  private val ExcludeWindow =
    ("""(?i)\b(SUM|COUNT|AVG)\s*\(\s*(\*|[^()]*?)\s*\)\s*OVER\s*\(""" +
      """([^()]*?)\s+EXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*\)""").r

  /** EXCLUDE on non-decomposable window functions (MIN/MAX/FIRST_VALUE/
    * LAST_VALUE), full-partition ROWS frame only. MIN/MAX EXCLUDE
    * GROUP/TIES collect the partition into an array and filter out the
    * ORDER-BY peer group per row (quadratic in partition size — EXCLUDE
    * is a rarity; documented trade-off), FIRST/LAST_VALUE variants use
    * row_number/nth_value arithmetic. Shapes outside this surface are
    * left unrewritten and fail with the same parse error as before. */
  private val ExcludeWindowV =
    ("""(?i)\b(MIN|MAX|FIRST_VALUE|LAST_VALUE)\s*\(\s*([^()]*?)\s*\)\s*OVER\s*\(""" +
      """([^()]*?)\s+EXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*\)""").r

  private val OrderKeys = """(?i)\bORDER\s+BY\s+(.*?)\s*$""".r
  private val FullFrame =
    """(?i)ROWS\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+UNBOUNDED\s+FOLLOWING\s*$""".r

  private def rewriteExcludeValueFns(stmt: String): String =
    SqlLexer.replaceAll(stmt, ExcludeWindowV) { m =>
      val fn = m.group(1).toUpperCase
      val x = m.group(2).trim
      val spec = m.group(3).trim
      val mode = m.group(4).toUpperCase.replaceAll("\\s+", " ")
      val w = s"OVER ($spec)"
      val po = spec.split("(?i)\\b(ROWS|RANGE)\\b")(0).trim
      // single ORDER BY key (peer identity), direction keywords stripped
      val oKey: Option[String] = OrderKeys.findFirstMatchIn(po).flatMap { om =>
        val keys = om.group(1).split(",").map(
          _.trim.replaceAll("(?i)\\s+(ASC|DESC)\\b", "")
            .replaceAll("(?i)\\s+NULLS\\s+(FIRST|LAST)\\b", "").trim)
        if (keys.length == 1) Some(keys.head) else None
      }
      val full = FullFrame.findFirstIn(spec).isDefined
      def minMax(asc: Boolean): Option[String] = mode match {
        case "GROUP" | "TIES" => oKey.map { o =>
          val amin = if (asc) "array_min" else "array_max"
          val others = s"$amin(transform(filter(collect_list(" +
            s"named_struct('k', $o, 'v', $x)) $w, s -> NOT(s.k <=> $o)), s -> s.v))"
          if (mode == "GROUP") others
          else if (asc) s"least($others, $x)" else s"greatest($others, $x)"
        }
        case "CURRENT ROW" =>
          val sorted = s"sort_array(collect_list($x) $w${if (asc) "" else ", false"})"
          Some(s"(CASE WHEN try_element_at($sorted, 1) <=> $x " +
            s"THEN try_element_at($sorted, 2) ELSE try_element_at($sorted, 1) END)")
        case _ => None
      }
      val res: Option[String] =
        if (mode == "NO OTHERS") Some(s"$fn($x) $w")
        else if (!full) None
        else fn match {
          case "MIN" => minMax(asc = true)
          case "MAX" => minMax(asc = false)
          case "FIRST_VALUE" => mode match {
            case "CURRENT ROW" =>
              Some(s"(CASE WHEN ROW_NUMBER() OVER ($po) = 1 " +
                s"THEN NTH_VALUE($x, 2) $w ELSE FIRST_VALUE($x) $w END)")
            case "TIES" => oKey.map(o =>
              s"(CASE WHEN $o <=> (FIRST_VALUE($o) $w) THEN $x " +
                s"ELSE FIRST_VALUE($x) $w END)")
            case _ => None
          }
          case "LAST_VALUE" => mode match {
            case "TIES" => oKey.map(o =>
              s"(CASE WHEN $o <=> (LAST_VALUE($o) $w) THEN $x " +
                s"ELSE LAST_VALUE($x) $w END)")
            case _ => None
          }
          case _ => None
        }
      res.getOrElse(m.matched)
    }

  private[graft] def rewriteExcludeWindows(stmt0: String): String = {
    val stmt = rewriteExcludeValueFns(stmt0)
    SqlLexer.replaceAll(stmt, ExcludeWindow) { m =>
      val agg = m.group(1).toUpperCase
      val e = m.group(2).trim
      val spec = m.group(3).trim
      val mode = m.group(4).toUpperCase.replaceAll("\\s+", " ")
      // partition/order prefix of the spec, without the frame clause
      val po = spec.split("(?i)\\b(ROWS|RANGE)\\b")(0).trim
      val peers = s"OVER ($po RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
      val whole = s"OVER ($spec)"
      def sum(w: String) = s"COALESCE(SUM($e) $w, 0)"
      def cnt(w: String) =
        if (e == "*") s"COUNT(*) $w"
        else s"COUNT($e) $w"
      def curSum = if (e == "*") "0" else s"COALESCE($e, 0)"
      def curCnt = if (e == "*") "1" else s"(CASE WHEN $e IS NULL THEN 0 ELSE 1 END)"
      // SUM over an empty remaining set must be NULL, not 0
      def sumOrNull(total: String, remaining: String) =
        s"(CASE WHEN $remaining = 0 THEN NULL ELSE $total END)"
      (agg, mode) match {
        case (_, "NO OTHERS") => s"$agg($e) $whole"
        case ("SUM", "CURRENT ROW") =>
          sumOrNull(s"${sum(whole)} - $curSum", s"${cnt(whole)} - $curCnt")
        case ("SUM", "GROUP") =>
          sumOrNull(s"${sum(whole)} - ${sum(peers)}", s"${cnt(whole)} - ${cnt(peers)}")
        case ("SUM", "TIES") =>
          sumOrNull(s"${sum(whole)} - ${sum(peers)} + $curSum",
            s"${cnt(whole)} - ${cnt(peers)} + $curCnt")
        case ("COUNT", "CURRENT ROW") => s"(${cnt(whole)} - $curCnt)"
        case ("COUNT", "GROUP") => s"(${cnt(whole)} - ${cnt(peers)})"
        case ("COUNT", "TIES") => s"(${cnt(whole)} - ${cnt(peers)} + $curCnt)"
        case ("AVG", excl) =>
          val (s2, c2) = excl match {
            case "CURRENT ROW" =>
              (s"(${sum(whole)} - $curSum)", s"(${cnt(whole)} - $curCnt)")
            case "GROUP" =>
              (s"(${sum(whole)} - ${sum(peers)})", s"(${cnt(whole)} - ${cnt(peers)})")
            case _ =>
              (s"(${sum(whole)} - ${sum(peers)} + $curSum)",
                s"(${cnt(whole)} - ${cnt(peers)} + $curCnt)")
          }
          s"(CASE WHEN $c2 = 0 THEN NULL ELSE CAST($s2 AS DOUBLE) / $c2 END)"
        case _ => m.matched
      }
    }
  }

  /** Pinot ASOF JOIN SQL surface (`AsofJoinOperator.java:37`,
    * match conditions `>=,>,<=,<` at `:137-163`, ASOF + LEFT ASOF only):
    * `FROM l [LEFT] ASOF JOIN r MATCH_CONDITION(l.x OP r.y) ON cond`
    * picks, per left row, the single best matching right row (max right
    * match-key for `>`/`>=`, min for `<`/`<=`). Spark has no ASOF
    * grammar; rewrite to a correlated LATERAL subquery with
    * ORDER BY + LIMIT 1 — Catalyst plans it as a join. (For the
    * shuffle-optimal bulk path use `graft.operators.AsOfJoin`.)
    * Shapes the reference itself rejects (compound/equality match
    * conditions, missing ON) are left unrewritten so they surface the
    * same way. */
  private val AsOfPattern =
    """(?is)\bFROM\s+(\S+)\s+(LEFT\s+)?ASOF\s+JOIN\s+(\S+)\s+MATCH_CONDITION\s*\(([^()]*)\)(\s+ON\s+(.*?))?\s*;?\s*$""".r
  private val CmpOp = """(>=|<=|>|<)""".r

  private[graft] def rewriteAsOf(stmt: String): String = {
    // table names may be quoted identifiers: match on the mask that
    // keeps them readable
    val lexed = SqlLexer.lex(stmt)
    val m = AsOfPattern.findAllMatchIn(lexed.identMask)
      .find(m => !lexed.inIdent(m.start)).getOrElse(return stmt)
    def group(i: Int) = stmt.substring(m.start(i), m.end(i))
    val left = group(1)
    val isLeft = m.group(2) != null
    val right = group(3)
    val (mcMask, mc) = (m.group(4), group(4))
    val on = Option(m.group(6)).map(_ => group(6).trim).getOrElse(return stmt)
    if ((mcMask.toUpperCase.contains(" AND ") || mcMask.toUpperCase.contains(" OR ")) ||
        mcMask.contains("!=")) return stmt
    val ops = CmpOp.findAllMatchIn(mcMask).toSeq
    if (ops.size != 1) return stmt
    val op = ops.head
    val lhs = mc.substring(0, op.start).trim
    val rhs = mc.substring(op.end).trim
    def refsRight(e: String) = e.toLowerCase.contains(right.toLowerCase + ".")
    val (rexpr, effOp) =
      if (refsRight(rhs) && !refsRight(lhs)) (rhs, op.matched)
      else if (refsRight(lhs) && !refsRight(rhs))
        (lhs, op.matched match {
          case ">" => "<"; case ">=" => "<="; case "<" => ">"; case _ => ">="
        })
      else return stmt
    val dir = if (effOp == ">" || effOp == ">=") "DESC" else "ASC"
    val joinKw = if (isLeft) "LEFT OUTER JOIN LATERAL" else "JOIN LATERAL"
    val onKw = if (isLeft) " ON TRUE" else ""
    stmt.substring(0, m.start) +
      s"FROM $left $joinKw (SELECT * FROM $right WHERE ($on) AND (${mc.trim}) " +
      s"ORDER BY $rexpr $dir LIMIT 1) $right$onKw"
  }

  // ---- Row-level security ----
  // Reference: `sql/parsers/rewriter/RlsFiltersRewriter.java` — the
  // broker stamps per-table filter predicates into query options under
  // `rlsFilters-<table>` (RlsUtils.buildRlsFilterKey) and the rewriter
  // ANDs them into the WHERE clause. Here each option's table reference
  // is substituted with a filtered subquery — the same semantics,
  // robust to missing WHERE clauses, aliases, and multiple references —
  // and the predicate lands directly above the scan, so Catalyst pushes
  // it into the parquet read (PushedFilters, gated in the spec).

  private val SqlKeywords = Set("where", "group", "order", "limit",
    "having", "on", "join", "left", "right", "full", "inner", "outer",
    "cross", "union", "intersect", "except", "as", "using", "and", "or",
    "semi", "anti", "lateral", "tablesample", "set", "option")

  /** Tables referenced by `stmt`, resolved from a real parse
    * (UnresolvedRelation collection, subqueries included), normalized to
    * the lowercase base name with quoting/qualification stripped — the
    * role `RlsFiltersRewriter.java`'s data-source resolution plays, so
    * backtick quoting or catalog qualification cannot dodge a policy.
    * None when the statement doesn't parse as plain Spark SQL (facade
    * dialect pre-rewrites); callers must then fall back conservatively. */
  private[graft] def referencedTables(spark: SparkSession,
      stmt: String): Option[Set[String]] =
    try {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
      val plan = spark.sessionState.sqlParser.parsePlan(stmt)
      Some(plan.collectWithSubqueries {
        case r: UnresolvedRelation => r.multipartIdentifier.last.toLowerCase
      }.toSet)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Conservative fallback when the statement doesn't parse: any
    * identifier-shaped mention of the table counts as a reference.
    * Over-approximates (deny-by-default may fire on a literal), never
    * under-approximates (no quoting bypass). */
  private def mentionsTableToken(stmt: String, table: String): Boolean = {
    val q = java.util.regex.Pattern.quote(table)
    (s"(?is)(?:\\b$q\\b|`$q`)").r.findFirstIn(stmt).isDefined
  }

  private[graft] def applyRlsFilters(spark: SparkSession,
      stmt: String, opts: Map[String, String]): String = {
    val rlsOpts = opts.toSeq.collect {
      case (k, pred) if k.startsWith("rlsfilters-") && pred.nonEmpty =>
        (k.stripPrefix("rlsfilters-"), pred)
    }
    if (rlsOpts.isEmpty) return stmt
    lazy val parsed = referencedTables(spark, stmt)
    rlsOpts.foldLeft(stmt) { case (s, (table, pred)) =>
      val (out, n) = injectRlsFilter(s, table, pred)
      if (n == 0) {
        // fail closed: a stamped filter the rewriter could not anchor to
        // any reference must not silently serve unfiltered rows when the
        // parser says the table IS read by this statement
        val referenced = parsed match {
          case Some(ts) => ts.contains(table)
          case None => mentionsTableToken(s, table)
        }
        if (referenced) throw new SecurityException(
          s"RLS: row filter for protected table '$table' could not be " +
            "applied to this statement shape (fail closed)")
      }
      out
    }
  }

  /** Wraps every `FROM`/`JOIN` reference to `table` — bare,
    * backtick-quoted, or catalog/db-qualified — in a filtered subquery.
    * Returns the rewritten statement and the number of references
    * wrapped (0 lets the caller fail closed). */
  private def injectRlsFilter(stmt: String, table: String,
      pred: String): (String, Int) = {
    val q = java.util.regex.Pattern.quote(table)
    val ref = s"(?:(?:`[^`]+`|[A-Za-z_]\\w*)\\s*\\.\\s*)*(?:`$q`|$q\\b)"
    val pat = ("""(?is)\b(from|join)\s+(""" + ref +
      """)(\s+(?:as\s+)?([A-Za-z_]\w*|`[^`]+`))?""").r
    var n = 0
    // table references may be quoted identifiers: keep them readable
    val out = SqlLexer.replaceAll(stmt, pat, idents = true) { m =>
      val kw = m.group(1)
      val orig = m.group(2)
      val alias = Option(m.group(4)).filterNot(a =>
        SqlKeywords(a.stripPrefix("`").stripSuffix("`").toLowerCase))
      val as = alias.getOrElse(table)
      n += 1
      s"$kw (SELECT * FROM $orig WHERE $pred) $as" +
        (if (alias.isEmpty && m.group(3) != null) m.group(3) else "")
    }
    (out, n)
  }

  /** Facade-side RLS policy store — the role the broker's access
    * control plays when it stamps `rlsFilters-*` options onto the
    * request. A protected table DENIES BY DEFAULT: a user with no
    * granted filter cannot query it at all. */
  object Rls {
    private val policies =
      new java.util.concurrent.ConcurrentHashMap[String,
        Map[String, String]]()

    /** Mark `table` RLS-protected with no grants yet (deny everyone). */
    def protect(table: String): Unit =
      policies.putIfAbsent(table.toLowerCase, Map.empty)

    def grant(table: String, user: String, filterSql: String): Unit =
      policies.compute(table.toLowerCase, (_, cur) =>
        Option(cur).getOrElse(Map.empty) + (user -> filterSql))

    def clear(): Unit = policies.clear()

    /** The option map the broker would stamp for `user`; throws if the
      * statement references a protected table the user has no grant
      * for (deny-by-default). */
    private[graft] def optionsFor(spark: SparkSession, user: String,
        stmt: String): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      // resolve references from a real parse (quoting/qualification
      // can't bypass the policy); an unparseable facade-dialect
      // statement over-approximates via identifier-token scan —
      // over-denial is safe, under-detection would leak rows
      lazy val parsed = referencedTables(spark, stmt)
      policies.asScala.flatMap { case (table, grants) =>
        val referenced = parsed match {
          case Some(ts) => ts.contains(table)
          case None => mentionsTableToken(stmt, table)
        }
        if (!referenced) None
        else grants.get(user) match {
          case Some(f) => Some(s"rlsfilters-$table" -> f)
          case None => throw new SecurityException(
            s"RLS: user '$user' has no row filter for protected " +
              s"table '$table' (deny by default)")
        }
      }.toMap
    }
  }

  /** Run a query as `user`: RLS options are stamped from the policy
    * store (the broker's access-control role) and then applied by the
    * rewriter exactly as explicit SET rlsFilters-* options would be. */
  def sqlAs(spark: SparkSession, user: String, query: String): DataFrame = {
    val Parsed(_, stmt) = parseOptions(query)
    // stamped options pass programmatically — a granted filter may
    // contain string literals that SET quoting would mangle
    sqlWithExtraOptions(spark, query, Rls.optionsFor(spark, user, stmt))
  }

  // ---- vector-index-served VECTOR_SIMILARITY ----
  // The reference's filter operator consults the table's vector index
  // when one is configured (`VectorSimilarityFilterOperator.java:69`:
  // index → candidate doc-id bitmap → sibling predicates after) and
  // brute-forces otherwise. Analog: an opt-in registry of ingest-built
  // HNSW models per (table, vectorColumn); a registered predicate is
  // answered by the graph search and becomes an id IN-list — which
  // PUSHES DOWN into the scan, so the full-corpus cosine scan never
  // runs. Unregistered tables keep the exact ORDER-BY rewrite below.
  object VectorIndexes {
    /** `VectorSimilarityRadiusPredicate.DEFAULT_INTERNAL_LIMIT` — the
      * ANN candidate cap before exact distance filtering. */
    val DefaultInternalLimit = 100000

    final case class Entry(idCol: String, vecCol: String,
        backend: String,
        model: Option[graft.operators.HnswIndex.Model],
        ivf: Option[graft.operators.IvfIndex.Model],
        pq: Option[graft.operators.PqIndex.Model],
        corpus: DataFrame,
        numDocs: Long, internalLimit: Int,
        distance: graft.operators.VectorDistance.Metric,
        exactRerank: Boolean,
        filterThenAnnLimit: Int,
        nprobe: Int)

    private val reg = new java.util.concurrent.ConcurrentHashMap[
      (String, String), Entry]()
    // the planner "reports [the chosen mode] in explain/debug output"
    // (VectorExecutionMode.java:26) — per (table, vecCol), last query
    private val modes = new java.util.concurrent.ConcurrentHashMap[
      (String, String), String]()

    /** Build (memoized via IndexCache) + register an HNSW index for
      * `table`.`vecCol`; `idCol` is the doc-id the IN-list filters.
      * `distanceFunction` is the reference's
      * `VectorIndexConfig.vectorDistanceFunction` (COSINE,
      * INNER_PRODUCT, EUCLIDEAN, DOT_PRODUCT, L2); `exactRerank`
      * enables ANN_TOP_K_WITH_RERANK (overfetch + exact re-score from
      * the forward index); `filterThenAnnLimit` > 0 opts into
      * FILTER_THEN_ANN — when the sibling metadata filter keeps at most
      * that many survivors, the plan flips to an exact search on the
      * filtered subset (top-k AMONG the survivors, the mode's semantics
      * per VectorExecutionMode.java:61 — deliberately different from
      * the default ANN-then-intersect result, so it is opt-in exactly
      * as the reference gates modes on index config). */
    /** `vectorIndexType` is the reference's backend selector
      * (`VectorBackendType` via `VectorIndexConfig.resolveBackendType`,
      * defaulting to HNSW): HNSW (graph), IVF_FLAT (coarse cells +
      * exact in-cell re-rank), IVF_PQ (cells + product-quantized ADC
      * shortlist + exact re-rank). IVF `nlist` defaults to ~√n (the
      * FAISS rule); `nprobe` cells are probed per query. */
    def register(table: String, corpus: DataFrame, idCol: String,
        vecCol: String, m: Int = 16, efConstruction: Int = 100,
        nShards: Int = 8,
        internalLimit: Int = DefaultInternalLimit,
        distanceFunction: String = "COSINE",
        exactRerank: Boolean = false,
        filterThenAnnLimit: Int = 0,
        vectorIndexType: String = "HNSW",
        nlist: Int = 0,
        nprobe: Int = 8): Unit = {
      val metric = graft.operators.VectorDistance.fromName(distanceFunction)
      val n = corpus.count()
      val backend = vectorIndexType.trim.toUpperCase match {
        case "" | "HNSW" => "HNSW"
        case t @ ("IVF_FLAT" | "IVF_PQ") => t
        case other => throw new IllegalArgumentException(
          s"unknown vectorIndexType '$other' (HNSW, IVF_FLAT, IVF_PQ)")
      }
      val cells =
        if (nlist > 0) nlist
        else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val entry = backend match {
        case "HNSW" =>
          Entry(idCol, vecCol, backend,
            Some(graft.operators.HnswIndex.build(
              corpus, idCol, vecCol, m, efConstruction, nShards, metric)),
            None, None, corpus, n, internalLimit, metric, exactRerank,
            filterThenAnnLimit, nprobe)
        case "IVF_FLAT" =>
          Entry(idCol, vecCol, backend, None,
            Some(graft.operators.IvfIndex.build(corpus, idCol, vecCol,
              cells)),
            None, corpus, n, internalLimit, metric, exactRerank,
            filterThenAnnLimit, nprobe)
        case "IVF_PQ" =>
          Entry(idCol, vecCol, backend, None,
            Some(graft.operators.IvfIndex.build(corpus, idCol, vecCol,
              cells)),
            Some(graft.operators.PqIndex.build(corpus, idCol, vecCol,
              metric = metric)),
            corpus, n, internalLimit, metric, exactRerank,
            filterThenAnnLimit, nprobe)
      }
      reg.put((table.toLowerCase, vecCol.toLowerCase), entry)
    }

    def clear(): Unit = { reg.clear(); modes.clear() }

    private[graft] def lookup(table: String, vecCol: String): Option[Entry] =
      Option(reg.get((table.toLowerCase, vecCol.toLowerCase)))

    private[graft] def recordMode(table: String, vecCol: String,
        mode: String): Unit =
      modes.put((table.toLowerCase, vecCol.toLowerCase), mode)

    /** The `VectorExecutionMode` the planner chose for the last query
      * against this (table, vector column). */
    def lastMode(table: String, vecCol: String): Option[String] =
      Option(modes.get((table.toLowerCase, vecCol.toLowerCase)))
  }

  /** Literal vector of numbers → floats; None for anything else
    * (expressions fall back to the exact rewrite). Accepts both the
    * source form `ARRAY[...]` and the post-rewriteLexical form
    * `array(...)` (this pass runs after the lexical rewrite in the
    * facade chain). */
  private def parseVectorLiteral(vec: String): Option[Array[Float]] = {
    val t = vec.trim
    val u = t.toUpperCase
    val body =
      if (u.startsWith("ARRAY[") && t.endsWith("]"))
        t.substring(6, t.length - 1)
      else if (u.startsWith("ARRAY(") && t.endsWith(")"))
        t.substring(6, t.length - 1)
      else return None
    try Some(body.split(",").map(_.trim.toFloat))
    catch { case _: NumberFormatException => None }
  }

  /** The `AND <conjuncts>` immediately following a WHERE-leading
    * predicate, up to the first top-level clause terminator — the
    * sibling metadata filter the vector execution modes reason about. */
  private def leadingConjuncts(tail: String): Option[String] = {
    val m = """(?is)^\s*AND\s+""".r.findFirstMatchIn(tail)
      .getOrElse(return None)
    val rest = tail.substring(m.end)
    val s = rest.substring(0,
      SqlLexer.clauseEnd(SqlLexer.mask(rest), 0, ConjunctsEnd)).trim
    if (s.isEmpty) None else Some(s)
  }
  private val ConjunctsEnd = (SqlLexer.ClauseTail.regex + "|;").r

  /** Index-served rewrite pass: runs before the text-only rewrite and
    * handles occurrences whose (table, column) has a registered index
    * and a literal probe vector; the predicate collapses to
    * `idCol IN (top-k ids)`. Approximate per the index contract — the
    * reference's behavior when a vector index is configured. */
  private[graft] def rewriteVectorSimilarityIndexed(
      spark: SparkSession, stmt: String): String = {
    val (m, close, args) = vsimCall(stmt).getOrElse(return stmt)
    val isRadius = m.group(3) != null
    val table = m.group(2)
    // the probe vector may be `array(...)` after the lexical rewrite,
    // or `ARRAY[...]`
    if (close < 0 || args.length != 3) return stmt
    val Seq(vcol, vec, kStr) = args
    val entry = VectorIndexes.lookup(table, vcol).getOrElse(return stmt)
    val probe = parseVectorLiteral(vec).getOrElse(return stmt)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => fcol, array => farr,
      lit => flit, desc => fdesc, asc => fasc, expr => fexpr}
    val probeDf = Seq((0L, probe.toSeq)).toDF("pid", "pvec")
    val probeLit = farr(probe.map(v => flit(v.toDouble)): _*)
    // sibling metadata-filter conjuncts after the call (the reorder
    // pre-pass anchors the call first in WHERE) — the planner input
    // for FILTER_THEN_ANN / *_THEN_FILTER mode selection
    val sibling = leadingConjuncts(stmt.substring(close + 1))
      .filterNot(_.toLowerCase.contains("vector_similarity"))
    def mode(m: String): Unit = VectorIndexes.recordMode(table, vcol, m)
    val ids: Array[Long] =
      if (isRadius) {
        // VectorRadiusFilterOperator.executeIndexAssistedSearch with
        // the approximate-radius reader path
        // (ApproximateRadiusVectorIndexReader): the graph expands only
        // within the similarity threshold (exact sims — no separate
        // distance re-check needed), capped at internalLimit; a
        // SATURATED candidate pool falls back to the exact scan —
        // "a radius predicate must return ALL matching docs, not a
        // truncated subset"
        val threshold =
          try kStr.trim.toDouble
          catch { case _: NumberFormatException => return stmt }
        // the threshold is metric-scaled (cosine DISTANCE for COSINE,
        // meters-of-displacement L2 DISTANCE for EUCLIDEAN — both
        // "smaller = closer", matching VectorRadiusFilterOperator's
        // distance-threshold contract). Serveable combinations:
        //   COSINE + HNSW      — graph radius reader (score ≥ 1−t)
        //   EUCLIDEAN + HNSW   — same reader, score ≥ −t (negated dist)
        //   EUCLIDEAN + IVF_FLAT (unquantized) — COMPLETE
        //     triangle-inequality cell pruning (IvfIndex.searchRadiusL2)
        // anything else honestly refuses (EXACT_SCAN).
        import graft.operators.VectorDistance.{Cosine, Euclidean}
        val hits: Array[Long] = (entry.distance, entry.backend) match {
          case (Cosine, "HNSW") | (Euclidean, "HNSW") =>
            val minSim =
              if (entry.distance == Cosine) 1.0 - threshold
              else -threshold
            val cands = graft.operators.HnswIndex.searchRadiusWithStatus(
              entry.model.get, probeDf, "pid", "pvec",
              minSim = minSim,
              limitPerShard = entry.internalLimit)
              .select(fcol("neighbor_id"), fcol("exhausted")).collect()
            // fall back to the exact rewrite unless EVERY shard drained
            // its frontier: a patience- or cap-terminated expansion may
            // have missed in-radius docs, and "a radius predicate must
            // return ALL matching docs, not a truncated subset"
            if (cands.exists(!_.getBoolean(1))) {
              mode("EXACT_SCAN"); return stmt
            }
            cands.filter(!_.isNullAt(0)).map(_.getLong(0))
          case (Euclidean, "IVF_FLAT")
              if entry.ivf.exists(_.quant.isEmpty) =>
            // complete by construction — no exhaustion signal to check
            graft.operators.IvfIndex.searchRadiusL2(entry.ivf.get,
              probeDf, "pid", "pvec", threshold)
              .select(fcol("neighbor_id"))
              .limit(entry.internalLimit + 1)
              .collect().map(_.getLong(0))
          case _ =>
            mode("EXACT_SCAN")
            return stmt
        }
        if (hits.length >= entry.internalLimit) {
          mode("EXACT_SCAN")
          return stmt // saturated
        }
        mode(if (sibling.isDefined) "ANN_THRESHOLD_THEN_FILTER"
             else "ANN_THRESHOLD_SCAN")
        hits
      } else {
        val k =
          try kStr.trim.toInt
          catch { case _: NumberFormatException => return stmt }
        def exactTopK(base: DataFrame): Array[Long] =
          base.withColumn("__score",
              entry.distance.score(fcol(entry.vecCol), probeLit))
            .orderBy(fdesc("__score"), fasc(entry.idCol))
            .limit(k).select(fcol(entry.idCol).cast("long"))
            .collect().map(_.getLong(0))
        // FILTER_THEN_ANN (VectorExecutionMode.java:61), opt-in via
        // filterThenAnnLimit: when the sibling filter is selective
        // (bounded survivor count), search the FILTERED subset exactly —
        // no ANN recall loss, and the work is proportional to the
        // survivors, not the corpus
        val filterFirst: Option[Array[Long]] =
          if (entry.filterThenAnnLimit <= 0) None
          else sibling.flatMap { cond =>
            try {
              val survivors = entry.corpus.filter(fexpr(cond))
              val n = survivors.limit(entry.filterThenAnnLimit + 1).count()
              if (n <= entry.filterThenAnnLimit) Some(exactTopK(survivors))
              else None
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        // backend-dispatched ANN candidates (VectorBackendType): the
        // IVF paths use a probe id OUTSIDE the corpus id space (-1) so
        // their in-corpus self-exclusion never drops a legitimate
        // neighbor of the synthetic probe row
        // both IVF readers take the probe vector under the CORPUS
        // column name
        def ivfProbe: DataFrame = probeDf.select(flit(-1L).as("pid"),
          fcol("pvec").as(entry.vecCol))
        def annIds(kk: Int): Array[Long] = entry.backend match {
          case "IVF_FLAT" =>
            graft.operators.IvfIndex.search(entry.ivf.get, ivfProbe,
              "pid", entry.vecCol, kk, nprobe = entry.nprobe,
              metric = entry.distance)
              .select(fcol("neighbor_id")).collect().map(_.getLong(0))
          case "IVF_PQ" =>
            graft.operators.PqIndex.searchIvfPq(entry.ivf.get,
              entry.pq.get, entry.corpus, entry.idCol, entry.vecCol,
              ivfProbe, "pid", kk, nprobe = entry.nprobe)
              .select(fcol("neighbor_id")).collect().map(_.getLong(0))
          case _ =>
            graft.operators.HnswIndex.search(entry.model.get, probeDf,
              "pid", "pvec", kk, ef = math.max(64, 4 * kk),
              excludeSelf = false)
              .select(fcol("neighbor_id")).collect().map(_.getLong(0))
        }
        filterFirst match {
          case Some(found) =>
            mode("FILTER_THEN_ANN")
            found
          case None if entry.exactRerank =>
            // ANN overfetch + exact re-score from the forward index
            // (ANN_TOP_K_WITH_RERANK / ANN_THEN_FILTER_THEN_RERANK)
            val cand = annIds(math.max(4 * k, k + 16))
            mode(if (sibling.isDefined) "ANN_THEN_FILTER_THEN_RERANK"
                 else "ANN_TOP_K_WITH_RERANK")
            exactTopK(entry.corpus.filter(
              fcol(entry.idCol).isin(cand.map(Long.box): _*)))
          case None =>
            mode(if (sibling.isDefined) "ANN_THEN_FILTER" else "ANN_TOP_K")
            annIds(k)
        }
      }
    val inList =
      if (ids.isEmpty) s"${entry.idCol} IS NULL AND FALSE"
      else s"${entry.idCol} IN (${ids.mkString(", ")})"
    rewriteVectorSimilarityIndexed(spark,
      stmt.substring(0, m.end(1)) + s"($inList)" + stmt.substring(close + 1))
  }

  // ---- text-index-served TEXT_MATCH ----
  // The reference serves TEXT_MATCH from a per-segment Lucene index
  // (`TextMatchFilterOperator.java:38`) when one is configured and
  // scans otherwise. Analog: [[graft.sources.TextIndex]] registers an
  // ingest-built token-posting layout per (table, textColumn); a
  // registered predicate resolves to a candidate doc-id set
  // (dictionary walk + posting lookups) and rewrites to
  // `idCol IN (ids) AND text_match(col, 'q')` — the IN-list pushes
  // into the scan (row-group pruning on the id), the kept predicate
  // re-verifies only the pruned rows so results NEVER change (the
  // reference's operator also re-checks candidates against the
  // forward index). Unbounded candidates (> internalLimit) or
  // unindexable query shapes keep the exact scan.
  private val TextMatchCall =
    """(?is)\btext_match\s*\(\s*(\w+(?:\.\w+)?)\s*,\s*('(?:[^']|'')*')\s*\)""".r

  /** Alias → table bindings from the parsed plan: `SubqueryAlias` over
    * a relation binds the alias, a bare relation binds its own name —
    * the multi-source resolution `RlsFiltersRewriter`-style parsing
    * enables (round-6 RLS pattern). None when the statement doesn't
    * parse as plain Spark SQL. */
  private[graft] def relationAliases(spark: SparkSession,
      stmt: String): Option[Map[String, String]] =
    try {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
      import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
      val plan = spark.sessionState.sqlParser.parsePlan(stmt)
      val out = scala.collection.mutable.Map[String, String]()
      plan.foreachWithSubqueries {
        case SubqueryAlias(id, r: UnresolvedRelation) =>
          out(id.name.toLowerCase) = r.multipartIdentifier.last.toLowerCase
        case r: UnresolvedRelation =>
          val t = r.multipartIdentifier.last.toLowerCase
          if (!out.contains(t)) out(t) = t
        case _ => ()
      }
      Some(out.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Which referenced table owns `colRef`, for index-rewrite passes
    * that must not serve a predicate from the WRONG table's index.
    * Returns (table, alias-to-qualify-emissions-with). Resolution:
    *   - qualified `alias.col` → the alias's relation, exactly;
    *   - single-relation statement → that relation;
    *   - unqualified in a join → the ONE referenced table whose schema
    *     has the column, provided EVERY referenced table's schema is
    *     resolvable (an unknown schema could hide the same column —
    *     fall back rather than guess; Spark's analyzer enforces the
    *     same uniqueness for the query itself to run). */
  private[graft] def columnOwner(spark: SparkSession, stmt: String,
      colRef: String): Option[(String, Option[String])] = {
    val aliases = relationAliases(spark, stmt).getOrElse(return None)
    if (aliases.isEmpty) return None
    val dot = colRef.lastIndexOf('.')
    if (dot >= 0) {
      val prefix = colRef.substring(0, dot).toLowerCase
      aliases.get(prefix).map(t => (t, Some(prefix)))
    } else if (aliases.values.toSet.size == 1) {
      Some((aliases.values.head, None))
    } else {
      val bare = colRef.toLowerCase
      // the alias map holds both alias→table and table→table rows;
      // uniqueness is over distinct TABLES, emission picks any alias
      val schemas = aliases.values.toSet.toSeq.map { (t: String) =>
        (t, try Some(spark.table(t).columns.map(_.toLowerCase).toSet)
            catch { case scala.util.control.NonFatal(_) => None })
      }
      if (schemas.exists(_._2.isEmpty)) None
      else schemas.filter(_._2.exists(_.contains(bare))) match {
        case Seq((t, _)) =>
          Some((t, aliases.collectFirst { case (a, `t`) => a }))
        case _ => None
      }
    }
  }
  /** Literal IN-lists above this size stop paying for their parse/plan
    * cost; an EXACT candidate set that large serves as a distributed
    * semi-join against a temp view instead (no driver transfer at all). */
  private val MaxTextInList = 10000
  // Candidate views are keyed by CONTENT hash (table, column, query):
  // the same statement re-run reuses one view whose contents are
  // identical (deterministic candidate plan), so replace is harmless,
  // and a long-lived session holds at most one view per DISTINCT
  // text query instead of one per execution. Beyond the cap the
  // eldest is dropped — safe unless >MaxTextCandViews distinct text
  // queries are simultaneously in flight between rewrite and run.
  private val MaxTextCandViews = 256
  private val textCandViews =
    new java.util.LinkedHashMap[String, String]()

  private def textCandViewName(spark: SparkSession, table: String,
      col: String, query: String): String = textCandViews.synchronized {
    // collision-resistant key: a 32-bit hashCode collides around 2^16
    // in-flight distinct queries (birthday bound) and a collision
    // silently serves the WRONG candidate set; SHA-256 over a
    // length-unambiguous encoding cannot. 24 hex chars = 96 bits,
    // still far beyond any realistic view population.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val enc = java.nio.charset.StandardCharsets.UTF_8
    Seq(table, col, query).foreach { s =>
      val b = s.getBytes(enc)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    val key = md.digest().take(12).map("%02x".format(_)).mkString
    val view = s"graft_text_cands_$key"
    textCandViews.remove(view)
    textCandViews.put(view, view)
    if (textCandViews.size > MaxTextCandViews) {
      val it = textCandViews.keySet.iterator
      val eldest = it.next(); it.remove()
      try { spark.catalog.dropTempView(eldest) }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    view
  }

  // ---- mapValue served from the shredded per-key layout ----
  // The reference's map index family (MapKeyIndexReader.java,
  // ImmutableMapDataSource.java) serves `mapValue(col,'k')` predicates
  // from per-KEY indexes. Analog: [[graft.sources.MapShred]] shreds
  // dense keys to typed top-level columns at ingest; a registered
  // (table, mapCol, key) rewrites the call to the shredded column, so
  // comparisons land in PushedFilters (min/max + dictionary pruning).
  // Unregistered keys keep the `element_at` fallback that
  // PinotFunctions gives the bare call.
  private val MapValueCall =
    """(?i)\bmapValue\s*\(\s*(\w+(?:\.\w+)?)\s*,\s*'((?:[^']|'')*)'\s*\)""".r

  private[graft] def rewriteMapValueShredded(spark: SparkSession,
      stmt: String): String = {
    if (!stmt.toLowerCase.contains("mapvalue")) return stmt
    SqlLexer.replaceAll(stmt, MapValueCall) { m =>
      val colRef = m.group(1)
      val bare = colRef.substring(colRef.lastIndexOf('.') + 1)
      val key = m.group(2).replace("''", "'")
      val served: Option[String] =
        try columnOwner(spark, stmt, colRef).flatMap { case (table, qual) =>
          graft.sources.MapShred.tableSpec(table).collect {
            case s if s.mapCol.equalsIgnoreCase(bare) && s.keys(key) =>
              val shredCol = graft.sources.MapShred.colNameFor(bare, key)
              qual.map(q => s"$q.$shredCol").getOrElse(shredCol)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      served.getOrElse(m.matched)
    }
  }

  private[graft] def rewriteTextMatchIndexed(spark: SparkSession,
      stmt: String): String = {
    if (!stmt.toLowerCase.contains("text_match")) return stmt
    SqlLexer.replaceAll(stmt, TextMatchCall) { m =>
      val colRef = m.group(1)
      val bare = colRef.substring(colRef.lastIndexOf('.') + 1)
      // the column's CONFIGURED analyzer rides the registration
      // (TextIndexUtils.getAnalyzer with per-column override): the
      // candidate resolution analyzes with it, and any scan-side
      // re-check must carry it as the 3-arg options literal or the
      // re-verify would run the DEFAULT analyzer instead
      def optsSuffix(entry: graft.sources.TextIndex.Entry): String =
        if (entry.optionsArg.isEmpty) ""
        else s", '${entry.optionsArg.replace("'", "''")}'"
      var fallbackRewrite: Option[String] = None
      val served: Option[String] =
        try {
          // ownership must be PROVEN, not guessed: with joins, a
          // column-name match against the WRONG table's index would
          // under-deliver even with the re-verify (the IN-list prunes
          // rows the verify never sees). columnOwner resolves the
          // qualified alias / single relation / schema-unique column
          // from the parsed plan and falls back otherwise.
          columnOwner(spark, stmt, colRef).flatMap { case (table, qual) =>
          graft.sources.TextIndex.lookup(table, bare).flatMap { entry =>
            // even when index serving falls through, a CONFIGURED
            // column's scan predicate must run the column's analyzer
            if (entry.optionsArg.nonEmpty)
              fallbackRewrite = Some(
                s"text_match($colRef, ${m.group(2)}${optsSuffix(entry)})")
            // in a join the id column must carry the owning relation's
            // qualifier, or Spark could resolve it against the other
            // side (or reject it as ambiguous)
            val idRef = qual.map(q => s"$q.${entry.idCol}")
              .getOrElse(entry.idCol)
            val q = m.group(2).stripPrefix("'").stripSuffix("'")
              .replace("''", "'")
            graft.functions.TextMatch.candidateIds(
              q, entry.model.dict, entry.model.postings,
              opts = entry.opts).flatMap {
              case (cand, exactSet, bound) =>
                val verify = s" AND text_match($colRef, ${m.group(2)}" +
                  s"${optsSuffix(entry)})"
                if (exactSet && bound > MaxTextInList) {
                  // EXACT and (by df bound) possibly large: distributed
                  // semi-join — the ids never visit the driver and no
                  // re-verify is needed, so the plan is
                  // scan ⋉ posting-lookup at any scale
                  val view = textCandViewName(spark, table, bare, q)
                  cand.withColumnRenamed("doc_id", entry.idCol)
                    .createOrReplaceTempView(view)
                  Some(s"($idRef IN " +
                    s"(SELECT ${entry.idCol} FROM $view))")
                } else if (!exactSet && bound > entry.internalLimit) {
                  // approximate and (by bound) unpayable: the re-verify
                  // would run under the join on the whole scan anyway —
                  // fall back WITHOUT evaluating the candidate plan
                  None
                } else {
                  // approximate sets keep the re-verify, so the only
                  // id-serving shape left is the literal IN-list —
                  // worth its parse cost up to internalLimit ids
                  val ids = cand.limit(entry.internalLimit + 1)
                    .collect().map(_.getLong(0))
                  if (ids.isEmpty)
                    Some(s"($idRef IS NULL AND FALSE)")
                  else if (ids.length <= entry.internalLimit)
                    Some(s"($idRef IN (${ids.mkString(", ")})" +
                      (if (exactSet) "" else verify) + ")")
                  else None // bound under-shot reality: scan it is
                }
            }
          }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      served.orElse(fallbackRewrite).getOrElse(m.matched)
    }
  }

  // ---- REGEXP_LIKE / LIKE served from the value-dictionary index ----
  // The reference's FST index answers REGEXP_LIKE (and LIKE via
  // `RegexpPatternConverterUtils.likeToRegexpLike`) by materializing
  // the MATCHING DICTIONARY IDS (`FSTBasedRegexpPredicateEvaluator
  // Factory.java:52-59`, with zero-ids → alwaysFalse and all-ids →
  // alwaysTrue short circuits). Analog: [[graft.sources.RegexpIndex]]
  // holds the column's value dictionary; the predicate is evaluated
  // over it with Spark's OWN rlike/like (the engine that would run the
  // fallback scan, so the match set is identical by construction) and
  // the leaf rewrites to `col IN (values)` — EXACT, since
  // REGEXP_LIKE(col, p) ⟺ col ∈ {v ∈ dict : p finds in v}, and
  // NULL-preserving (IN is NULL for NULL input exactly as REGEXP_LIKE
  // is, so the rewrite survives any NOT context). Large exact sets
  // serve as a distributed semi-join; the degenerate all/none cases
  // keep NULL semantics through CASE.
  private val RegexpLikeCall =
    ("""(?is)\bregexp_like\s*\(\s*(\w+(?:\.\w+)?)\s*,\s*""" +
      """('(?:[^']|'')*')\s*(?:,\s*'([^']*)'\s*)?\)""").r
  private val LikePredPattern =
    ("""(?is)\b(\w+(?:\.\w+)?)\s+(not\s+)?like\s+""" +
      """('(?:[^']|'')*')(?!\s*(?i:escape)\b)""").r

  private def sqlStringLiteral(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"

  // ---- MV group-key flatten ----
  // The reference's group-key generator emits one key PER ELEMENT of a
  // multi-value column (`DictionaryBasedGroupKeyGenerator` MV path), so
  // `SELECT DISTINCT mv1, mv2 FROM t` yields the per-row CROSS-PRODUCT
  // of their elements, and a non-aggregating GROUP BY over MV columns
  // is the same query (`DistinctQueriesTest.java:1181-1410` — 200·2^5
  // combinations for five MV columns). Spark's DISTINCT over arrays
  // compares whole arrays; the facade re-expresses the Pinot semantic
  // as LATERAL VIEW explode per MV column. Shape-restricted to a
  // single-source statement with the MV columns as bare identifiers;
  // anything else keeps Spark semantics untouched.

  /** Calcite resolves an ORDER BY expression by syntactic match against
    * the select list (`SqlValidatorImpl.expandOrderExpr`):
    * `SELECT DISTINCT ADD(a, b), s … ORDER BY s DESC, ADD(a, b)` orders
    * by the first output column even though the built expression's
    * auto-alias is `(a + b)`. Spark resolves sort expressions against
    * alias TEXT, which no longer matches after function building.
    * Re-express the Calcite rule: a non-bare ORDER BY item whose
    * normalized text equals a select item's expression is replaced by
    * that item's 1-based ordinal (SQL-standard, spelling-proof). */
  private[graft] def rewriteOrderBySelectExpr(stmt: String): String = try {
    val masked = SqlLexer.mask(stmt)
    val low = masked.toLowerCase
    val sel0 = low.indexOf("select")
    if (sel0 < 0 || low.indexOf("select", sel0 + 1) >= 0) return stmt
    val ob = SqlLexer.findTopLevel(masked, "order")
    if (ob < 0) return stmt
    val by = masked.indexWhere(!_.isWhitespace, ob + 5)
    if (by < 0 || !masked.regionMatches(true, by, "by", 0, 2)) return stmt
    val fromIdx = SqlLexer.findTopLevel(masked, "from")
    if (fromIdx < 0 || fromIdx > ob) return stmt
    val selBodyStart = {
      val afterSel = sel0 + "select".length
      val m = """(?is)^\s*distinct\s+""".r
        .findFirstMatchIn(masked.substring(afterSel))
      afterSel + m.map(_.end).getOrElse(0)
    }
    val selectItems = SqlLexer.splitTopLevel(stmt.substring(selBodyStart, fromIdx))
    def norm(s: String): String = s.toLowerCase.replaceAll("\\s+", "")
    // expression text of each select item (alias stripped)
    val selExprs = selectItems.map(it =>
      norm("""(?is)\s+as\s+\S+\s*$""".r.replaceAllIn(it, "")))
    val obEnd = {
      val lim = SqlLexer.findTopLevel(masked, "limit", ob)
      if (lim < 0) stmt.length else lim
    }
    val obBody = stmt.substring(by + 2, obEnd)
    val Dir = """(?is)(\s+(?:asc|desc))?(\s+nulls\s+(?:first|last))?\s*$""".r
    var changed = false
    val newItems = SqlLexer.splitTopLevel(obBody).map { item =>
      val dirM = Dir.findFirstMatchIn(item)
      val core = dirM.map(m => item.substring(0, m.start)).getOrElse(item)
      val suffix = dirM.map(_.matched.trim).filter(_.nonEmpty)
        .map(" " + _).getOrElse("")
      if (BareIdent.findFirstIn(core.trim).isDefined) item
      else selExprs.indexOf(norm(core)) match {
        case -1 => item
        case i => changed = true; s"${i + 1}$suffix"
      }
    }
    if (!changed) stmt
    else stmt.substring(0, by + 2) + " " + newItems.mkString(", ") +
      (if (obEnd < stmt.length) " " + stmt.substring(obEnd) else "")
  } catch { case scala.util.control.NonFatal(_) => stmt }

  private val MvDistinctShape =
    ("""(?is)^\s*SELECT\s+(DISTINCT\s+)?(.*?)\s+FROM\s+([A-Za-z_]\w*)""" +
      """((?:\s+WHERE\s+.*?)?)((?:\s+GROUP\s+BY\s+.*?)?)""" +
      """((?:\s+ORDER\s+BY\s+.*?)?)((?:\s+LIMIT\s+\d+)?)\s*$""").r

  private val BareIdent = """^[A-Za-z_]\w*$""".r

  private val ListAggCall =
    """(?i)\blistagg\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*('[^']*')\s*(?:,\s*(true|false)\s*)?\)""".r
  private val ArrayAggCall =
    """(?i)\barray_?agg\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*'[^']*'\s*(?:,\s*(true|false)\s*)?\)""".r

  /** LISTAGG over a multi-value column flattens the arrays before
    * concatenating — the reference's ListAggFunction branches on
    * `blockValSet.isSingleValue()` and walks `getStringValuesMV`
    * (`.../function/array/ListAggFunction.java:68-74`, distinct
    * variant `ListAggDistinctFunction.java`). Spark resolves that
    * branch at plan time: when the first argument names an ArrayType
    * column of the (single) FROM table, the call rewrites to
    * flatten-then-join; scalar columns keep the registered listagg
    * aggregate. Distinct keeps first-occurrence order, as upstream. */
  private[graft] def rewriteListAggMv(spark: SparkSession,
      stmt: String): String = try {
    val masked = SqlLexer.mask(stmt)
    val low = masked.toLowerCase
    if (!low.contains("listagg") && !low.contains("arrayagg") &&
      !low.contains("array_agg")) return stmt
    val table = FromTable.findFirstMatchIn(masked).map(_.group(1))
      .getOrElse(return stmt)
    val schema = try spark.table(table).schema catch {
      case scala.util.control.NonFatal(_) => return stmt
    }
    def isMv(colName: String): Boolean = schema.fields.exists(f =>
      f.name.equalsIgnoreCase(colName) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val s1 = SqlLexer.replaceAll(stmt, ListAggCall) { m =>
      val colName = m.group(1)
      val mv = isMv(colName)
      if (!mv && m.group(3) == null) m.matched // native 2-arg listagg
      else {
        val inner =
          if (mv) s"flatten(collect_list(`$colName`))"
          else s"collect_list(CAST(`$colName` AS STRING))"
        val distinct = Option(m.group(3)).exists(_.equalsIgnoreCase("true"))
        val deduped = if (distinct) s"array_distinct($inner)" else inner
        s"array_join($deduped, ${m.group(2)})"
      }
    }
    // ARRAYAGG over a multi-value column flattens too — the reference's
    // ArrayAgg*Function walks the MV values per doc
    // (`ArrayAggMvQueriesTest.java:120-165`: non-distinct length is
    // replicas × values-per-row × rows, distinct collapses to the value
    // universe). Scalar columns keep the registered aggregate.
    SqlLexer.replaceAll(s1, ArrayAggCall) { m =>
      val colName = m.group(1)
      if (!isMv(colName)) m.matched
      else {
        val distinct = Option(m.group(2)).exists(_.equalsIgnoreCase("true"))
        val inner = s"flatten(collect_list(`$colName`))"
        if (distinct) s"array_distinct($inner)" else inner
      }
    }
  } catch { case scala.util.control.NonFatal(_) => stmt }

  private val ColCompare =
    """(?i)(?<![\w.`'])([A-Za-z_][A-Za-z0-9_]*)\s*(!=|<>|<=|>=|=|<|>)\s*([A-Za-z_][A-Za-z0-9_]*)(?![\w.`'(])""".r

  /** Numeric-column vs string-column comparisons are TYPE-SAFE in the
    * reference: the string parses to the numeric type per row and an
    * unparseable value is simply no-match
    * (`JsonExtractScalarTest.java:204-215` — "the type-safe rewrite
    * evaluates per-row, treating an unparseable comparison as
    * no-match"). ANSI Spark instead fails the whole query on the first
    * malformed cast, so the string side rewrites to try_cast(...). */
  private[graft] def rewriteTypeSafeCompare(spark: SparkSession,
      stmt: String): String = try {
    val masked = SqlLexer.mask(stmt)
    val low = masked.toLowerCase
    // conservative: one SELECT, one FROM table, no joins — qualified
    // identifiers and join conditions stay untouched
    if (low.contains(" join ") ||
      low.indexOf("select", low.indexOf("select") + 1) >= 0) return stmt
    val table = FromTable.findFirstMatchIn(masked).map(_.group(1))
      .getOrElse(return stmt)
    val schema = try spark.table(table).schema catch {
      case scala.util.control.NonFatal(_) => return stmt
    }
    def kind(name: String): Option[Char] =
      schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType match {
        case _: org.apache.spark.sql.types.NumericType => 'n'
        case org.apache.spark.sql.types.StringType => 's'
        case _ => 'o'
      })
    SqlLexer.replaceAll(stmt, ColCompare) { m =>
      (kind(m.group(1)), kind(m.group(3))) match {
        case (Some('n'), Some('s')) =>
          s"${m.group(1)} ${m.group(2)} TRY_CAST(`${m.group(3)}` AS DOUBLE)"
        case (Some('s'), Some('n')) =>
          s"TRY_CAST(`${m.group(1)}` AS DOUBLE) ${m.group(2)} ${m.group(3)}"
        case _ => m.matched
      }
    }
  } catch { case scala.util.control.NonFatal(_) => stmt }

  private val ExprMinMaxShape =
    ("""(?is)^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_]\w*)""" +
      """((?:\s+WHERE\s+.*?)?)((?:\s+GROUP\s+BY\s+.*?)?)""" +
      """((?:\s+ORDER\s+BY\s+.*?)?)((?:\s+LIMIT\s+\d+)?)\s*$""").r
  private val ExprCall =
    """(?is)^expr_?(min|max)\s*\((.*)\)(?:\s+AS\s+(\S+))?$""".r

  /** exprMin / exprMax return EVERY row achieving the extreme — the
    * reference's parent aggregation + ParentAggregationResultRewriter
    * (`ExprMinMaxAggregationFunction` / `ExprMinMaxRewriter`;
    * `ExprMinMaxTest.java:221-228` asserts two tied rows). Extra
    * measuring arguments break ties LEXICOGRAPHICALLY and rows tied on
    * the FULL key all return (`testAggregationDedupe`). Spark resolves
    * this as RANK() = 1 over the measuring order — per group when
    * GROUP BY keys are present. Handled shapes per query block: one
    * exprMin/exprMax plus bare group keys (single windowed RANK), and
    * the MIXED shape (several expr calls and/or sibling aggregations —
    * one parent CTE per distinct (kind, measures), NULL-padded to the
    * longest tie block, siblings repeated per row). The rewrite
    * anchors PER QUERY BLOCK, mirroring the reference's rewriter
    * firing once per query context: every parenthesized sub-select /
    * CTE body is rewritten independently (innermost first), so
    * `SELECT * FROM (SELECT exprmin(..) FROM t)` keeps tie-row
    * semantics instead of degrading to the single-row min_by
    * registration. */
  private[graft] def rewriteExprMinMax(stmt: String,
      columnsOf: String => Option[Seq[String]] = _ => None): String = try {
    if (!SqlLexer.mask(stmt).toLowerCase.contains("expr")) stmt
    else rewriteExprMinMaxBlocks(stmt, columnsOf)
  } catch { case scala.util.control.NonFatal(_) => stmt }

  /** Recurse into every top-level parenthesized group (bottom-up), then
    * attempt the one-block shape on the residue with the rewritten
    * groups spliced back in place. Groups whose masked text carries no
    * SELECT (function argument lists) or no expr token (nothing to
    * rewrite at any depth) are kept verbatim. */
  private def rewriteExprMinMaxBlocks(stmt: String,
      columnsOf: String => Option[Seq[String]] = _ => None): String = {
    val masked = SqlLexer.mask(stmt)
    val groups = SqlLexer.topLevel(masked, OpenParen)
      .map(m => (m.start + 1, SqlLexer.closing(masked, m.start)))
      .filter { case (from, to) =>
        val inner = if (to < 0) "" else masked.substring(from, to).toLowerCase
        inner.contains("select") && inner.contains("expr")
      }
    rewriteExprMinMaxOneBlock(SqlLexer.splice(stmt, groups.map { case (from, to) =>
      (from, to, rewriteExprMinMaxBlocks(stmt.substring(from, to), columnsOf))
    }.toSeq), columnsOf)
  }
  private val OpenParen = """\(""".r

  /** Blank paren-group interiors (length-preserving) so clause-keyword
    * scans see only the block's own top-level FROM/WHERE/GROUP/ORDER. */
  private def blankParens(masked: String): String = {
    val cs = masked.toCharArray
    SqlLexer.topLevel(masked, OpenParen).foreach { m =>
      val close = SqlLexer.closing(masked, m.start)
      java.util.Arrays.fill(cs, m.start + 1, if (close < 0) cs.length else close, ' ')
    }
    new String(cs)
  }

  private def rewriteExprMinMaxOneBlock(stmt: String,
      columnsOf: String => Option[Seq[String]]): String = try {
    val masked = SqlLexer.mask(stmt)
    val low = masked.toLowerCase
    if (!low.contains("expr")) return stmt
    // clause slicing keys off the block's own top level only — a
    // sub-select inside WHERE (already rewritten by the block
    // recursion) must not donate its GROUP BY/ORDER BY to this block
    val shaped = blankParens(masked)
    val shapedLow = shaped.toLowerCase
    val firstSel = shapedLow.indexOf("select")
    if (firstSel < 0) return stmt
    // two top-level SELECTs = a set operation; not a single block
    if (shapedLow.indexOf("select", firstSel + 1) >= 0) return stmt
    val m = ExprMinMaxShape.findFirstMatchIn(shaped).getOrElse(return stmt)
    def slice(i: Int): String =
      if (m.group(i) == null) "" else stmt.substring(m.start(i), m.end(i))
    val items = SqlLexer.splitTopLevel(slice(1)).map(_.trim)
    val table = m.group(2)
    val (whereC, groupC, orderC, limitC) =
      (slice(3), slice(4), slice(5), slice(6))

    val exprItems = items.flatMap(it => ExprCall.findFirstMatchIn(it).map(it -> _))
    if (exprItems.isEmpty) return stmt
    val exprTexts = exprItems.map(_._1).toSet
    val groupKeys =
      if (groupC.isEmpty) Nil
      else SqlLexer.splitTopLevel(groupC.replaceAll("(?is)^\\s+GROUP\\s+BY", "")).map(_.trim)
    if (!groupKeys.forall(k => BareIdent.findFirstIn(k).contains(k))) return stmt
    val groupLow = groupKeys.map(_.toLowerCase).toSet
    // non-expr items: bare group keys pass through; anything else is a
    // sibling aggregation (sum/count/…) of the mixed shape
    val nonExpr = items.filterNot(exprTexts)
    val (keys, others) = nonExpr.partition(it =>
      BareIdent.findFirstIn(it).contains(it) && groupLow(it.toLowerCase))
    if (keys.map(_.toLowerCase).sorted != groupKeys.map(_.toLowerCase).sorted)
      return stmt
    if (groupC.isEmpty && nonExpr.exists(it =>
        BareIdent.findFirstIn(it).contains(it))) return stmt

    def callParts(call: scala.util.matching.Regex.Match)
        : Option[(String, String, Seq[String], String)] = {
      val kind = call.group(1).toLowerCase
      val args = SqlLexer.splitTopLevel(call.group(2)).map(_.trim)
      if (args.size < 2) None
      else Some((kind, args.head, args.tail,
        Option(call.group(3)).getOrElse(
          s"`expr$kind(${args.map(_.replaceAll("\\s+", "")).mkString(",")})`")))
    }

    // r15: the rank-1 tie block is computed by CHAINED PER-MEASURE
    // MIN/MAX joins instead of a RANK() window. Each level is a plain
    // scalar hash aggregate (map-side partials, NO sort — unlike both
    // the rank group-limit chain, which fully sorts the source, and a
    // min(named_struct) aggregate, whose struct buffer falls back to
    // SortAggregate: both measured and rejected this round) plus a
    // null-safe equi-join back; level k+1 runs on level k's tie
    // survivors only, so trailing measures cost next to nothing.
    // Interleaved same-JVM A/B: grouped single-call 1.134 → 0.476 s,
    // global 2-parent mixed 1.650 → 0.820 s, identical results.
    // Null semantics mirror the rank form exactly: ASC ranks nulls
    // FIRST, so for exprmin a level's survivors are the null-measure
    // rows when any exist (flag = MAX(m IS NULL)); DESC ranks nulls
    // LAST, so for exprmax nulls survive only when ALL rows are null
    // (flag = MIN(m IS NULL)). The join matches the flag null-safely
    // and the value against IF(flag, NULL, extremum) — NaN equality
    // and ordering agree between aggregates and <=> in Spark.
    def tieChain(src: String, kind: String, measures: Seq[String],
        pfx: String): String = {
      val agg = if (kind == "max") "MAX" else "MIN"
      val flagAgg = if (kind == "max") "MIN" else "MAX"
      measures.zipWithIndex.foldLeft(src) { case (cur, (m, i)) =>
        val s = s"${pfx}s$i"; val g = s"${pfx}g$i"
        val mSel = (keys.zipWithIndex.map { case (k, j) =>
          s"$k AS ${pfx}k$j" } ++
          Seq(s"$flagAgg(CAST(($m) IS NULL AS INT)) AS ${pfx}hn",
            s"$agg($m) AS ${pfx}v")).mkString(", ")
        val groupBy =
          if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}"
        val on = (keys.zipWithIndex.map { case (k, j) =>
          s"$s.$k <=> $g.${pfx}k$j" } ++
          Seq(s"CAST(($m) IS NULL AS INT) <=> $g.${pfx}hn",
            s"($m) <=> IF($g.${pfx}hn = 1, NULL, $g.${pfx}v)"))
          .mkString(" AND ")
        s"(SELECT $s.* FROM $cur $s JOIN " +
          s"(SELECT $mSel FROM $cur$groupBy) $g ON $on)"
      }
    }

    if (exprItems.size == 1 && others.isEmpty) {
      // single-call shape: one chained-min tie block, no spine
      val (kind, ret, measures, alias) =
        callParts(exprItems.head._2).getOrElse(return stmt)
      val keySel = if (keys.isEmpty) "" else keys.mkString(", ") + ", "
      val tie = tieChain(s"(SELECT * FROM $table$whereC)", kind,
        measures, "__emm_x_")
      return s"SELECT ${keySel}($ret) AS $alias FROM $tie __emm_t" +
        s"$orderC$limitC"
    }

    // MIXED shape — several exprMin/exprMax calls and/or sibling
    // aggregations. The reference evaluates each distinct
    // (kind, measuring-list) as ONE parent aggregation whose result is
    // the tie-rows block, then ParentAggregationResultRewriter pads
    // every parent to the longest block (NULL-filled), repeats the
    // sibling aggregates on every row, and reads each child call's
    // projection column out of its parent's block row-by-row
    // (`ParentAggregationResultRewriter.java:147-181`; the
    // `ExprMinMaxTest.java:285-341` golds). Spark shape: one CTE per
    // parent (RANK()=1 tie rows, ROW_NUMBER'd in doc order via
    // monotonically_increasing_id — the reference accumulates extreme
    // rows in segment doc order), an iteration spine of DISTINCT
    // (keys, rn) across parents, sibling aggregates grouped once, and
    // LEFT JOINs aligning block row i of every parent.
    case class Call(text: String, kind: String, ret: String,
      measures: Seq[String], alias: String)
    val calls = exprItems.map { case (it, cm) =>
      val (kind, ret, measures, alias) = callParts(cm).getOrElse(return stmt)
      Call(it, kind, ret, measures, alias)
    }
    def norm(e: String) = e.replaceAll("\\s+", "").toLowerCase
    // identical calls collapse to ONE output column: the reference
    // derives the child column name from (type + operands), so two
    // textually identical exprmin/exprmax calls share a child column
    // (`ExprMinMaxTest.java:316-343` asserts the deduped 4-col shape)
    val dedupedItems = {
      val seen = scala.collection.mutable.Set[String]()
      items.filter(it => !exprTexts(it) || seen.add(norm(it)))
    }
    val parentKeys = calls.map(c => (c.kind, c.measures.map(norm))).distinct
    val parentOf = calls.map(c =>
      c.text -> parentKeys.indexOf((c.kind, c.measures.map(norm)))).toMap
    // one projection column per distinct projection expr per parent
    val projsOf: Map[Int, Seq[String]] = calls.groupBy(c => parentOf(c.text))
      .map { case (p, cs) => p -> cs.map(c => norm(c.ret)).distinct }
    val projText: Map[(Int, String), String] = calls
      .map(c => (parentOf(c.text), norm(c.ret)) -> c.ret).toMap
    val keyList = keys.mkString(", ")
    val keySel = if (keys.isEmpty) "" else keyList + ", "
    val partition =
      if (keys.isEmpty) "" else s"PARTITION BY $keyList "
    def keyEq(l: String, r: String): String =
      keys.map(k => s"$l.$k <=> $r.$k").mkString(" AND ")

    // r14 perf: project only the columns the parents/siblings/keys
    // reference instead of `SELECT *`. The non-deterministic __emm_ord
    // blocks CTE inlining, so Spark materializes __emm_src through one
    // shuffle that every parent re-reads — at full width that exchange
    // carried the whole table (90 MB of local reads for 4 consumers on
    // lineitem at sf0.1; plan audit this round). Conservative word-scan
    // against the resolved table schema; any uncertainty falls back to
    // `*`, and a missed reference would fail analysis loudly, never
    // silently change results.
    val srcCols: String = columnsOf(table) match {
      case Some(cols) if cols.forall(c => BareIdent.findFirstIn(c).contains(c)) =>
        val scanText = SqlLexer.lex(
          (exprItems.map(_._1) ++ others ++ keys).mkString(" ")).identMask
        val words = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(scanText)
          .map(_.toLowerCase).toSet
        val needed = cols.filter(c => words.contains(c.toLowerCase))
        if (needed.isEmpty || needed.size == cols.size) "*"
        else needed.mkString(", ")
      case _ => "*"
    }
    val src = s"__emm_src AS (SELECT $srcCols, monotonically_increasing_id()" +
      s" AS __emm_ord FROM $table$whereC)"
    val parentCtes = parentKeys.zipWithIndex.map { case ((kind, _), p) =>
      val c = calls.find(x => parentOf(x.text) == p).get
      val projCols = projsOf(p).zipWithIndex.map { case (pr, j) =>
        s"(${projText((p, pr))}) AS __emm_p${p}c$j" }.mkString(", ")
      val projNames = projsOf(p).indices.map(j => s"__emm_p${p}c$j")
        .mkString(", ")
      // the parent's tie block comes from the chained-min joins (see
      // tieChain above — r15; the r11-r14 RANK() group-limit form and
      // its full partial sort are gone). The block row-number is
      // unchanged: tie rows are equal on the whole measure list by
      // definition, so ordering survivors by __emm_ord alone is
      // equivalent to (measures, __emm_ord).
      val tie = tieChain("__emm_src", kind, c.measures, s"__emm_x${p}_")
      s"__emm_p$p AS (SELECT $keySel$projNames, " +
        s"ROW_NUMBER() OVER (${partition}ORDER BY __emm_ord)" +
        s" AS __emm_rn FROM (" +
        s"SELECT $keySel$projCols, __emm_ord" +
        s" FROM $tie __emm_t$p))"
    }
    // no-group empty input still emits ONE null-filled row in the
    // reference (`ExprMinMaxTest.testEmptyAggregation`) — standard
    // global-aggregate semantics; grouped empty input emits none
    // r14 perf: p0 is the rank-1 rows of __emm_src, so "p0 empty" ⟺
    // "src empty" — counting the materialized src skips re-running a
    // full sort + window (the subquery previously re-evaluated parent
    // 0 end-to-end just to learn emptiness)
    val emptyGuard =
      if (keys.nonEmpty) ""
      else " UNION ALL SELECT 1 AS __emm_rn WHERE" +
        " (SELECT COUNT(*) FROM __emm_src) = 0"
    val iter = s"__emm_iter AS (SELECT DISTINCT ${keySel}__emm_rn FROM (" +
      parentKeys.indices.map(p =>
        s"SELECT ${keySel}__emm_rn FROM __emm_p$p").mkString(" UNION ALL ") +
      s")$emptyGuard)"
    // sibling aggregate output name: explicit alias inside the item
    // text survives as-is (`x AS n` keeps n); a bare aggregate gets
    // the reference's rendering — its own text, whitespace-collapsed
    val OtherAs = """(?is)^(.*?)\s+AS\s+(`[^`]+`|\S+)\s*$""".r
    def otherAlias(o: String): String = SqlLexer.mask(o) match {
      case OtherAs(_, a) => o.substring(o.length - a.length)
      case _ => s"`${o.replaceAll("\\s+", "")}`"
    }
    // the bare expression: an item's own `AS alias` must be stripped
    // before re-aliasing inside the CTE, or the emitted SQL carries
    // two AS clauses
    def otherExpr(o: String): String = SqlLexer.mask(o) match {
      case OtherAs(e, _) => o.substring(0, e.length)
      case _ => o
    }
    val base =
      if (others.isEmpty) None
      else Some(s"__emm_b AS (SELECT $keySel" +
        others.zipWithIndex.map { case (o, j) =>
          s"${otherExpr(o)} AS __emm_a$j" }.mkString(", ") +
        s" FROM __emm_src" +
        (if (keys.isEmpty) "" else s" GROUP BY $keyList") + ")")
    // single grouped parent: the iter spine is an identity (rn values
    // are distinct within a group by construction), so reading the
    // parent directly skips one full window+sort evaluation and the
    // left-outer self-join; grouped-empty input yields zero rows from
    // the parent itself. The global shape keeps the spine for its
    // empty-input null-row guard.
    val singleParent = parentKeys.size == 1 && keys.nonEmpty
    val spine = if (singleParent) "__emm_p0" else "__emm_iter"
    val selItems = dedupedItems.map { it =>
      if (exprTexts(it)) {
        val c = calls.find(_.text == it).get
        val p = parentOf(it)
        val j = projsOf(p).indexOf(norm(c.ret))
        s"__emm_p$p.__emm_p${p}c$j AS ${c.alias}"
      } else if (others.contains(it))
        s"__emm_b.__emm_a${others.indexOf(it)} AS ${otherAlias(it)}"
      else s"$spine.$it"
    }.mkString(", ")
    val joins = new StringBuilder(spine)
    base.foreach { _ =>
      joins.append(
        if (keys.isEmpty) " CROSS JOIN __emm_b"
        else s" JOIN __emm_b ON ${keyEq(spine, "__emm_b")}")
    }
    if (!singleParent) parentKeys.indices.foreach { p =>
      val on = s"__emm_p$p.__emm_rn = __emm_iter.__emm_rn" +
        (if (keys.isEmpty) "" else s" AND ${keyEq("__emm_iter", s"__emm_p$p")}")
      joins.append(s" LEFT JOIN __emm_p$p ON $on")
    }
    s"WITH $src, ${parentCtes.mkString(", ")}" +
      (if (singleParent) "" else s", $iter") +
      base.map(b => s", $b").getOrElse("") +
      s" SELECT $selItems FROM $joins$orderC$limitC"
  } catch { case scala.util.control.NonFatal(_) => stmt }

  private val ClpCallOpen = """(?i)\b(clpmatch|clpdecode)\s*\(""".r
  private val ClpIdent =
    """^(?:`([^`]+)`|"([^"]+)"|([A-Za-z_]\w*))$""".r

  /** ClpRewriter analog (`pinot-common/.../rewriter/ClpRewriter.java`):
    * `clpDecode("group"[, default])` expands to the column-group
    * triple `<g>_logtype/_dictionaryVars/_encodedVars`, and
    * `clpMatch("group", 'wildcard')` (or the explicit 4-arg triple
    * form) compiles to CLP's query semantics — an empty wildcard is
    * `<g>_logtype = ''` (`ClpRewriter.java:296-303`), anything else is
    * the decompress-and-match ground truth the reference ANDs onto its
    * inexact subqueries: `clpwildcardmatch(clpDecode(triple), 'wq')`.
    * The `clpMatch(...) = true` / `NOT … = true` workaround shapes
    * (reference issue #10478) need no special casing — the rewritten
    * boolean expression composes under both. */
  private[graft] def rewriteClpCalls(stmt: String): String = try {
    val rawLow = stmt.toLowerCase
    if (!rawLow.contains("clpmatch") && !rawLow.contains("clpdecode"))
      return stmt
    val masked = SqlLexer.mask(stmt)
    val edits = Seq.newBuilder[(Int, Int, String)]
    var last = 0
    def ident(a: String): Option[String] = a.trim match {
      case ClpIdent(bt, dq, bare) =>
        Some(Seq(bt, dq, bare).find(_ != null).get)
      case _ => None
    }
    for (m <- ClpCallOpen.findAllMatchIn(masked)) if (m.start >= last) {
      val isMatch = m.group(1).equalsIgnoreCase("clpmatch")
      val open = m.end - 1
      val close = SqlLexer.closing(masked, open)
      if (close > 0) {
        val args = SqlLexer.splitTopLevel(stmt.substring(open + 1, close))
        def triple(g: String): (String, String, String) =
          (s"`${g}_logtype`", s"`${g}_dictionaryVars`", s"`${g}_encodedVars`")
        val repl: Option[String] =
          if (!isMatch) args match {
            // group-name sugar only; the 3/4-arg triple form is the
            // registered function itself
            case Seq(g0) => ident(g0).map { g =>
              val (lt, dv, ev) = triple(g)
              s"clpDecode($lt, $dv, $ev)"
            }
            case Seq(g0, dflt) => ident(g0).map { g =>
              val (lt, dv, ev) = triple(g)
              s"clpDecode($lt, $dv, $ev, ${dflt.trim})"
            }
            case _ => None
          } else {
            val cols: Option[(String, String, String, String)] = args match {
              case Seq(g0, wq) => ident(g0).map { g =>
                val (lt, dv, ev) = triple(g)
                (lt, dv, ev, wq.trim)
              }
              case Seq(l0, d0, e0, wq) =>
                for (l <- ident(l0); d <- ident(d0); e <- ident(e0))
                  yield (s"`$l`", s"`$d`", s"`$e`", wq.trim)
              case _ => None
            }
            cols.map { case (lt, dv, ev, wq) =>
              val raw = SqlLexer.unescapeSqlLiteral(wq)
              if (raw.isEmpty) s"$lt = ''"
              else {
                // candidate/re-verify split (ClpRewriter.java:293-345
                // logtype subqueries + :398-437 dictionaryVars /
                // encodedVars matches): cheap compiled prefilters —
                // exact variable membership first (most selective),
                // then the logtype byte-scan — prune before the
                // per-row decode+match ground truth
                val fns = graft.functions.ClpFunctions
                val ltPre = fns.logtypePrefilterRegex(raw).isDefined
                // EXACT candidate (all pieces bare-* or digit-free
                // literal tokens): logtype match ⟺ message match, so
                // the decode re-verify is dropped — the reference ANDs
                // decompress-and-match only when subqueries are inexact
                if (ltPre && fns.logtypePrefilterExact(raw))
                  s"clplogtypematch($lt, $wq)"
                else {
                  // exact membership (:398-437) and wildcard-variable
                  // candidates (:438-466) both ride clpvarsmatch
                  val pres =
                    (if (fns.varPrefilterTokens(raw).nonEmpty ||
                        fns.varWildcardRuns(raw).nonEmpty)
                      Seq(s"clpvarsmatch($dv, $ev, $wq)") else Nil) ++
                    (if (ltPre) Seq(s"clplogtypematch($lt, $wq)") else Nil)
                  val reVerify =
                    s"clpwildcardmatch(clpDecode($lt, $dv, $ev), $wq)"
                  if (pres.isEmpty) reVerify
                  else (pres :+ reVerify).mkString("(", " AND ", ")")
                }
              }
            }
          }
        repl.foreach { r =>
          edits += ((m.start, close + 1, r))
          last = close + 1
        }
      }
    }
    SqlLexer.splice(stmt, edits.result())
  } catch { case scala.util.control.NonFatal(_) => stmt }

  private val JsonNullDefault =
    ("(?i)\\b(jsonextractscalar|jsonextractindex)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*," +
      "\\s*('[^']*')\\s*,\\s*'([^']*)'\\s*,\\s*null\\s*\\)").r
  private val JsonNullTypes =
    Set("int", "long", "float", "double", "boolean", "timestamp")

  private val ThetaCallOpen =
    """(?i)\bdistinct_?count_?(raw_?)?theta_?sketch\s*\(""".r
  private val SetRef = """\$([1-9]\d*)""".r

  /** The reference's MULTI-PREDICATE theta form
    * (`DistinctCountThetaSketchAggregationFunction`; golds in
    * `DistinctCountThetaSketchQueriesTest.testPostAggregation`):
    * `DISTINCT_COUNT_THETA_SKETCH(expr, 'params', 'f1', …, 'fN',
    * 'SET_…($i,…)')` builds one filtered sketch per predicate and
    * composes them with SET_UNION / SET_INTERSECT / SET_DIFF, `$i`
    * referencing the i-th (1-based) filtered sketch. Spark-first
    * compilation: each `$i` becomes
    * `distinctcountrawthetasketch(expr[, params]) FILTER (WHERE fi)`
    * (one scan, N FILTER'd aggregates — map-side combined blobs), the
    * SET ops map onto the existing blob scalars, and the non-raw form
    * wraps the result in GETTHETASKETCHESTIMATE. Validation failures
    * (out-of-range `$i`, <2 set-op args) leave the call untouched so
    * the unresolvable original errors, matching the reference's
    * BadQueryRequestException surface. */
  private[graft] def rewriteThetaSetOps(stmt: String): String = try {
    val rawLow = stmt.toLowerCase
    if (!rawLow.contains("theta") || !rawLow.contains("set_")) return stmt
    val masked = SqlLexer.mask(stmt)
    val edits = Seq.newBuilder[(Int, Int, String)]
    var last = 0
    for (m <- ThetaCallOpen.findAllMatchIn(masked)) if (m.start >= last) {
      val open = m.end - 1
      val close = SqlLexer.closing(masked, open)
      if (close > 0) {
        val args = SqlLexer.splitTopLevel(stmt.substring(open + 1, close))
        def lit(s: String): Option[String] = {
          val t = s.trim
          if (SqlLexer.singleQuoted(t)) Some(SqlLexer.unescapeSqlLiteral(t))
          else None
        }
        val setExpr = if (args.size >= 4) lit(args.last).filter(
          _.matches("(?is)\\s*SET_(UNION|INTERSECT|DIFF)\\s*\\(.*")) else None
        setExpr match {
          case Some(se) =>
            val exprArg = args.head.trim
            val params = lit(args(1)).getOrElse("")
            val filters = args.slice(2, args.size - 1).map(a =>
              lit(a).getOrElse(throw new IllegalArgumentException(a)))
            val maxRef = SetRef.findAllMatchIn(se).map(_.group(1).toInt)
              .foldLeft(0)(math.max)
            require(maxRef >= 1 && maxRef <= filters.size,
              s"theta set ref out of range: $maxRef of ${filters.size}")
            val aggOf = (k: Int) => {
              // re-escape: params was unescaped above, so any embedded
              // quote must be doubled again before splicing into SQL
              val p = if (params.trim.isEmpty) ""
                else s", '${params.trim.replace("'", "''")}'"
              s"distinctcountrawthetasketch($exprArg$p)" +
                s" FILTER (WHERE ${filters(k - 1)})"
            }
            val composed = SetRef.replaceAllIn(
              se.replaceAll("(?i)SET_UNION\\s*\\(", "thetasketchunion(")
                .replaceAll("(?i)SET_INTERSECT\\s*\\(", "thetasketchintersect(")
                .replaceAll("(?i)SET_DIFF\\s*\\(", "thetasketchdiff("),
              mm => java.util.regex.Matcher.quoteReplacement(
                aggOf(mm.group(1).toInt)))
            val isRaw = m.group(1) != null
            val repl =
              if (isRaw) composed else s"GETTHETASKETCHESTIMATE($composed)"
            edits += ((m.start, close + 1, repl))
            last = close + 1
          case None => ()
        }
      }
    }
    SqlLexer.splice(stmt, edits.result())
  } catch { case scala.util.control.NonFatal(_) => stmt }

  /** With null handling DISABLED (the reference's default), a `null`
    * defaultValue literal in jsonExtractScalar degrades to the type's
    * ZERO default — `JsonExtractScalarTransformFunction.java:202-208`
    * gates `_defaultIsNull` on `_nullHandlingEnabled`, so the null
    * literal's numeric accessor (0 / 0.0 / false) becomes the fill
    * value. Applied only when the option is off; the null-handling
    * path keeps the SQL NULL. */
  private[graft] def rewriteJsonNullDefault(stmt: String): String =
    SqlLexer.replaceAll(stmt, JsonNullDefault) { m =>
      val tpe = m.group(4).toLowerCase
      if (!JsonNullTypes(tpe)) m.matched
      else {
        val zero = tpe match {
          case "float" | "double" => "0.0"
          case "boolean" => "false"
          case _ => "0"
        }
        s"${m.group(1)}(${m.group(2)}, ${m.group(3)}, '${m.group(4)}', $zero)"
      }
    }

  private[graft] def rewriteMvDistinct(spark: SparkSession,
      stmt: String): String = try {
    val masked = SqlLexer.mask(stmt)
    val low = masked.toLowerCase
    // one SELECT only (no subqueries), and something to flatten
    if (low.indexOf("select", low.indexOf("select") + 1) >= 0) return stmt
    val m = MvDistinctShape.findFirstMatchIn(masked).getOrElse(return stmt)
    def slice(i: Int): String =
      if (m.group(i) == null) "" else stmt.substring(m.start(i), m.end(i))
    val isDistinct = m.group(1) != null
    val items = SqlLexer.splitTopLevel(slice(2))
    val table = m.group(3)
    val (whereC, groupC, orderC, limitC) =
      (slice(4), slice(5), slice(6), slice(7))

    // non-aggregating GROUP BY over exactly the selected columns is the
    // reference's distinct rewrite; anything else is a real aggregation
    // and not this pass's business
    val distinctLike =
      if (isDistinct && groupC.isEmpty) true
      else if (!isDistinct && groupC.nonEmpty) {
        val gl = SqlLexer.splitTopLevel(groupC.replaceAll("(?is)^\\s+GROUP\\s+BY", ""))
        items.forall(BareIdent.findFirstIn(_).isDefined) &&
          gl.map(_.toLowerCase).toSet == items.map(_.toLowerCase).toSet
      } else false
    if (!distinctLike) return stmt

    val schema = try spark.table(table).schema catch {
      case scala.util.control.NonFatal(_) => return stmt
    }
    def mvField(it: String): Option[String] =
      if (BareIdent.findFirstIn(it).isEmpty) None
      else schema.fields.find(f => f.name.equalsIgnoreCase(it) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        .map(_.name)
    val mv = items.flatMap(it => mvField(it).map(it -> _))
    if (mv.isEmpty) return stmt

    val newItems = items.map { it =>
      mv.find(_._1 == it) match {
        case Some((_, f)) => s"`${f}__mvx` AS `$it`"
        case None => it
      }
    }
    val laterals = mv.map(_._2).distinct.map(f =>
      s" LATERAL VIEW explode(`$f`) __mvv_$f AS `${f}__mvx`").mkString
    s"SELECT DISTINCT ${newItems.mkString(", ")} FROM $table" +
      s"$laterals$whereC$orderC$limitC"
  } catch { case scala.util.control.NonFatal(_) => stmt }

  private def serveRegexpLeaf(spark: SparkSession, stmt: String,
      colRef: String, pred: Column, predKey: String): Option[String] = {
    val bare = colRef.substring(colRef.lastIndexOf('.') + 1)
    columnOwner(spark, stmt, colRef).flatMap { case (table, _) =>
      graft.sources.RegexpIndex.lookup(table, bare).flatMap { entry =>
        import graft.sources.RegexpIndex._
        resolve(entry, pred, predKey).map {
          case AlwaysTrue =>
            s"(CASE WHEN $colRef IS NULL THEN CAST(NULL AS BOOLEAN) " +
              "ELSE TRUE END)"
          case AlwaysFalse =>
            s"(CASE WHEN $colRef IS NULL THEN CAST(NULL AS BOOLEAN) " +
              "ELSE FALSE END)"
          case InList(vs) =>
            s"($colRef IN (${vs.map(sqlStringLiteral).mkString(", ")}))"
          case SemiJoin(values) =>
            val view = textCandViewName(spark, table, bare, predKey)
            values.createOrReplaceTempView(view)
            s"($colRef IN (SELECT value FROM $view))"
        }
      }
    }
  }

  private[graft] def rewriteRegexpIndexed(spark: SparkSession,
      stmt: String): String = {
    if (graft.sources.RegexpIndex.isEmpty) return stmt
    val low = stmt.toLowerCase
    if (!low.contains("regexp_like") && !low.contains("like")) return stmt
    val afterRegexp = SqlLexer.replaceAll(stmt, RegexpLikeCall) { m =>
      val served =
        if (m.group(3) != null && !m.group(3).matches("[a-zA-Z]")) None
        else try {
          val pattern = SqlLexer.unescapeSqlLiteral(m.group(2))
          // 3-arg match parameter ('i'/'c' —
          // RegexpPatternConverterUtils.isCaseInsensitive)
          val ci = Option(m.group(3)).exists(f =>
            f.equalsIgnoreCase("i"))
          val p = if (ci) "(?i)" + pattern else pattern
          serveRegexpLeaf(spark, stmt, m.group(1),
            col("value").rlike(p), "re:" + p)
        } catch { case scala.util.control.NonFatal(_) => None }
      served.getOrElse(m.matched)
    }
    SqlLexer.replaceAll(afterRegexp, LikePredPattern) { m =>
      val served =
        try {
          val pattern = SqlLexer.unescapeSqlLiteral(m.group(2 + 1))
          serveRegexpLeaf(spark, afterRegexp, m.group(1),
            col("value").like(pattern), "like:" + pattern)
            .map(r => if (m.group(2) != null) s"(NOT $r)" else r)
        } catch { case scala.util.control.NonFatal(_) => None }
      served.getOrElse(m.matched)
    }
  }

  // ---- H3 geo index: ST_Distance / polygon-inclusion predicates ----
  // The reference's H3 index serves `ST_Distance(col, literal) < r` by
  // splitting the kRing into always-match cells (no exact check) and
  // possible-match cells (exact re-verify), unioning posting bitmaps
  // (`H3IndexFilterOperator.java:120-200`; polygon inclusion in
  // `H3InclusionIndexFilterOperator.java`). Analog: the statement's
  // leaf rewrites to
  //   (`$h3$lng$lat$res` ranges AND (full-ranges OR <original leaf>))
  // — the candidate ranges (OR of BETWEENs on the stored cell column,
  // computed driver-side from the LITERAL point by
  // [[graft.sources.GeoIndex]]) push into the parquet scan; the
  // full-range disjunct short-circuits the exact predicate for
  // interior cells exactly as the reference skips verification on
  // always-match postings. The conjunction is ≡ the original leaf
  // (superset candidates, provable full cells, NULL-propagating cell
  // ids), so any boolean context — including NOT — is safe.
  private val GeoNumLit = """-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"""
  private val GeoArg = s"""(\\w+(?:\\.\\w+)?|$GeoNumLit)"""
  private def geoPointPat =
    s"""st_?point\\s*\\(\\s*$GeoArg\\s*,\\s*$GeoArg\\s*(?:,\\s*\\d+\\s*)?\\)"""
  private val GeoDistCall =
    (s"""(?is)\\bst_?distance\\s*\\(\\s*$geoPointPat\\s*,\\s*""" +
      s"""$geoPointPat\\s*\\)\\s*(<=?|>=?)\\s*($GeoNumLit)""").r
  private val GeoDistBetween =
    (s"""(?is)\\bst_?distance\\s*\\(\\s*$geoPointPat\\s*,\\s*""" +
      s"""$geoPointPat\\s*\\)\\s+BETWEEN\\s+($GeoNumLit)""" +
      s"""\\s+AND\\s+($GeoNumLit)""").r
  private val GeoContainsCall =
    ("""(?is)\b(?:st_?contains\s*\(\s*st_?(?:geogfromtext|geomfromtext|""" +
      """polygonfromtext)\s*\(\s*('(?:[^']|'')*')\s*\)\s*,\s*""" +
      s"""$geoPointPat|st_?within\\s*\\(\\s*$geoPointPat\\s*,\\s*""" +
      """st_?(?:geogfromtext|geomfromtext|polygonfromtext)\s*\(\s*""" +
      """('(?:[^']|'')*')\s*\))\s*\)""").r

  private def isGeoColRef(s: String): Boolean =
    s.matches("""[A-Za-z_]\w*(?:\.\w+)?""") &&
      !s.matches("""(?i)(?:e\d+.*)""")

  /** Resolve (qualified cell column, candidate/full ranges) for a
    * registered (lng, lat) pair at the best stored resolution. */
  private def geoCellRanges(spark: SparkSession, stmt: String,
      lngRef: String, latRef: String,
      f: Int => Option[graft.sources.GeoIndex.Ranges])
      : Option[(String, graft.sources.GeoIndex.Ranges)] = {
    val lngBare = lngRef.substring(lngRef.lastIndexOf('.') + 1)
    val latBare = latRef.substring(latRef.lastIndexOf('.') + 1)
    // both coordinate refs must resolve to the SAME table, and that
    // table must have a registered geo index on the pair
    columnOwner(spark, stmt, lngRef).flatMap { case (table, qual) =>
      columnOwner(spark, stmt, latRef).filter(_._1 == table).flatMap { _ =>
        graft.sources.GeoIndex.lookup(table, lngBare, latBare)
          .flatMap { regEntry =>
            graft.sources.GeoIndex.bestRanges(regEntry.resolutions, f)
              .map { case (res, ranges) =>
                val cellCol = graft.sources.GeoIndex.cellColumn(
                  regEntry.lngCol, regEntry.latCol, res)
                (qual.map(q => s"$q.`$cellCol`").getOrElse(s"`$cellCol`"),
                  ranges)
              }
          }
      }
    }
  }

  private def geoRangesOn(qualCol: String,
      rs: Seq[graft.sources.GeoIndex.CellRange]): String =
    rs.map(r =>
      if (r.lo == r.hi) s"$qualCol = ${r.lo}"
      else s"$qualCol BETWEEN ${r.lo} AND ${r.hi}")
      .mkString("(", " OR ", ")")

  private def geoNullCase(qualCol: String, thenSql: String): String =
    s"(CASE WHEN $qualCol IS NULL THEN CAST(NULL AS BOOLEAN) " +
      s"ELSE $thenSql END)"

  /** Upper-bound serving: candidate ranges PUSH into the scan, interior
    * (full) cells skip the exact check, survivors re-verify. An empty
    * candidate set (negative radius) is the reference's invalid-bound
    * short circuit — constant FALSE with NULL propagation, NO scan of
    * the exact predicate (H3IndexQueriesTest.java:165-179). */
  private def serveGeoLeaf(spark: SparkSession, stmt: String,
      lngRef: String, latRef: String, orig: String,
      f: Int => Option[graft.sources.GeoIndex.Ranges]): Option[String] =
    geoCellRanges(spark, stmt, lngRef, latRef, f).map {
      case (qualCol, ranges) =>
        if (ranges.candidates.isEmpty) geoNullCase(qualCol, "FALSE")
        else {
          val cand = geoRangesOn(qualCol, ranges.candidates)
          val verify =
            if (ranges.full.isEmpty) orig
            else geoRangesOn(qualCol, ranges.full) + s" OR $orig"
          s"($cand AND ($verify))"
        }
    }

  /** Lower-bound serving (`ST_Distance > r` / `>= r`): only the
    * reference's no-bound SHORT CIRCUIT is served — a non-positive
    * bound answers TRUE for every non-null row with zero exact
    * evaluations (H3IndexQueriesTest.java:182-194). The per-row
    * complement split (H3IndexFilterOperator's bitmap complement) was
    * MEASURED and rejected on Spark: evaluating the candidate range
    * list per row costs ~16x the codegen'd haversine it would skip
    * (tools/GeoBoundProbe, 1.5M-row replica: 4.49 s vs 0.27 s scan) —
    * the reference wins only because its complement is precomputed
    * index I/O, which a per-row CASE cannot imitate. Positive lower
    * bounds keep the exact scan. */
  private def serveGeoLowerLeaf(spark: SparkSession, stmt: String,
      lngRef: String, latRef: String, orig: String, strict: Boolean,
      r: Double, f: Int => Option[graft.sources.GeoIndex.Ranges])
      : Option[String] =
    if (r < 0 || (!strict && r <= 0))
      geoCellRanges(spark, stmt, lngRef, latRef, f).map {
        case (qualCol, _) => geoNullCase(qualCol, "TRUE")
      }
    else None

  private[graft] def rewriteGeoIndexed(spark: SparkSession,
      stmt: String): String = {
    if (graft.sources.GeoIndex.isEmpty) return stmt
    val low = stmt.toLowerCase
    if (!low.contains("st_distance") && !low.contains("stdistance") &&
        !low.contains("stcontains") && !low.contains("st_contains") &&
        !low.contains("stwithin") && !low.contains("st_within")) return stmt
    val afterDist = SqlLexer.replaceAll(stmt, GeoDistCall) { m =>
      val served =
        try {
          val (a1, a2, b1, b2) =
            (m.group(1), m.group(2), m.group(3), m.group(4))
          // exactly one point is the (col, col) pair, the other the
          // literal center — in either argument order
          val arms = Seq((a1, a2, b1, b2), (b1, b2, a1, a2))
            .filter { case (lng, lat, clng, clat) =>
              isGeoColRef(lng) && isGeoColRef(lat) &&
                !isGeoColRef(clng) && !isGeoColRef(clat) }
          arms.headOption.flatMap { case (lngRef, latRef, cLng, cLat) =>
            val op = m.group(5)
            val r = m.group(6).toDouble
            val ranges = graft.sources.GeoIndex.circleRanges(
              cLng.toDouble, cLat.toDouble, r, _: Int)
            // `< r` is served with the ≤ superset (boundary rows are
            // re-verified by the exact leaf); `> r` by the complement
            // split (outside the candidate cells = provably farther)
            if (op.startsWith("<"))
              serveGeoLeaf(spark, stmt, lngRef, latRef, m.matched, ranges)
            else
              serveGeoLowerLeaf(spark, stmt, lngRef, latRef, m.matched,
                strict = op == ">", r, ranges)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      served.getOrElse(m.matched)
    }
    val afterBetween = SqlLexer.replaceAll(afterDist, GeoDistBetween) { m =>
      val served =
        try {
          val (a1, a2, b1, b2) =
            (m.group(1), m.group(2), m.group(3), m.group(4))
          val arms = Seq((a1, a2, b1, b2), (b1, b2, a1, a2))
            .filter { case (lng, lat, clng, clat) =>
              isGeoColRef(lng) && isGeoColRef(lat) &&
                !isGeoColRef(clng) && !isGeoColRef(clat) }
          arms.headOption.flatMap { case (lngRef, latRef, cLng, cLat) =>
            val lo = m.group(5).toDouble
            val hi = m.group(6).toDouble
            def ranges(r: Double) = graft.sources.GeoIndex.circleRanges(
              cLng.toDouble, cLat.toDouble, r, _: Int)
            // BETWEEN lo AND hi = (dist >= lo) AND (dist <= hi): the
            // upper bound PRUNES the scan via candidate ranges, the
            // lower bound rides the complement split; both arms
            // re-verify with the ORIGINAL BETWEEN leaf, so exactness
            // and NULL propagation come from the leaf itself
            // BETWEEN: only the degenerate short circuits serve
            // (hi < 0 or an inverted range answers constant FALSE,
            // null-propagating, zero exact evaluations — the
            // reference's invalid-bound contract). The indexed
            // positive-range forms were MEASURED and rejected: the
            // full-cell shortcut is unsound for a two-sided range
            // (full(hi) proves only dist<=hi) and the sound variant
            // still evaluates the haversine on every candidate row
            // while paying the per-row candidate-range OR on top —
            // 5x slower than the plain codegen scan
            // (tools/GeoBoundProbe). Upper-only predicates keep their
            // r7-measured 6.7x win because the full-cell arm skips
            // ALL exact work there.
            if (hi < 0 || hi < lo)
              geoCellRanges(spark, afterDist, lngRef, latRef, ranges(0))
                .map { case (qualCol, _) => geoNullCase(qualCol, "FALSE") }
            else None
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      served.getOrElse(m.matched)
    }
    SqlLexer.replaceAll(afterBetween, GeoContainsCall) { m =>
      val served =
        try {
          // contains-form groups: (1 wkt, 2 lng, 3 lat); within-form:
          // (4 lng, 5 lat, 6 wkt)
          val (wktLit, lngRef, latRef) =
            if (m.group(1) != null) (m.group(1), m.group(2), m.group(3))
            else (m.group(6), m.group(4), m.group(5))
          if (!isGeoColRef(lngRef) || !isGeoColRef(latRef)) None
          else {
            val wkt = wktLit.stripPrefix("'").stripSuffix("'")
              .replace("''", "'")
            val ring = """POLYGON\s*\(\(([^)]*)\)""".r
              .findFirstMatchIn(wkt).map(_.group(1))
            ring.flatMap { pts =>
              val coords = pts.split(",").map(_.trim.split("\\s+"))
                .collect { case Array(x, y, _*) =>
                  (x.toDouble, y.toDouble) }
              if (coords.isEmpty) None
              else serveGeoLeaf(spark, afterBetween, lngRef, latRef,
                m.matched,
                graft.sources.GeoIndex.bboxRanges(
                  coords.map(_._1).min, coords.map(_._2).min,
                  coords.map(_._1).max, coords.map(_._2).max, _))
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      served.getOrElse(m.matched)
    }
  }

  // ---- TIMESTAMP index override ----
  // `RequestUtils.java:703-711`: `dateTrunc('<granularity>', col)` — the
  // 2-arg form or 3-arg with MILLISECONDS output — over a column whose
  // table has that granularity configured is overridden to the
  // materialized `$col$GRANULARITY` identifier, so the predicate hits
  // the ingest-time derived column (range-index analog: parquet
  // row-group stats on a plain LONG column) instead of evaluating the
  // function per row.
  private val DtruncPattern =
    ("""(?is)\bdatetrunc\s*\(\s*'([^']*)'\s*,\s*(\w+)\s*""" +
      """(?:,\s*'([^']*)'\s*)?\)""").r

  private[graft] def rewriteTimestampIndex(stmt: String): String = {
    val table = FromTable.findFirstMatchIn(SqlLexer.mask(stmt))
      .map(_.group(1)).getOrElse(return stmt)
    SqlLexer.replaceAll(stmt, DtruncPattern) { m =>
      val (unit, col) = (m.group(1), m.group(2))
      val millisOut = Option(m.group(3)).forall(_.equalsIgnoreCase("milliseconds"))
      if (millisOut && unit.matches("\\w+") &&
          graft.sources.TimestampIndex.hasGranularity(table, col, unit))
        "`" + graft.sources.TimestampIndex.columnWithGranularity(col, unit) + "`"
      else m.matched
    }
  }

  // ---- JSON_MATCH SQL predicate ----
  // `JSON_MATCH(column, '"$.path" = literal AND …')` — the reference's
  // json-index predicate (`JsonMatchFilterOperator.java:37`; SQL shape
  // in `FilterKind.JSON_MATCH`). The inner predicate string compiles to
  // a SQL boolean expression (JsonShred grammar: comparisons,
  // AND/OR/parens, IS [NOT] NULL); when the statement's FROM table has
  // a registered shred spec, materialized paths resolve to the typed
  // shredded columns and push down.
  private val JmPattern = """(?is)\bjson_match\s*\(""".r
  private val FromTable = """(?is)\bfrom\s+(\w+)""".r

  private[graft] def rewriteJsonMatch(stmt: String): String = {
    val mask = SqlLexer.mask(stmt)
    val m = JmPattern.findFirstMatchIn(mask).getOrElse(return stmt)
    val open = m.end - 1
    val close = SqlLexer.closing(mask, open)
    require(close > 0, "JSON_MATCH: unbalanced parens")
    val inner = stmt.substring(open + 1, close)
    // the first top-level comma splits (column, 'predicate')
    val column = SqlLexer.splitRaw(inner).head
    require(column.nonEmpty && column.length < inner.length,
      "JSON_MATCH expects (column, 'predicate')")
    val colName = column.trim.stripPrefix("`").stripSuffix("`")
    val predLit = inner.substring(column.length + 1).trim
    require(SqlLexer.singleQuoted(predLit),
      s"JSON_MATCH predicate must be a string literal, got '$predLit'")
    val predicate = predLit.substring(1, predLit.length - 1)
      .replace("''", "'")
    val spec = FromTable.findFirstMatchIn(mask)
      .flatMap(t => graft.sources.JsonShred.tableSpec(t.group(1)))
    val compiled = graft.sources.JsonShred
      .compileToSql(colName, predicate, spec)
    rewriteJsonMatch(
      stmt.substring(0, m.start) + compiled + stmt.substring(close + 1))
  }

  /** `WHERE VECTOR_SIMILARITY(col, queryVec, k)` — the reference's
    * ANN filter predicate (`VectorSimilarityPredicate.java`,
    * `VectorSimilarityFilterOperator.java`: "vectorSimilarity(col, q,
    * 10) must return at most 10 docs", cosine by default). Rewritten
    * to a ranked subquery over the source table with the remaining
    * AND conjuncts applied OUTSIDE it — the reference's default path
    * builds the top-k doc set from the index first and intersects
    * sibling predicates after, so the result is the subset of the
    * global top-k that satisfies the rest. Supported shape: single
    * source table, predicate first in WHERE. */
  private val VsimPattern =
    """(?is)(from\s+(\w+)\s+where\s+)vector_similarity(_radius)?\s*\(""".r
  private val WherePattern = """(?is)\bfrom\s+\w+\s+where\s+""".r

  /** The first WHERE-leading VECTOR_SIMILARITY[_RADIUS] call: its match
    * on the mask (group 1 is `FROM t WHERE `), the offset of its closing
    * paren (-1 when unbalanced) and its trimmed arguments. */
  private def vsimCall(stmt: String)
      : Option[(scala.util.matching.Regex.Match, Int, Seq[String])] = {
    val mask = SqlLexer.mask(stmt)
    VsimPattern.findFirstMatchIn(mask).map { m =>
      val close = SqlLexer.closing(mask, m.end - 1)
      (m, close, if (close < 0) Nil
        else SqlLexer.splitRaw(stmt.substring(m.end, close)).map(_.trim))
    }
  }
  private val VsimAnywhere = """(?is)^vector_similarity(_radius)?\s*\(""".r

  /** Normalization pre-pass: the rewrites below anchor on the
    * predicate being FIRST in the WHERE clause; a top-level all-AND
    * conjunct chain containing one VECTOR_SIMILARITY[_RADIUS] call at
    * any position is reordered to put it first (legal — the
    * reference's path applies the vector predicate from the index
    * first and intersects siblings after, regardless of where the
    * user wrote it). Non-AND shapes are left untouched. */
  private[graft] def reorderVectorSimilarity(stmt: String): String = {
    val mask = SqlLexer.mask(stmt)
    val m = WherePattern.findFirstMatchIn(mask).getOrElse(return stmt)
    val bodyEnd = SqlLexer.clauseEnd(mask, m.end)
    // a top-level OR would regroup the conjuncts: leave those alone
    if (SqlLexer.topLevel(mask.substring(m.end, bodyEnd), OrWord).hasNext)
      return stmt
    val conjuncts = SqlLexer.splitRaw(stmt.substring(m.end, bodyEnd), AndWord)
      .map(_.trim).filter(_.nonEmpty)
    val vsimIdx = conjuncts.indexWhere(c =>
      VsimAnywhere.findFirstIn(c).isDefined)
    if (vsimIdx <= 0) return stmt // absent or already first
    if (conjuncts.count(c => VsimAnywhere.findFirstIn(c).isDefined) > 1)
      return stmt // two vector predicates in one chain: ambiguous
    val reordered = (conjuncts(vsimIdx) +:
      (conjuncts.take(vsimIdx) ++ conjuncts.drop(vsimIdx + 1)))
      .mkString(" AND ")
    stmt.substring(0, m.end) + reordered + " " + stmt.substring(bodyEnd)
  }
  private val AndWord = """(?i)(?<!\w)and(?!\w)""".r
  private val OrWord = """(?i)(?<!\w)or(?!\w)""".r

  /** Applies to every occurrence in the statement (e.g. both branches
    * of a UNION): each pass rewrites the first remaining predicate —
    * whose replacement text contains no `vector_similarity(` — then
    * recurses on the result until none are left.
    * `VECTOR_SIMILARITY_RADIUS(col, vec, threshold)` keeps all rows
    * whose cosine DISTANCE (1 - cosine similarity) is <= threshold —
    * the reference's distance-threshold contract
    * (`VectorRadiusFilterOperator.java:239-241` `distance <= threshold`)
    * under this facade's cosine distance function. */
  private[graft] def rewriteVectorSimilarity(stmt: String): String = {
    val (m, close, args) = vsimCall(stmt).getOrElse(return stmt)
    val isRadius = m.group(3) != null
    val table = m.group(2)
    require(close > 0, "VECTOR_SIMILARITY: unbalanced parens")
    require(args.size == 3,
      s"VECTOR_SIMILARITY expects (column, vector, topK|threshold), got ${args.size} args")
    val Seq(vcol, vec, k) = args
    val after = stmt.substring(close + 1)
    if (isRadius) {
      // in-place predicate substitution: the radius form is a plain
      // row filter, so sibling conjuncts and tails stay untouched.
      // The threshold is metric-scaled: cosine DISTANCE by default,
      // L2 DISTANCE when the column's registered index declares
      // EUCLIDEAN — the same contract the indexed path serves, so
      // fallback and index-served answers agree.
      val dist = VectorIndexes.lookup(table, vcol)
        .map(_.distance).getOrElse(graft.operators.VectorDistance.Cosine)
      val pred =
        if (dist == graft.operators.VectorDistance.Euclidean)
          s"l2distance($vcol, cast(($vec) as array<double>)) <= $k"
        else
          s"(1 - cosine_sim($vcol, cast(($vec) as array<double>))) <= $k"
      return rewriteVectorSimilarity(stmt.substring(0, m.end(1)) + pred + after)
    }
    // topK form: remaining conjuncts (if any) stay OUTSIDE the ranked
    // subquery (top-k first, intersect after — the reference's default
    // path); GROUP BY / ORDER BY / LIMIT / set-op tails follow them
    val TailKw =
      """(?is)^\s*(group\s+by|order\s+by|limit|having|union|intersect|except)\b.*""".r
    val AndRest = """(?is)^\s*and\s+(.*)""".r
    val (outerWhere, outerTail) = after match {
      case AndRest(rest) =>
        SqlLexer.topLevel(SqlLexer.mask(rest), SqlLexer.ClauseTail)
            .nextOption().map(_.start) match {
          case Some(at) =>
            (s" WHERE ${rest.substring(0, at).trim}", " " + rest.substring(at))
          case None => (s" WHERE ${rest.trim}", "")
        }
      case t if TailKw.matches(t) || t.trim.isEmpty => ("", after)
      case other =>
        throw new IllegalArgumentException(
          s"VECTOR_SIMILARITY: unsupported trailing clause '${other.take(40)}'")
    }
    rewriteVectorSimilarity(
      stmt.substring(0, m.start) +
        s"FROM (SELECT * FROM $table " +
        s"ORDER BY cosine_sim($vcol, cast(($vec) as array<double>)) " +
        s"DESC LIMIT $k) $table" +
        outerWhere + outerTail)
  }

  /** Run a Pinot-flavored SQL query: leading SET options are parsed off
    * (recognized: explicitLimit=true disables the implicit limit;
    * enableNullHandling flips the null ordering; numGroupsLimit stays
    * an exact-results no-op per SURVEY §2.4). The SERVING options —
    * timeoutMs, clientQueryId, maxDocsScanned,
    * maxQueryResponseSizeBytes — are enforced by the broker layer
    * ([[QueryGuard]] via [[BrokerResponse.execute]]/[[HttpGateway]]),
    * not here: the facade returns a lazy DataFrame, so budgets attach
    * where execution actually happens. Then the implicit LIMIT 10 is
    * applied unless the query bounds itself. */
  // both reference explain forms: EXPLAIN PLAN FOR and
  // EXPLAIN IMPLEMENTATION PLAN FOR (PinotQueryResource)
  private val ExplainPrefix =
    """(?is)^\s*EXPLAIN\s+(?:IMPLEMENTATION\s+)?PLAN\s+FOR\s+""".r

  /** Pinot's null-handling mode sorts NULL as the LARGEST value
    * (`NullValueUtils` / the ordering in `OrderByComparatorFactory`):
    * ASC puts nulls last, DESC puts nulls first. Spark's defaults are
    * the OPPOSITE (ASC nulls first, DESC nulls last), so when the
    * enableNullHandling option is set every ORDER BY key without an
    * explicit NULLS clause gets the Pinot one appended. Keys that
    * spell NULLS FIRST/LAST are untouched; the scan respects quoted
    * literals and stops each key list at the first depth-0
    * LIMIT/OFFSET/ROWS/RANGE/')' boundary, so window specs inside
    * OVER(...) are rewritten consistently too. */
  private[graft] def rewriteNullOrdering(stmt: String): String = {
    val mask = SqlLexer.mask(stmt)
    val edits = Seq.newBuilder[(Int, Int, String)]
    var pos = 0
    for (m <- OrderBy.findAllMatchIn(mask) if m.start >= pos) {
      pos = SqlLexer.clauseEnd(mask, m.end, OrderKeysEnd)
      val keys = SqlLexer.splitRaw(stmt.substring(m.end, pos)).map { k =>
        val km = SqlLexer.mask(k).trim
        if (km.isEmpty || NullsClause.findFirstIn(km).isDefined) k
        else if (DescKey.findFirstIn(km).isDefined)
          k.replaceAll("""(?s)(\S)(\s*)$""", "$1 NULLS FIRST$2")
        else k.replaceAll("""(?s)(\S)(\s*)$""", "$1 NULLS LAST$2")
      }
      edits += ((m.end, pos, keys.mkString(",")))
    }
    SqlLexer.splice(stmt, edits.result())
  }
  private val OrderBy = """(?i)\bORDER\s+BY\s+""".r
  private val OrderKeysEnd = """(?i)(?<!\w)(?:LIMIT|OFFSET|ROWS|RANGE|FETCH)\b""".r
  private val NullsClause = """(?i)\bNULLS\s+(?:FIRST|LAST)\b""".r
  private val DescKey = """(?i)\bDESC\s*$""".r

  /** One named text pass over a statement. */
  private final case class Pass(name: String,
      run: (SparkSession, Map[String, String], String) => String)
  private def textPass(name: String)(f: String => String) =
    Pass(name, (_, _, s) => f(s))
  private def sessionPass(name: String)(f: (SparkSession, String) => String) =
    Pass(name, (spark, _, s) => f(spark, s))

  /** Every text pass, in the order the facade applies them. Each one
    * matches on the [[SqlLexer]] mask of its input, so none edits inside
    * a literal, quoted identifier or comment. */
  private val Passes: Seq[Pass] = Seq(
    Pass("rlsFilters", (spark, opts, s) => applyRlsFilters(spark, s, opts)),
    textPass("timestampIndex")(rewriteTimestampIndex),
    textPass("stripHints")(stripHints),
    textPass("reserved")(rewriteReserved),
    textPass("asOf")(rewriteAsOf),
    textPass("jsonMatch")(rewriteJsonMatch),
    sessionPass("mvDistinct")(rewriteMvDistinct),
    sessionPass("listAggMv")(rewriteListAggMv),
    sessionPass("typeSafeCompare")(rewriteTypeSafeCompare),
    // the schema resolver lets exprMinMax list the source columns it
    // needs instead of SELECT * in the materialized __emm_src CTE
    sessionPass("exprMinMax")((spark, s) => rewriteExprMinMax(s, tbl =>
      try Some(spark.table(tbl).schema.fieldNames.toSeq)
      catch { case scala.util.control.NonFatal(_) => None })),
    textPass("clp")(rewriteClpCalls),
    textPass("thetaSetOps")(rewriteThetaSetOps),
    textPass("orderBySelectExpr")(rewriteOrderBySelectExpr),
    sessionPass("mapValueShredded")(rewriteMapValueShredded),
    sessionPass("geoIndexed")(rewriteGeoIndexed),
    sessionPass("regexpIndexed")(rewriteRegexpIndexed),
    sessionPass("textMatchIndexed")(rewriteTextMatchIndexed),
    textPass("reorderVectorSimilarity")(reorderVectorSimilarity),
    sessionPass("vectorSimilarityIndexed")(rewriteVectorSimilarityIndexed),
    textPass("vectorSimilarity")(rewriteVectorSimilarity))

  private def withOptions(query: String, extra: Map[String, String]): Parsed = {
    val p = parseOptions(query)
    p.copy(options = p.options ++ extra)
  }

  /** The text `spark.sql` receives for `query`: options parsed off (and
    * `extra` merged in), every pass of [[Passes]] in order, then the
    * null-handling pass that the enableNullHandling option picks. DDL
    * and EXPLAIN statements skip the null-handling pass. */
  private[graft] def rewrite(spark: SparkSession, query: String,
      extra: Map[String, String] = Map.empty): String = {
    val Parsed(opts, stmt0) = withOptions(query, extra)
    val stmt = Passes.foldLeft(stmt0)((s, pass) => pass.run(spark, opts, s))
    if (Ddl.isDdl(stmt) || ExplainPrefix.findFirstIn(stmt).isDefined) stmt
    else if (opts.get("enablenullhandling").exists(_.equalsIgnoreCase("true")))
      rewriteNullOrdering(stmt)
    else rewriteJsonNullDefault(stmt)
  }

  def sql(spark: SparkSession, query: String): DataFrame =
    sqlWithExtraOptions(spark, query, Map.empty)

  /** `sql` with options merged in programmatically — the path the
    * broker's access control uses to stamp RLS filters without
    * round-tripping predicate text through SET literal quoting. */
  private[graft] def sqlWithExtraOptions(spark: SparkSession,
      query: String, extra: Map[String, String]): DataFrame = {
    PinotFunctions.registerAll(spark)
    val stmt = rewrite(spark, query, extra)
    if (Ddl.isDdl(stmt)) return Ddl.execute(spark, stmt)
    // Pinot EXPLAIN PLAN FOR <query> (PinotQueryResource explain
    // support): one row per plan-tree line, mirroring the reference's
    // (operator, id, parent) tabular shape with Spark's formatted plan
    ExplainPrefix.findFirstMatchIn(stmt).foreach { m =>
      import spark.implicits._
      val inner = spark.sql(stmt.substring(m.end))
      val lines = inner.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).split("\n")
      return lines.toSeq.toDF("plan")
    }
    val df = spark.sql(stmt)
    val explicit = withOptions(query, extra).options.get("explicitlimit")
      .exists(_.toBoolean)
    val isSelect = stmt.trim.toLowerCase.startsWith("select") ||
      stmt.trim.toLowerCase.startsWith("with")
    if (!explicit && isSelect && !hasTopLevelLimit(df.queryExecution.logical))
      df.limit(DefaultLimit)
    else df
  }
}
