package graft.sql

import scala.util.matching.Regex

/** The facade's one SQL lexer.
  *
  * [[lex]] scans a statement once and records the regions no text pass
  * may edit inside:
  *  - `'…'` string literals, with `''` and backslash escapes;
  *  - `"…"` literals (Spark's default dialect reads them as strings);
  *  - `` `…` `` quoted identifiers, with doubled-backtick escapes;
  *  - `--` line comments and `/* … */` block comments (nested, as in
  *    Spark's lexer), and `/*+ … */` hints (not nested).
  *
  * The mask is the statement with each region's contents blanked to
  * spaces: quote characters stay, comments are blanked whole. It has the
  * statement's length, so a pass matches on the mask and splices its
  * output into the original text by offset. A pass therefore never
  * sees, and never edits, what a literal, quoted identifier or comment
  * holds. The helpers below count paren depth over `(`/`[` and `)`/`]`
  * of a mask.
  */
object SqlLexer {

  sealed trait Kind
  /** `'…'` or `"…"`. */
  case object Str extends Kind
  /** `` `…` ``. */
  case object Ident extends Kind
  /** `-- …` or `/* … */`. */
  case object Comment extends Kind
  /** `/*+ … */`. */
  case object Hint extends Kind

  /** `[start, end)` of one region; `closed` is false when the statement
    * ends inside it. */
  final case class Region(start: Int, end: Int, kind: Kind, closed: Boolean)

  final class Lexed(val text: String, val regions: IndexedSeq[Region]) {
    /** Every region's contents blanked. */
    lazy val mask: String = blank(_ => true)
    /** The mask with quoted identifiers left readable, for passes that
      * match table or column names, which may be quoted. */
    lazy val identMask: String = blank(_.kind != Ident)

    /** `pos` lies inside a quoted identifier, after its opening quote. */
    def inIdent(pos: Int): Boolean =
      regions.exists(r => r.kind == Ident && r.start < pos && pos < r.end)

    private def blank(p: Region => Boolean): String =
      if (regions.isEmpty) text
      else {
        val cs = text.toCharArray
        regions.foreach { r =>
          if (p(r)) r.kind match {
            case Comment | Hint => java.util.Arrays.fill(cs, r.start, r.end, ' ')
            case _ => java.util.Arrays.fill(cs, r.start + 1,
              if (r.closed) r.end - 1 else r.end, ' ')
          }
        }
        new String(cs)
      }
  }

  def lex(text: String): Lexed = {
    val n = text.length
    val out = IndexedSeq.newBuilder[Region]
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        var end = -1
        while (end < 0 && j < n) {
          val d = text.charAt(j)
          if (d == '\\' && c != '`') j += 2
          else if (d != c) j += 1
          else if (j + 1 < n && text.charAt(j + 1) == c) j += 2
          else end = j + 1
        }
        out += Region(i, if (end < 0) n else end,
          if (c == '`') Ident else Str, end >= 0)
        i = if (end < 0) n else end
      } else if (text.startsWith("--", i)) {
        val nl = text.indexOf('\n', i)
        val end = if (nl < 0) n else nl
        out += Region(i, end, Comment, closed = true)
        i = end
      } else if (text.startsWith("/*", i)) {
        val hint = text.startsWith("/*+", i)
        var depth = 1
        var j = i + 2
        while (depth > 0 && j < n) {
          if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else if (!hint && text.startsWith("/*", j)) { depth += 1; j += 2 }
          else j += 1
        }
        out += Region(i, j, if (hint) Hint else Comment, depth == 0)
        i = j
      } else i += 1
    }
    new Lexed(text, out.result())
  }

  def mask(text: String): String = lex(text).mask

  private def depthDelta(c: Char): Int = c match {
    case '(' | '[' => 1
    case ')' | ']' => -1
    case _ => 0
  }

  /** Offset of the `)`/`]` that closes the bracket at `open` in `mask`,
    * or -1 when it is unbalanced. */
  def closing(mask: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < mask.length) {
      depth += depthDelta(mask.charAt(i))
      if (depth == 0) return i
      i += 1
    }
    -1
  }

  /** Matches of `re` in `mask` that start at paren depth 0. */
  def topLevel(mask: String, re: Regex): Iterator[Regex.Match] = {
    var depth = 0
    var p = 0
    re.findAllMatchIn(mask).filter { m =>
      while (p < m.start) { depth += depthDelta(mask.charAt(p)); p += 1 }
      depth == 0
    }
  }

  /** Offset of the first depth-0 whole-word `keyword` in `mask` at or
    * after `from`, or -1. */
  def findTopLevel(mask: String, keyword: String, from: Int = 0): Int =
    topLevel(mask, ("(?i)(?<!\\w)" + keyword + "(?!\\w)").r)
      .find(_.start >= from).map(_.start).getOrElse(-1)

  private val Comma = ",".r

  /** The pieces of `text` between its depth-0 `sep` matches, as
    * written (untrimmed, empty pieces kept). */
  def splitRaw(text: String, sep: Regex = Comma): Seq[String] = {
    val cuts = topLevel(mask(text), sep).map(m => (m.start, m.end)).toSeq
    ((0, 0) +: cuts).zip(cuts.map(_._1) :+ text.length).map {
      case ((_, from), to) => text.substring(from, to)
    }
  }

  /** Trimmed, non-empty depth-0 comma pieces: an argument or item list. */
  def splitTopLevel(text: String): Seq[String] =
    splitRaw(text).map(_.trim).filter(_.nonEmpty)

  /** Keywords that end a WHERE body. */
  val ClauseTail: Regex =
    """(?i)(?<!\w)(?:group\s+by|order\s+by|limit|having|union|intersect|except)\b""".r

  /** End of the clause that starts at `from` in `mask`: the first
    * depth-0 match of `stop`, else the `)`/`]` that closes an enclosing
    * bracket, else the end of the mask. */
  def clauseEnd(mask: String, from: Int, stop: Regex = ClauseTail): Int = {
    val m = stop.pattern.matcher(mask).useTransparentBounds(true)
      .useAnchoringBounds(false)
    var depth = 0
    var i = from
    while (i < mask.length) {
      val d = depthDelta(mask.charAt(i))
      if (d < 0 && depth == 0) return i
      depth += d
      if (depth == 0 && d == 0 && m.region(i, mask.length).lookingAt())
        return i
      i += 1
    }
    mask.length
  }

  /** `s` is wrapped in single quotes, as a string-literal argument is. */
  def singleQuoted(s: String): Boolean =
    s.length >= 2 && s.head == '\'' && s.last == '\''

  /** Decode a quoted SQL string literal the way Spark's parser does
    * (ParserUtils.unescapeSQLString): backslash escapes (\\ \' \" \n
    * \t \r \b \0 \Z, \uXXXX) plus the doubled-quote form. A rewrite
    * that reads literal TEXT out of the statement must apply this
    * before handing the value to a programmatic Column, or patterns
    * like 'co\\..*' reach the dictionary with a double backslash the
    * scan path would never see.
    *
    * Mirrors Spark's `appendEscapedChar` exactly — in particular \%
    * and \_ KEEP their backslash (MySQL-compatible LIKE escapes: the
    * lexer leaves them escaped so LIKE still sees a literal %/_), \Z
    * is the SUB control char (0x1A), and \f has NO special meaning
    * (plain 'f', the default arm). Dropping the backslash of \% here
    * would turn an escaped literal % into a wildcard on the
    * dictionary path only — an over-broad match set emitted as an
    * exact IN-list with no re-verify (wrong rows vs the scan path).
    * RegexpIndexSpec gates this against spark.sql round-trips. */
  private[graft] def unescapeSqlLiteral(quoted: String): String = {
    val body = quoted.stripPrefix("'").stripSuffix("'")
    def isOct(c: Char) = c >= '0' && c <= '7'
    def isHex(c: Char) = (c >= '0' && c <= '9') ||
      (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val sb = new StringBuilder(body.length)
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) {
        val n = body.charAt(i + 1)
        if (n == 'u' && i + 5 < body.length &&
            (2 to 5).forall(k => isHex(body.charAt(i + k)))) {
          sb.append(Integer.parseInt(body.substring(i + 2, i + 6), 16)
            .toChar)
          i += 6
        } else if (n >= '0' && n <= '1' && i + 3 < body.length &&
            isOct(body.charAt(i + 2)) && isOct(body.charAt(i + 3))) {
          sb.append(Integer.parseInt(body.substring(i + 1, i + 4), 8)
            .toChar)
          i += 4
        } else {
          n match {
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'Z' => sb.append(26.toChar)
            case '%' => sb.append("\\%")
            case '_' => sb.append("\\_")
            case '0' => sb.append(0.toChar)
            case other => sb.append(other)
          }
          i += 2
        }
      } else if (c == '\'' && i + 1 < body.length &&
          body.charAt(i + 1) == '\'') {
        sb.append('\''); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A match found on a mask, read back from the original text. */
  final class Hit(text: String, m: Regex.Match) {
    def matched: String = text.substring(m.start, m.end)
    /** Group `i` as written in the original (null if it did not take part). */
    def group(i: Int): String =
      if (m.start(i) < 0) null else text.substring(m.start(i), m.end(i))
    /** Group `i` as it reads in the mask. */
    def masked(i: Int): String = m.group(i)
  }

  /** Replace every match of `re` on the mask of `text` by `f`'s output,
    * spliced into the original by offset. Returning `hit.matched` keeps
    * a match as is. With `idents`, matching runs on the identifier-
    * readable mask, and a match that starts inside an identifier is
    * skipped. */
  def replaceAll(text: String, re: Regex, idents: Boolean = false)(
      f: Hit => String): String = {
    val lexed = lex(text)
    val hits =
      if (!idents) re.findAllMatchIn(lexed.mask)
      else re.findAllMatchIn(lexed.identMask).filterNot(m => lexed.inIdent(m.start))
    splice(text, hits.map(m => (m.start, m.end, f(new Hit(text, m)))).toSeq)
  }

  /** Replace `[start, end)` spans of `text`, given in order and not
    * overlapping. */
  def splice(text: String, edits: Seq[(Int, Int, String)]): String =
    if (edits.isEmpty) text
    else {
      val sb = new java.lang.StringBuilder(text.length + 16)
      var last = 0
      edits.foreach { case (s, e, r) => sb.append(text, last, s).append(r); last = e }
      sb.append(text, last, text.length).toString
    }
}
