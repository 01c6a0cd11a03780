package graft.sql

import scala.util.matching.Regex

/** The one lexer of graft's SQL text layer: it alone decides where quoted
  * text begins and ends, and every pass that rewrites SQL text before
  * Spark parses it asks it. Its rules are Spark's own lexer's
  * (`org.apache.spark.sql.catalyst.parser.SqlBaseLexer`: the
  * `STRING_LITERAL`, `DOUBLEQUOTED_STRING` and `BACKQUOTED_IDENTIFIER`
  * tokens), since Spark parses the rewritten text in the end:
  *  - `'…'` and `"…"` are string literals. A backslash escapes the next
  *    character, and a doubled quote (`''`, `""`) stays inside the
  *    literal;
  *  - `` `…` `` is an identifier. A doubled backtick stays inside it; a
  *    backslash is an ordinary character;
  *  - an unterminated quote runs to the end of the text.
  *
  * `SqlTextSpec` checks these spans against Spark's lexer. The structure
  * helpers ([[closeParen]], [[topIndexOf]], [[splitTop]], [[splitTopAt]])
  * skip every quoted span and count parentheses only outside them.
  * [[replaceOutside]] never substitutes inside a quoted span of any kind.
  * [[mask]] blanks string-literal contents and leaves identifiers
  * visible, so a regex over it cannot fire on words inside data.
  */
object SqlText {

  /** One quoted span: `start` is its opening quote, `end` is exclusive;
    * an unclosed span ends at the end of the text.
    */
  final case class Span(start: Int, end: Int, closed: Boolean) {
    def contains(i: Int): Boolean = start < i && i < end
  }

  /** What [[mask]] writes over string-literal contents. */
  val Blank = '\u0001'

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'

  private def identChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** The quoted span whose opening quote is at `open`. */
  private def span(s: String, open: Int): Span = {
    val q = s(open)
    var i = open + 1
    while (i < s.length) {
      val c = s(i)
      if (c == '\\' && q != '`') i += 2
      else if (c != q) i += 1
      else if (i + 1 < s.length && s(i + 1) == q) i += 2
      else return Span(open, i + 1, closed = true)
    }
    Span(open, s.length, closed = false)
  }

  /** Every quoted span of `s`, in order. */
  def spans(s: String): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var i = 0
    while (i < s.length) {
      if (isQuote(s(i))) { val sp = span(s, i); out += sp; i = sp.end }
      else i += 1
    }
    out.result()
  }

  /** `s` with the contents of each string literal replaced by [[Blank]],
    * quotes and escapes included; the same length, so an offset into the
    * mask is an offset into `s`. Backticked identifiers stay visible.
    */
  def mask(s: String): String = {
    if (s.indexOf('\'') < 0 && s.indexOf('"') < 0) return s
    val b = s.toCharArray
    spans(s).foreach { sp =>
      if (s(sp.start) != '`')
        java.util.Arrays.fill(b, sp.start + 1, if (sp.closed) sp.end - 1 else sp.end, Blank)
    }
    new String(b)
  }

  /** First index at or after `from` that lies outside every quoted span,
    * at parenthesis depth 0 counted from `from`, and satisfies `p`; -1 if
    * none. A parenthesis is offered to `p` before it changes the depth.
    */
  def topIndexWhere(s: String, from: Int = 0)(p: Int => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      val c = s(i)
      if (isQuote(c)) i = span(s, i).end
      else {
        if (depth == 0 && p(i)) return i
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        i += 1
      }
    }
    -1
  }

  /** Index of the parenthesis closing the one at `open`, or -1. */
  def closeParen(s: String, open: Int): Int =
    if (open < 0 || open >= s.length || s(open) != '(') -1
    else topIndexWhere(s, open + 1)(s(_) == ')')

  /** Index of the parenthesis that the one at `close` closes, or -1. */
  def openParen(s: String, close: Int): Int = {
    var opens = List.empty[Int]
    var i = 0
    while (i < close) {
      val c = s(i)
      if (isQuote(c)) i = span(s, i).end
      else {
        if (c == '(') opens = i :: opens
        else if (c == ')' && opens.nonEmpty) opens = opens.tail
        i += 1
      }
    }
    if (i == close && s(close) == ')' && opens.nonEmpty) opens.head else -1
  }

  /** `(inner, indexAfterClose)` of the parenthesis opening at `open`. */
  def balancedSpan(s: String, open: Int): Option[(String, Int)] =
    closeParen(s, open) match {
      case -1 => None
      case close => Some((s.substring(open + 1, close), close + 1))
    }

  /** Whether the word `w` starts at `i` (case-insensitive, not part of a
    * longer identifier).
    */
  def wordAt(s: String, i: Int, w: String): Boolean =
    s.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !identChar(s(i - 1))) &&
      (i + w.length >= s.length || !identChar(s(i + w.length)))

  /** First top-level occurrence of the word `w` at or after `from`, or -1. */
  def topIndexOf(s: String, w: String, from: Int = 0): Int =
    topIndexWhere(s, from)(wordAt(s, _, w))

  /** `s` split at its top-level `sep` characters, each piece trimmed; a
    * trailing separator adds no empty piece.
    */
  def splitTop(s: String, sep: Char = ','): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = topIndexWhere(s)(s(_) == sep)
    while (i >= 0) {
      out += s.substring(start, i).trim
      start = i + 1
      i = topIndexWhere(s, start)(s(_) == sep)
    }
    if (start < s.length) out += s.substring(start).trim
    out.result()
  }

  /** `s` split where `sep` matches at top level and not inside a word:
    * segments at even indexes, the matched separators at odd ones.
    */
  def splitTopAt(s: String, sep: Regex): Seq[String] = {
    val m = sep.pattern.matcher(s)
    def at(i: Int): Boolean =
      (i == 0 || !identChar(s(i - 1))) && m.region(i, s.length).lookingAt()
    val out = Seq.newBuilder[String]
    var start = 0
    var i = topIndexWhere(s)(at)
    while (i >= 0) {
      out += s.substring(start, i) += s.substring(i, m.end)
      start = m.end
      i = topIndexWhere(s, start)(at)
    }
    out += s.substring(start)
    out.result()
  }

  /** First match of `re` in the [[mask]] of `q`, its groups sliced from
    * `q` itself; an absent optional group comes back null.
    */
  def matchMasked(re: Regex, q: String): Option[IndexedSeq[String]] =
    re.findFirstMatchIn(mask(q)).map { m =>
      (1 to m.groupCount).map(i =>
        if (m.start(i) < 0) null else q.substring(m.start(i), m.end(i)))
    }

  /** `s` with every match of `re` replaced by `f` of it, verbatim (no
    * `$n` or `\` processing). Matches are found in the [[mask]] of `s`, so
    * text inside a string literal never starts one; a match that starts
    * or ends inside a quoted span of any kind is skipped, while one that
    * holds whole spans (`INTERVAL '1' DAY`) is kept when `re` also
    * matches the same span of `s` itself. `f` sees that match of `s`,
    * literal contents included.
    */
  def replaceOutside(s: String, re: Regex, f: Regex.Match => String): String = {
    val found = re.pattern.matcher(mask(s))
    if (!found.find()) return s
    val quoted = spans(s)
    val sb = new java.lang.StringBuilder
    var last = 0
    while ({
      val (ms, me) = (found.start, found.end)
      if (!quoted.exists(sp => sp.contains(ms) || sp.contains(me))) {
        val m = re.pattern.matcher(s).region(ms, me)
          .useTransparentBounds(true).useAnchoringBounds(false)
        if (m.matches()) {
          sb.append(s, last, ms).append(f(new Regex.Match(s, m, Nil).force))
          last = me
        }
      }
      found.find()
    }) ()
    sb.append(s, last, s.length).toString
  }
}
