package graft.sql

/** Pre-parse string rewrites for MySQL dialect constructs Spark's parser
  * or analyzer handles differently — pure text-to-text, applied by
  * [[GraftSql.sql]] before dispatch. Each rewrite cites the reference
  * behavior it reproduces (goldens under `test/distributed/cases/`).
  */
object MySqlCompat {

  // Quoted text, parentheses and top-level words are found by
  // [[SqlText]], the one lexer of the text layer.

  // ------------------------------------------------------------------
  // MySQL compound INTERVAL units
  // ------------------------------------------------------------------

  private val CompoundUnits: Map[String, Seq[Long]] = {
    val D = 86400000000L; val H = 3600000000L; val M = 60000000L
    val S = 1000000L; val U = 1L
    Map(
      "day_hour" -> Seq(D, H),
      "day_minute" -> Seq(D, H, M),
      "day_second" -> Seq(D, H, M, S),
      "day_microsecond" -> Seq(D, H, M, S, U),
      "hour_minute" -> Seq(H, M),
      "hour_second" -> Seq(H, M, S),
      "hour_microsecond" -> Seq(H, M, S, U),
      "minute_second" -> Seq(M, S),
      "minute_microsecond" -> Seq(M, S, U),
      "second_microsecond" -> Seq(S, U))
  }

  private val IntervalRe =
    ("""(?i)\binterval\s+("[^"]*"|'[^']*'|null|-?\d+(?:\.\d+)?|-?\d+<<\d+)\s+""" +
      """(day_hour|day_minute|day_second|day_microsecond|hour_minute|hour_second|""" +
      """hour_microsecond|minute_second|minute_microsecond|second_microsecond|""" +
      """year_month|quarter|year|month|week|day|hour|minute|second|microsecond)\b""").r

  /** MySQL's compound interval units (`INTERVAL "1 1:1:1.5" DAY_SECOND`,
    * `QUARTER`, decimal counts, NULL counts, `1<<37` counts — goldens
    * `expression/temporal_interval.result`; reference unit table in
    * `pkg/sql/parsers/tree/interval.go`). Parts are right-aligned,
    * out-of-range parts carry (99 seconds = 1m39s), a lone fraction
    * right-pads to microseconds, NULL yields a NULL interval. Rewritten
    * to `make_dt_interval` / `make_interval` calls, which accept any
    * numeric magnitude and NULL.
    */
  private val IdentIntervalRe =
    ("""(?i)\binterval\s+([A-Za-z_]\w*(?:\.\w+)?)\s+""" +
      """(year|quarter|month|week|day|hour|minute|second)\b""").r

  /** `INTERVAL <column> DAY` — a non-literal count Spark's interval
    * literal grammar cannot take (func_datetime_date.result:71
    * `INTERVAL life_time DAY`) → make_interval/make_dt_interval calls.
    */
  private def identIntervals(q0: String): String =
    SqlText.replaceOutside(q0, IdentIntervalRe, m => {
      val v = m.group(1)
      if (v.equalsIgnoreCase("null")) m.matched // handled by IntervalRe
      else {
        val c = s"CAST($v AS INT)"
        m.group(2).toLowerCase match {
          case "year" => s"make_interval($c)"
          case "quarter" => s"make_interval(0, 3 * $c)"
          case "month" => s"make_interval(0, $c)"
          case "week" => s"make_dt_interval(7 * $c)"
          case "day" => s"make_dt_interval($c)"
          case "hour" => s"make_dt_interval(0, $c)"
          case "minute" => s"make_dt_interval(0, 0, $c)"
          case "second" => s"make_dt_interval(0, 0, 0, CAST($v AS DECIMAL(30,6)))"
        }
      }
    })

  def intervalUnits(q0raw: String): String = {
    val q0 = identIntervals(q0raw)
    SqlText.replaceOutside(q0, IntervalRe, m => {
      val rawVal = m.group(1)
      val unit = m.group(2).toLowerCase
      val quoted = rawVal.head == '"' || rawVal.head == '\''
      val body = if (quoted) rawVal.substring(1, rawVal.length - 1).trim else rawVal
      val isNull = body.equalsIgnoreCase("null")
      def out(s: String) = s

      def shifted(s: String): Option[BigInt] =
        """^(-?\d+)<<(\d+)$""".r.findFirstMatchIn(s)
          .map(sm => BigInt(sm.group(1)) << sm.group(2).toInt)

      if (isNull) {
        if (unit == "year_month" || unit == "quarter" || unit == "year" || unit == "month")
          out("make_interval(0, CAST(NULL AS INT))")
        else out("make_dt_interval(0, 0, 0, CAST(NULL AS DECIMAL(30,6)))")
      } else if (unit == "year_month") {
        val neg = body.startsWith("-")
        val parts = body.stripPrefix("-").split("[^0-9]+").filter(_.nonEmpty)
        val (y, mo) =
          if (parts.length >= 2) (BigInt(parts(0)), BigInt(parts(1)))
          else (BigInt(0), BigInt(parts.headOption.getOrElse("0")))
        val months = (y * 12 + mo) * (if (neg) -1 else 1)
        out(s"make_interval(0, $months)")
      } else if (unit == "quarter") {
        val n = shifted(body).orElse(
          try Some(BigInt(new java.math.BigDecimal(body)
            .setScale(0, java.math.RoundingMode.HALF_UP).toBigInteger))
          catch { case _: NumberFormatException => None })
        n.map(v => out(s"make_interval(0, ${v * 3})")).getOrElse(m.matched)
      } else if (CompoundUnits.contains(unit)) {
        val factors = CompoundUnits(unit)
        val neg = body.trim.startsWith("-")
        val digits = body.trim.stripPrefix("-")
        val rawParts = digits.split("[^0-9]+").filter(_.nonEmpty)
        // right-aligned: "1:1" MINUTE_SECOND is 1 minute 1 second; a
        // microsecond slot fed from a '.' fraction pads right to 6
        val parts = rawParts.takeRight(factors.length)
        val aligned = Seq.fill(factors.length - parts.length)("0") ++ parts
        val lastIsMicro = factors.last == 1L
        val vals = aligned.zipWithIndex.map { case (p, i) =>
          if (lastIsMicro && i == factors.length - 1 && digits.contains('.'))
            BigInt(p.padTo(6, '0').take(6))
          else BigInt(p)
        }
        val micros = vals.zip(factors).map { case (v, f) => v * f }.sum *
          (if (neg) -1 else 1)
        val secs = micros / 1000000L
        val us = (micros - secs * 1000000L).abs
        out(s"make_dt_interval(0, 0, 0, CAST('$secs.${f"$us%06d"}' AS DECIMAL(30,6)))")
      } else {
        // simple unit: rewrite only when Spark's literal grammar cannot
        // take the value (decimal count on a non-second unit, << expr)
        val shiftedV = shifted(body)
        val isDec = body.matches("-?\\d+\\.\\d+")
        if (shiftedV.isEmpty && !(isDec && unit != "second")) m.matched
        else {
          val n = shiftedV.map(BigDecimal(_)).getOrElse(BigDecimal(body))
          // fractional day-time counts are EXACT in MySQL (1.5 MINUTE =
          // 90 seconds, temporal_interval.result); year/month fractions
          // round to whole units (months are discrete)
          unit match {
            case "year" => out(s"make_interval(${n.setScale(0, BigDecimal.RoundingMode.HALF_UP)})")
            case "month" => out(s"make_interval(0, ${n.setScale(0, BigDecimal.RoundingMode.HALF_UP)})")
            case "week" => out(s"make_dt_interval(0, 0, 0, ${n * 604800})")
            case "day" => out(s"make_dt_interval(0, 0, 0, ${n * 86400})")
            case "hour" => out(s"make_dt_interval(0, 0, 0, ${n * 3600})")
            case "minute" => out(s"make_dt_interval(0, 0, 0, ${n * 60})")
            case "second" => out(s"make_dt_interval(0, 0, 0, $n)")
            case "microsecond" =>
              out(s"make_dt_interval(0, 0, 0, CAST(${n / 1000000} AS DECIMAL(30,6)))")
            case _ => m.matched
          }
        }
      }
    })
  }

  // ------------------------------------------------------------------
  // DATE_ADD / DATE_SUB with interval expressions
  // ------------------------------------------------------------------

  private val DateAddRe = """(?i)\b(date_add|date_sub|adddate|subdate)\s*\(""".r
  private val TsAddRe = """(?i)\btimestampadd\s*\(""".r

  /** MySQL TIMESTAMPADD(unit, n, x): same result-type rule as DATE_ADD
    * (date-granularity unit over a DATE-shaped input stays DATE,
    * func_datetime_timestampadd_edge_cases.result renders no time part).
    */
  def timestampAdd(q0: String): String = {
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      TsAddRe.findAllMatchIn(SqlText.mask(q)).toList.reverseIterator.foreach { m =>
        if (!changed) {
          val close = SqlText.closeParen(q, m.end - 1)
          if (close > 0) {
            val args = SqlText.splitTop(q.substring(m.end, close)).map(_.trim)
            if (args.lengthIs == 3) {
              val unit = args(0).toLowerCase.replaceAll("^sql_tsi_", "")
              val n = args(1)
              val x = args(2)
              val c = s"CAST($n AS INT)"
              val iv = unit match {
                case "year" => s"make_interval($c)"
                case "quarter" => s"make_interval(0, 3 * $c)"
                case "month" => s"make_interval(0, $c)"
                case "week" => s"make_dt_interval(7 * $c)"
                case "day" => s"make_dt_interval($c)"
                case "hour" => s"make_dt_interval(0, $c)"
                case "minute" => s"make_dt_interval(0, 0, $c)"
                case "second" => s"make_dt_interval(0, 0, 0, CAST($n AS DECIMAL(30,6)))"
                case "microsecond" =>
                  s"make_dt_interval(0, 0, 0, CAST($n AS DECIMAL(30,6)) / 1000000)"
                case _ => null
              }
              if (iv != null) {
                val dateOnly = Set("year", "quarter", "month", "week", "day")
                  .contains(unit)
                // a DATE operand with a day-or-coarser unit yields DATE
                // (func_datetime_timestampadd_comprehensive: DATE('…')
                // + 5 DAY displays without a time part)
                val litDate = x.matches("""^["'][^"':]*["']$""") ||
                  """(?i)^date\s*\(""".r.findFirstIn(x.trim).isDefined
                val rep0 =
                  if (litDate && dateOnly) s"CAST(CAST($x AS DATE) + $iv AS DATE)"
                  else s"(($x) + $iv)"
                val rep = s"(CASE WHEN ($rep0) BETWEEN TIMESTAMP'0001-01-01 00:00:00' " +
                  s"AND TIMESTAMP'9999-12-31 23:59:59.999999' THEN ($rep0) ELSE NULL END)"
                q = q.substring(0, m.start) + rep + q.substring(close + 1)
                changed = true
              }
            }
          }
        }
      }
    }
    q
  }

  /** MySQL `DATE_ADD(x, INTERVAL n unit)` — Spark's date_add takes an
    * int day count, so the interval form becomes `+`/`-` arithmetic
    * (which Spark types natively). MySQL's result-type rule is kept for
    * the decidable case: a DATE-shaped literal combined with a
    * date-granularity interval stays a DATE
    * (`expression/temporal_interval.result:1` renders no time part).
    */
  def dateAddSub(q0: String): String = {
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      DateAddRe.findAllMatchIn(SqlText.mask(q)).toList.reverseIterator.find { m =>
        val close = SqlText.closeParen(q, m.end - 1)
        close > 0 && {
          val args = SqlText.splitTop(q.substring(m.end, close)).map(_.trim)
          args.lengthIs == 2 &&
            """(?i)^(interval\b|make_interval|make_dt_interval)""".r
              .findFirstIn(args(1)).isDefined
        }
      }.foreach { m =>
        val close = SqlText.closeParen(q, m.end - 1)
        val args = SqlText.splitTop(q.substring(m.end, close)).map(_.trim)
        val op = if (m.group(1).toLowerCase.startsWith("date_a") ||
          m.group(1).equalsIgnoreCase("adddate")) "+" else "-"
        val dateOnly =
          """(?i)^(make_interval\b|interval\s+\S+\s+(year|quarter|month|week|day)\b)""".r
            .findFirstIn(args(1)).isDefined
        val litDate = args(0).matches("""^["'][^"':]*["']$""")
        val rep0 =
          if (litDate && dateOnly)
            s"CAST(CAST(${args(0)} AS DATE) $op ${args(1)} AS DATE)"
          else s"((${args(0)}) $op ${args(1)})"
        // MySQL's DATETIME domain is [1000-01-01, 9999-12-31]; a result
        // outside it is NULL (temporal_interval.result: 100000 QUARTER)
        val rep = s"(CASE WHEN ($rep0) BETWEEN TIMESTAMP'0001-01-01 00:00:00' " +
          s"AND TIMESTAMP'9999-12-31 23:59:59.999999' THEN ($rep0) ELSE NULL END)"
        q = q.substring(0, m.start) + rep + q.substring(close + 1)
        changed = true
      }
    }
    q
  }

  // ------------------------------------------------------------------
  // GROUP_CONCAT([DISTINCT] exprs [ORDER BY …] [SEPARATOR 'x'])
  // ------------------------------------------------------------------

  private val GroupConcatRe = """(?i)\bgroup_concat\s*\(""".r

  /** MySQL's full GROUP_CONCAT surface (reference
    * `pkg/sql/colexec/multi_col/group_concat/`, goldens
    * `function/function_group_concat.result`): the DISTINCT / ORDER BY
    * / SEPARATOR clauses live INSIDE the call, which Spark's parser
    * rejects. ORDER BY forms become `listagg … WITHIN GROUP`, the rest
    * become sorted collect_list/collect_set joins (the no-ORDER result
    * order is engine-defined; ascending is the deterministic choice the
    * plain registered alias also uses).
    */
  def groupConcat(q0: String): String = {
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      GroupConcatRe.findAllMatchIn(SqlText.mask(q)).toList.reverseIterator.foreach { m =>
        if (!changed) {
          val close = SqlText.closeParen(q, m.end - 1)
          if (close > 0) {
            val a = q.substring(m.end, close).trim
            val distinct = """(?is)^distinct\b""".r.findFirstIn(a).isDefined
            val sepM = """(?is)\bseparator\s+('(?:[^'\\]|\\.)*')\s*$""".r
              .findFirstMatchIn(a)
            val obIdx = SqlText.topIndexOf(a, "order")
            if (distinct || sepM.isDefined || obIdx >= 0) {
              val sep = sepM.map(_.group(1)).getOrElse("','")
              val noSep = sepM.map(x => a.substring(0, x.start)).getOrElse(a).trim
              val (listPart, obPart) =
                if (obIdx >= 0 && obIdx < noSep.length)
                  (noSep.substring(0, obIdx).trim,
                    noSep.substring(obIdx).replaceAll("(?is)^order\\s+by\\s+", ""))
                else (noSep, null)
              val exprs = SqlText.splitTop(
                listPart.replaceAll("(?is)^distinct\\b", "").trim).map(_.trim)
              val value =
                if (exprs.lengthIs == 1) s"CAST(${exprs.head} AS STRING)"
                else "concat(" + exprs.map(e => s"CAST($e AS STRING)").mkString(", ") + ")"
              // Spark's listagg DISTINCT requires the ordering to be the
              // value expression itself
              val ob =
                if (obPart != null && distinct &&
                  exprs.lengthIs == 1 && obPart.trim.equalsIgnoreCase(exprs.head))
                  value
                else obPart
              val rep =
                if (ob != null)
                  s"listagg(${if (distinct) "DISTINCT " else ""}$value, $sep) " +
                    s"WITHIN GROUP (ORDER BY $ob)"
                else {
                  // a group whose values are all NULL yields NULL in
                  // MySQL, not '' (collect_* drop NULLs silently)
                  val fn = if (distinct) "collect_set" else "collect_list"
                  s"(CASE WHEN count($value) = 0 THEN CAST(NULL AS STRING) " +
                    s"ELSE array_join(array_sort($fn($value)), $sep) END)"
                }
              q = q.substring(0, m.start) + rep + q.substring(close + 1)
              changed = true
            }
          }
        }
      }
    }
    q
  }

  // ------------------------------------------------------------------
  // VALUES-table and TABLE statements in subquery position
  // ------------------------------------------------------------------

  /** MySQL 8 table-value constructors (`ANY (VALUES ROW(1), ROW(2))`)
    * and `TABLE t` shorthand inside subqueries
    * (`subquery/mysql_compat_values_table_subquery.result`) → the
    * SELECT forms Spark parses.
    */
  private val ValuesRowRe =
    """(?is)\bvalues\s+(row\s*\([^)]*\)(?:\s*,\s*row\s*\([^)]*\))*)""".r
  private val TableShorthandRe =
    """(?i)(\(|\bunion(?:\s+all|\s+distinct)?|\bintersect|\bexcept)\s*table\s+(`?\w+`?)""".r

  def valuesTable(q0: String): String = {
    // balanced-paren scan: row cells may nest calls/casts
    // (`row(abs(-2), cast('[3,4,5]' as vecf32(3)))`, dml/select/values)
    val HeadRe = """(?i)\bvalues\s+row\s*\(""".r
    var q = q0
    var changed = true
    while (changed && HeadRe.findFirstIn(SqlText.mask(q)).isDefined) {
      changed = false
      val masked = SqlText.mask(q)
      HeadRe.findFirstMatchIn(masked).foreach { m =>
        var i = m.end - 1 // the '(' of the first row
        val rows = Seq.newBuilder[String]
        var ok = true
        var endIdx = -1
        val RowSep = """(?is)^\s*,\s*row\s*\(""".r
        while (endIdx < 0 && ok) {
          val close = SqlText.closeParen(q, i)
          if (close < 0) ok = false
          else {
            rows += q.substring(i, close + 1)
            RowSep.findFirstMatchIn(masked.substring(close + 1)) match {
              case Some(s2) => i = close + 1 + s2.end - 1
              case None => endIdx = close
            }
          }
        }
        if (ok) {
          val rs = rows.result()
          // MySQL names values-table columns column_0, column_1, … ;
          // UNION ALL selects instead of an inline VALUES table so cells
          // may hold arbitrary expressions (casts/UDFs — Spark's inline
          // table only evaluates foldables)
          val sels = rs.map { r =>
            val cells = SqlText.splitTop(r.substring(1, r.length - 1))
            "SELECT " + cells.zipWithIndex
              .map { case (c, k) => s"($c) AS column_$k" }.mkString(", ")
          }
          q = q.substring(0, m.start) +
            s"SELECT * FROM (${sels.mkString(" UNION ALL ")}) _gvals" +
            q.substring(endIdx + 1)
          changed = true
        }
      }
    }
    // `TABLE t` query shorthand in subquery / set-operation position
    q = SqlText.replaceOutside(q, TableShorthandRe, m =>
      s"${m.group(1)} SELECT * FROM ${m.group(2)}")
    q
  }

  // ------------------------------------------------------------------
  // Row-constructor (tuple) comparisons with MySQL 3VL semantics
  // ------------------------------------------------------------------

  /** `(a,b,c) OP (d,e,f)` — MySQL compares row constructors elementwise
    * with NULL propagation ((1,2,3)=(1,NULL,3) is NULL, not false;
    * `operator/row_constructor.result`). Spark's struct comparison
    * treats NULL fields as ordinary values, so expand to the
    * three-valued boolean combination before parse. Ordering compares
    * are lexicographic: a<d OR (a=d AND (b<e ...)).
    */
  def rowCompare(q0: String): String = {
    var q = q0
    var changed = true
    val OpRe = """\)\s*(<=>|=|<>|!=|<=|>=|<|>)\s*\(""".r
    val InListRe = """(?i)\)\s*(not\s+)?in\s*\(""".r
    while (changed) {
      changed = false
      // scan positions on the masked copy so parens/keywords inside
      // string literals never pair up (same length → same offsets)
      val mq = SqlText.mask(q)
      // `(tuple) [NOT] IN ((t1),(t2),…)` — a list of row constructors:
      // OR of row equalities (each re-expanded by the pass below), so
      // NULL components propagate like MySQL (row_constructor.result:63)
      val inHit = InListRe.findAllMatchIn(mq).find { m =>
        val lOpen = SqlText.openParen(q, m.start)
        val rClose = SqlText.closeParen(q, m.end - 1)
        lOpen >= 0 && rClose > 0 && !isFunctionCall(q, lOpen) &&
          isTuple(q.substring(lOpen + 1, m.start)) && {
            val items = SqlText.splitTop(q.substring(m.end, rClose)).map(_.trim)
            items.nonEmpty && items.forall(it =>
              it.startsWith("(") && it.endsWith(")") &&
                isTuple(it.substring(1, it.length - 1)))
          }
      }
      inHit.foreach { m =>
        val lOpen = SqlText.openParen(q, m.start)
        val rClose = SqlText.closeParen(q, m.end - 1)
        val lhs = q.substring(lOpen, m.start + 1)
        val items = SqlText.splitTop(q.substring(m.end, rClose)).map(_.trim)
        val eqs = items.map(it => s"($lhs = $it)").mkString(" OR ")
        val body = if (m.group(1) != null) s"(NOT ($eqs))" else s"($eqs)"
        q = q.substring(0, lOpen) + body + q.substring(rClose + 1)
        changed = true
      }
      if (changed) { /* re-scan from the top */ }
      val hit = if (changed) None else OpRe.findAllMatchIn(mq).find { m =>
        val rClose = SqlText.closeParen(q, m.end - 1)
        val lClose = m.start
        val lOpen = SqlText.openParen(q, lClose)
        rClose > 0 && lOpen >= 0 &&
          isTuple(q.substring(lOpen + 1, lClose)) &&
          isTuple(q.substring(m.end, rClose)) &&
          !isFunctionCall(q, lOpen)
      }
      hit.foreach { m =>
        val op0 = m.group(1)
        val rOpen = m.end - 1
        val rClose = SqlText.closeParen(q, rOpen)
        val lClose = m.start
        val lOpen = SqlText.openParen(q, lClose)
        val ls = SqlText.splitTop(q.substring(lOpen + 1, lClose)).map(_.trim)
        val rs = SqlText.splitTop(q.substring(m.end, rClose)).map(_.trim)
        val rep =
          if (ls.length != rs.length) null
          else {
            val op = if (op0 == "!=") "<>" else op0
            op match {
              case "=" | "<=>" =>
                "(" + ls.zip(rs).map { case (a, b) => s"(($a) $op ($b))" }
                  .mkString(" AND ") + ")"
              case "<>" =>
                "(NOT (" + ls.zip(rs).map { case (a, b) => s"(($a) = ($b))" }
                  .mkString(" AND ") + "))"
              case _ => // lexicographic <, <=, >, >=
                val strict = op.stripSuffix("=")
                def lex(i: Int): String =
                  if (i == ls.length - 1) s"((${ls(i)}) $op (${rs(i)}))"
                  else s"(((${ls(i)}) $strict (${rs(i)})) OR (((${ls(i)}) = (${rs(i)})) AND ${lex(i + 1)}))"
                lex(0)
            }
          }
        if (rep != null) {
          q = q.substring(0, lOpen) + rep + q.substring(rClose + 1)
          changed = true
        }
      }
    }
    q
  }

  /** Matching open paren for the close at `close`, or -1. */
  /** ≥2 top-level comma items, none of which opens a SELECT. */
  private def isTuple(inner: String): Boolean =
    SqlText.splitTop(inner).lengthIs >= 2 &&
      !"""(?is)^\s*select\b""".r.findFirstIn(inner).isDefined

  private val SqlKeywords = Set(
    "select", "where", "and", "or", "not", "on", "when", "then", "else",
    "in", "all", "any", "some", "from", "by", "having", "set", "values",
    "case", "end", "union", "intersect", "except", "distinct", "as",
    "between", "like", "is", "exists", "if")

  /** The paren at `open` is a call-argument list (preceded by an
    * identifier that is not a SQL keyword), not a bare row constructor.
    */
  private def isFunctionCall(s: String, open: Int): Boolean = {
    var i = open - 1
    while (i >= 0 && s(i).isWhitespace) i -= 1
    if (i < 0 || !(s(i).isLetterOrDigit || s(i) == '_' || s(i) == '`')) return false
    var b = i
    while (b >= 0 && (s(b).isLetterOrDigit || s(b) == '_' || s(b) == '`')) b -= 1
    !SqlKeywords.contains(s.substring(b + 1, i + 1).toLowerCase)
  }

  // ------------------------------------------------------------------
  // Projection-context [NOT] IN (subquery): MySQL three-valued result
  // ------------------------------------------------------------------

  /** In a SELECT list, MySQL's `x IN (subquery)` yields NULL when no
    * match is decidable (x NULL, or the subquery produced a NULL) —
    * Spark's InSubquery yields FALSE there
    * (`subquery/subquery-with-in.result`, the engine's MARK-join
    * semantics, reference `pkg/sql/colexec/join/mark.go`). Expand into
    * a null-aware CASE; the extra EXISTS probes reuse the subquery with
    * an is-null filter so correlation depth is unchanged.
    */
  def projectionIn(q0: String): String = {
    // a CREATE VIEW body freezes Spark's (non-3VL) projection IN into
    // the catalog — rewrite the body before it's stored
    // (view-subquery-with-in.result v2/v3/v7)
    """(?is)^(\s*create\s+(?:or\s+replace\s+)?view\s+.+?\bas\s+)(select\b.*)$""".r
      .findFirstMatchIn(q0).foreach { m =>
        return m.group(1) + projectionIn(m.group(2))
      }
    if (!"""(?is)^\s*select\b""".r.findFirstIn(q0).isDefined) return q0
    val selStart = q0.toLowerCase.indexOf("select") + 6
    val fromIdx = SqlText.topIndexOf(q0, "from", selStart)
    // predicate-position IN already filters identically under Spark's
    // 2VL (null rows drop either way) — but a query that OBSERVES the
    // unknown (`(x IN (...)) IS NULL`, subquery-with-in.result:608)
    // needs the three-valued form everywhere
    val observesNull = """(?i)\)\s*is\s+(not\s+)?null""".r.findFirstIn(q0).isDefined
    val selEnd =
      if (observesNull || fromIdx < 0) q0.length else fromIdx
    val InRe = """(?i)\b(not\s+)?in\s*\(""".r
    val hits = InRe.findAllMatchIn(q0).filter(m =>
      m.start >= selStart && m.start < selEnd).toList.reverse
    if (hits.isEmpty) return q0
    // a bare lhs column inside the probe EXISTS would resolve against
    // the SUBQUERY's table first (`a IN (select a from t1 ...)` — both
    // named a); when the outer FROM is one simple table, qualify it
    val outerAlias: Option[String] =
      if (fromIdx < 0) None
      else ("""(?is)^from\s+`?(\w+)`?""" +
        """(?:\s+(?:as\s+)?(?!where\b|order\b|group\b|limit\b|join\b|on\b|left\b|right\b|inner\b|cross\b)`?(\w+)`?)?""" +
        """\s*(?:where\b.*|order\b.*|group\b.*|limit\b.*)?$""").r
        .findFirstMatchIn(q0.substring(fromIdx).trim)
        .map(mm => Option(mm.group(2)).getOrElse(mm.group(1)))
    var q = q0
    for (m <- hits) {
      val open = m.end - 1
      val close = SqlText.closeParen(q, open)
      if (close > 0) {
        val sub = q.substring(open + 1, close).trim
        if ("""(?is)^select\b""".r.findFirstIn(sub).isDefined) {
          // LHS: tuple or single term directly before [NOT] IN
          var e = m.start - 1
          while (e >= 0 && q(e).isWhitespace) e -= 1
          val (lOpen, lhsItems0) =
            if (e >= 0 && q(e) == ')') {
              val lo = SqlText.openParen(q, e)
              if (lo >= 0 && !isFunctionCall(q, lo))
                (lo, SqlText.splitTop(q.substring(lo + 1, e)).map(_.trim))
              else (-1, Seq.empty[String])
            } else if (e >= 0 && q(e) == '\'') {
              // string-literal lhs (`'XYZS' IN (SELECT * FROM t1)` —
              // subquery-with-in.result:244 expects UNKNOWN, which
              // Spark's projection-context IN does not produce)
              SqlText.spans(q).find(_.end == e + 1)
                .map(sp => (sp.start, Seq(q.substring(sp.start, e + 1))))
                .getOrElse((-1, Seq.empty[String]))
            } else {
              var b = e
              while (b >= 0 && (q(b).isLetterOrDigit || "._`".contains(q(b)))) b -= 1
              if (b < e) (b + 1, Seq(q.substring(b + 1, e + 1))) else (-1, Seq.empty[String])
            }
          // a COMPLEX lhs term (CASE/function/arithmetic) cannot be
          // relocated into the probe EXISTS: its unqualified outer-column
          // references would re-resolve against the SUBQUERY's table and
          // the correlation silently flips (observed: an enum-ordinal
          // CASE lhs made every row TRUE). Only simple, qualifiable
          // terms — identifiers, literals, NULL — rewrite to 3VL; a
          // complex lhs keeps Spark's plain IN, which agrees everywhere
          // except the UNKNOWN-observing shapes (those goldens use bare
          // columns).
          val simpleItem =
            """^(`?[A-Za-z_][\w$]*`?(\.`?[A-Za-z_][\w$]*`?)?|'[^']*'|-?\d+(\.\d+)?|(?i:null))$""".r
          val allSimple = lhsItems0.nonEmpty &&
            lhsItems0.forall(it => simpleItem.findFirstIn(it).isDefined)
          val lhsItems = if (!allSimple) Seq.empty[String] else lhsItems0.map { it =>
            outerAlias match {
              case Some(a) if it.matches("^[A-Za-z_]\\w*$") &&
                  !it.equalsIgnoreCase("null") => s"$a.$it"
              case _ => it
            }
          }
          val plainShape = SqlText.topIndexOf(sub, "union") < 0 &&
            SqlText.topIndexOf(sub, "group") < 0 && SqlText.topIndexOf(sub, "order") < 0 &&
            SqlText.topIndexOf(sub, "limit") < 0
          val subFrom = SqlText.topIndexOf(sub, "from")
          val subItems =
            if (subFrom > 0) SqlText.splitTop(sub.substring(6, subFrom).trim).map(_.trim)
            else Seq.empty
          // MySQL IN = OR over rows of (AND over components), each 3VL.
          // The unknown-probe asks: does a row exist whose equality is
          // UNDECIDED — every component potentially equal (equal, or one
          // side NULL) and at least one component actually NULL. In-place
          // injection for the plain shape keeps correlation depth; a
          // derived-table wrap covers UNION/GROUP/ORDER shapes (the
          // goldens' are uncorrelated). Handles empty subqueries (probe
          // finds nothing → FALSE) and NULL lhs components for free.
          def probeUnknown(ss: Seq[String]): String = {
            val pot = lhsItems.zip(ss).map { case (l, s) =>
              s"((($l) = ($s)) OR ($l) IS NULL OR ($s) IS NULL)"
            }.mkString(" AND ")
            val unk = lhsItems.zip(ss).map { case (l, s) =>
              s"($l) IS NULL OR ($s) IS NULL"
            }.mkString(" OR ")
            s"($pot) AND ($unk)"
          }
          def probeMatch(ss: Seq[String]): String =
            lhsItems.zip(ss).map { case (l, s) => s"(($l) = ($s))" }
              .mkString(" AND ")
          // in-place injection would put the outer table's NAME in the
          // probe's FROM when the subquery reads the SAME table — the
          // outer-qualified lhs then re-binds to the probe's own scope
          // and the correlation silently collapses (every row compares a
          // row to itself). The derived-table wrap hides the inner name,
          // so the lhs qualifier can only mean the outer table.
          // scan the ENTIRE subquery FROM clause (joins, comma lists) for
          // the outer name — `x IN (SELECT y FROM t2 JOIN t1 …)` re-binds
          // just as badly as `FROM t1` does. Over-matching is safe: it
          // merely forces the always-correct derived-table wrap.
          val selfTable = outerAlias.exists { a =>
            val subFromIdx = SqlText.topIndexOf(sub, "from")
            subFromIdx > 0 && {
              val qa = java.util.regex.Pattern.quote(a)
              ("(?is)(?:\\bfrom\\s+|\\bjoin\\s+|,\\s*)`?" + qa + "`?(?![\\w$.])").r
                .findFirstIn(sub.substring(subFromIdx)).isDefined
            }
          }
          def variant(cond: Seq[String] => String): String =
            if (plainShape && !selfTable && subFrom > 0 &&
                subItems.length == lhsItems.length &&
                subItems.forall(_ != "*")) {
              val fromTail = sub.substring(subFrom)
              val whereIdx = SqlText.topIndexOf(fromTail, "where")
              val c = cond(subItems)
              if (whereIdx < 0) s"SELECT 1 $fromTail WHERE $c"
              else s"SELECT 1 ${fromTail.substring(0, whereIdx)} WHERE (" +
                s"${fromTail.substring(whereIdx + 5)}) AND ($c)"
            } else if (lhsItems.nonEmpty) {
              val vs = lhsItems.indices.map(i => s"_gv$i")
              s"SELECT 1 FROM ($sub) _gnul(${vs.mkString(", ")}) WHERE " +
                cond(vs)
            } else null
          val nullSub = variant(probeUnknown)
          val matchSub = variant(probeMatch)
          if (lhsItems.nonEmpty && nullSub != null) {
            // decisive membership needs a strictly-equal row (Spark's
            // struct-IN would treat NULL fields as matching values)
            val neg = m.group(1) != null
            val (t, f) = if (neg) ("FALSE", "TRUE") else ("TRUE", "FALSE")
            val rep =
              s"(CASE WHEN EXISTS ($matchSub) THEN $t " +
                s"WHEN EXISTS ($nullSub) THEN CAST(NULL AS BOOLEAN) ELSE $f END)"
            q = q.substring(0, lOpen) + rep + q.substring(close + 1)
          }
        }
      }
    }
    q
  }

  // ------------------------------------------------------------------
  // FROM unnest(json[, path[, outer]]) — the reference's table function
  // ------------------------------------------------------------------

  private val UnnestRe = """(?i)\bunnest\s*\(""".r

  /** SQL surface for [[graft.operators.JsonUnnest]] (reference
    * `pkg/sql/colexec/table_function/unnest.go`, goldens
    * `function/table_func_unnest.result`): a standalone
    * `FROM unnest(...)` alias becomes a derived table over
    * `inline(unnest_table(...))`; a comma-joined `t, unnest(t.a) u`
    * becomes a LATERAL VIEW, which is exactly the correlated-apply the
    * reference executes. The `col` label is UNNEST_DEFAULT for literal
    * documents and the source expression text otherwise.
    */
  def unnestTvf(q0: String): String = {
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      UnnestRe.findAllMatchIn(SqlText.mask(q)).toList.reverseIterator.foreach { m =>
        if (!changed) {
          val close = SqlText.closeParen(q, m.end - 1)
          if (close > 0) {
            var p = m.start - 1
            while (p >= 0 && q(p).isWhitespace) p -= 1
            val beforeComma = p >= 0 && q(p) == ','
            val beforeFrom = p >= 3 &&
              q.regionMatches(true, p - 3, "from", 0, 4) &&
              (p - 4 < 0 || !Character.isLetterOrDigit(q(p - 4)))
            // `JOIN unnest(...) u ON TRUE` is a lateral apply too
            val beforeJoin = p >= 3 &&
              q.regionMatches(true, p - 3, "join", 0, 4) &&
              (p - 4 < 0 || !Character.isLetterOrDigit(q(p - 4)))
            val am = """(?i)^\s+(?:as\s+)?([A-Za-z_]\w*)""".r
              .findFirstMatchIn(q.substring(close + 1))
              .filterNot(x => SqlKeywords.contains(x.group(1).toLowerCase))
            if ((beforeComma || beforeFrom || beforeJoin) && am.isDefined) {
              val args = SqlText.splitTop(q.substring(m.end, close)).map(_.trim)
              if (args.nonEmpty && args.length <= 3) {
                val doc = args(0)
                val path = if (args.length > 1) args(1) else "'$'"
                val outer = if (args.length > 2) args(2) else "false"
                // the reference labels literal documents UNNEST_DEFAULT
                // and column sources by their normalized expression text
                val label =
                  if (doc.startsWith("'")) "'UNNEST_DEFAULT'"
                  else "'" + doc.replace("'", "''").replaceAll(",\\s*", ", ") + "'"
                val alias = am.get.group(1)
                val call = s"unnest_table($label, $doc, $path, $outer)"
                val lateral =
                  s" LATERAL VIEW inline($call) $alias AS col, seq, `key`, path, `index`, value, `this`"
                if (beforeComma) {
                  q = q.substring(0, p) + lateral +
                    q.substring(close + 1 + am.get.end)
                  changed = true
                } else if (beforeJoin) {
                  val after = q.substring(close + 1 + am.get.end)
                  val onTrue = """(?is)^\s*on\s+true\b""".r.findFirstMatchIn(after)
                  if (onTrue.isDefined) {
                    // drop the JOIN keyword (and CROSS/INNER before it)
                    var js = p - 3
                    var j2 = js - 1
                    while (j2 >= 0 && q(j2).isWhitespace) j2 -= 1
                    val pre = q.substring(0, j2 + 1)
                    val preTrim =
                      if (pre.toLowerCase.endsWith("cross") || pre.toLowerCase.endsWith("inner"))
                        pre.substring(0, pre.length - 5)
                      else pre
                    q = preTrim + lateral + after.substring(onTrue.get.end)
                    changed = true
                  }
                } else {
                  q = q.substring(0, m.start) +
                    s"(SELECT col, seq, `key`, path, `index`, value, this_json AS `this` " +
                    s"FROM (SELECT inline($call))) $alias" +
                    q.substring(close + 1 + am.get.end)
                  changed = true
                }
              }
            }
          }
        }
      }
    }
    q
  }

  /** MySQL's INTERVAL(x, v1, v2, …) ranking function — the count of
    * list values ≤ x (binary search in the reference,
    * `function/func_interval.result`); NULL x is -1. Distinct from the
    * INTERVAL literal (which never takes a parenthesized list).
    */
  private val IntervalFnRe = """(?i)\binterval\s*\(([^()]+)\)""".r

  def intervalFn(q0: String): String =
    SqlText.replaceOutside(q0, IntervalFnRe, m => {
      val args = SqlText.splitTop(m.group(1)).map(_.trim)
      // `interval(ts, N, minute)` is the TIME-WINDOW operator's syntax
      // (GraftSql.intervalRewrite) — a bare unit keyword disambiguates
      val units = Set("microsecond", "second", "minute", "hour", "day",
        "week", "month", "quarter", "year")
      if (args.length < 2 || args.exists(a => units.contains(a.toLowerCase)))
        m.matched
      else {
        val x = args.head
        val vs = args.tail.mkString(", ")
        s"(CASE WHEN ($x) IS NULL THEN -1 ELSE " +
          s"size(filter(array($vs), _iv -> _iv IS NULL OR " +
          s"CAST(_iv AS DOUBLE) <= CAST(($x) AS DOUBLE))) END)"
      }
    })

  /** Pre-quantifier compat passes (run before the ANY/ALL rewrite so a
    * `ANY (VALUES ...)` has become `ANY (SELECT ...)` by then).
    */
  /** `'2024-01-01' ± INTERVAL n <date-unit>` keeps the DATE type in
    * MySQL when the literal has no time part (func_interval.result).
    */
  private val PlusDateLitRe =
    """(?i)('[^':]*')\s*([-+])\s*(interval\s+-?\d+\s+(?:year|quarter|month|week|day))\b""".r

  def plusDateLiteral(q0: String): String =
    SqlText.replaceOutside(q0, PlusDateLitRe, m =>
      s"CAST(CAST(${m.group(1)} AS DATE) ${m.group(2)} ${m.group(3)} AS DATE)")

  // MySQL composite EXTRACT units Spark's parser rejects
  // (func_datetime_extract.result) — operands are simple (no parens)
  private val ExtractCompositeRe =
    """(?i)\bextract\s*\(\s*(year_month|day_hour|day_minute|day_second|hour_minute|hour_second|minute_second)\s+from\s+([^()]*?)\s*\)""".r
  // EXTRACT has no MICROSECOND field in Spark; the function form does.
  // The operand may be an arbitrary expression — scan to the balanced
  // close paren.
  private val ExtractMicroRe =
    """(?i)\bextract\s*\(\s*microsecond\s+from\s+""".r
  private def extractMicro(q0: String): String = {
    var s = q0
    var changed = true
    while (changed) {
      changed = false
      ExtractMicroRe.findFirstMatchIn(s).foreach { m =>
        val open = s.indexOf('(', m.start)
        val close = SqlText.closeParen(s, open)
        if (close > 0) {
          val operand = s.substring(m.end, close)
          s = s.substring(0, m.start) + s"microsecond($operand)" +
            s.substring(close + 1)
          changed = true
        }
      }
    }
    s
  }
  private[graft] def extractComposite(q: String): String =
    if (!q.toLowerCase.contains("extract")) q
    else extractMicro(ExtractCompositeRe.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"mo_extract('${m.group(1)}', ${m.group(2)})")))

  // CAST(TIMEDIFF(…) AS CHAR) renders TIME(6) with its fraction
  // (func_datetime_timediff.result) — route to the scale-6 wrapper
  // (`string` too: the BVT harness canonicalizes `AS CHAR` first)
  private val CastTimediffRe =
    """(?i)\bcast\s*\(\s*timediff\s*\(([^()]*?)\)\s*as\s+(?:char|string)\s*\)""".r
  private[graft] def castTimediff(q: String): String =
    if (!q.toLowerCase.contains("timediff")) q
    else CastTimediffRe.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(s"mo_timediff_char(${m.group(1)})"))

  // MySQL's unrecognized-escape rule: backslash before a char outside
  // the escape set drops the backslash ('<NUL>' is the 6 chars
  // u0000 — func_json_unquote.result); Spark instead treats \uXXXX as a
  // unicode escape. `\\u` (escaped backslash + u) must survive.
  private val UnknownEscapeRe = """(?<!\\)\\u""".r
  private[graft] def mysqlEscapes(q: String): String =
    if (!q.contains("\\u")) q else UnknownEscapeRe.replaceAllIn(q, "u")

  // MO's CROSS/OUTER APPLY over a table function (join/apply.result) —
  // Spark's LATERAL subquery join is the same correlated apply
  private val ApplyRe =
    """(?i)\b(cross|outer)\s+apply\s+(\w+\s*\((?:[^()]|\([^()]*\))*\))\s*(?:as\s+)?(\w+)?""".r
  private[graft] def applyJoin(q0: String): String = {
    if (!q0.toLowerCase.contains("apply")) return q0
    // fulltext_index_tokenize has its own LATERAL VIEW rewrite in
    // GraftSql (a real tokenizer kernel, not a lateral subquery)
    if (q0.toLowerCase.contains("fulltext_index_tokenize")) return q0
    var q = q0
    var changed = true
    // plain JOIN … ON true keeps TVF operands (unnest) on the existing
    // lateral-TVF path in unnestTvf; a parenthesized operand (the shape
    // unnestTvf itself emits, or a correlated subquery) becomes LATERAL
    val HeadRe = """(?i)\b(cross|outer)\s+apply\s*""".r
    while (changed) {
      changed = false
      HeadRe.findFirstMatchIn(SqlText.mask(q)).foreach { m =>
        val join =
          if (m.group(1).equalsIgnoreCase("outer")) "LEFT JOIN"
          else "JOIN"
        val rest = q.substring(m.end)
        val fnM = """^(\w+\s*\()""".r.findFirstMatchIn(rest)
        val open =
          if (rest.startsWith("(")) 0
          else fnM.map(_.group(1).length - 1).getOrElse(-1)
        if (open >= 0) {
          val close = SqlText.closeParen(rest, open)
          if (close > 0) {
            val operand = rest.substring(0, close + 1)
            val tail0 = rest.substring(close + 1)
            val aliasM = """(?i)^\s+(?:as\s+)?(\w+)""".r.findFirstMatchIn(tail0)
              .filter(a => !Set("on", "where", "group", "order", "join",
                "left", "right", "inner", "cross", "outer", "limit",
                "union", "having").contains(a.group(1).toLowerCase))
            val alias = aliasM.map(a => s" ${a.group(1)}").getOrElse("")
            val tail = aliasM.map(a => tail0.substring(a.end)).getOrElse(tail0)
            val lateral = if (rest.startsWith("(")) "LATERAL " else ""
            q = q.substring(0, m.start) +
              s"$join $lateral$operand$alias ON true" + tail
            changed = true
          }
        }
      }
    }
    q
  }

  // MO's ANN execution hint `LIMIT k by rank [with option 'mode=pre']`
  // (reference pkg/sql/parsers/tree/select.go; vector/vector_ivf_mode
  // BVT) picks the index's pre/post/force filter strategy — the result
  // set is the same ordered top-k either way, so the suffix is purely
  // physical and drops before parsing
  private val ByRankRe =
    """(?i)(\blimit\s+\d+(?:\s*,\s*\d+|\s+offset\s+\d+)?)\s+by\s+rank(?:\s+with\s+option\s+'[^']*')?""".r
  private[graft] def byRank(q: String): String =
    if (!q.toLowerCase.contains("by rank")) q
    else ByRankRe.replaceAllIn(q, m =>
      java.util.regex.Matcher.quoteReplacement(m.group(1)))

  // GET_FORMAT(DATE, 'USA') — the unit is a bare keyword in MySQL's
  // grammar (func_datetime_get_format.result); quote it for Spark
  private val GetFormatRe =
    """(?i)\bget_format\s*\(\s*(date|time|datetime|timestamp)\s*,""".r
  private[graft] def getFormatUnits(q: String): String =
    if (!q.toLowerCase.contains("get_format")) q
    else GetFormatRe.replaceAllIn(q, m => s"get_format('${m.group(1)}',")

  // NOW(3) / CURTIME(6) fsp arguments — Spark's zero-arg builtins
  // reject them; precision is display-only for the wall-clock functions
  private val FspArgRe =
    """(?i)\b(now|curtime|current_time|current_timestamp|localtime|localtimestamp|sysdate|utc_time|utc_timestamp)\s*\(\s*\d+\s*\)""".r
  // MySQL's no-parens spellings (`SELECT UTC_DATE`, `utc_time() =
  // utc_time`) — Spark only knows the bare forms for current_date/
  // current_timestamp. `AS utc_time` aliases stay aliases.
  private val BareUtcKwRe =
    """(?i)(?<!\bas\s{1,8})(?<![.`@\w'"])(utc_date|utc_time|utc_timestamp|localtimestamp|localtime)\b(?!\s*\()""".r
  private[graft] def stripFsp(q: String): String = {
    val q1 = FspArgRe.replaceAllIn(q, m => s"${m.group(1)}()")
    val low = q1.toLowerCase
    if (!low.contains("utc_") && !low.contains("localtime")) q1
    else {
      // match against the literal-MASKED copy so a keyword INSIDE a
      // string ('at utc_time now') is never rewritten; masked and
      // original are the same length, so offsets line up
      val masked = SqlText.mask(q1)
      val sb = new StringBuilder
      var at = 0
      BareUtcKwRe.findAllMatchIn(masked).foreach { m =>
        sb.append(q1.substring(at, m.end)).append("()")
        at = m.end
      }
      sb.append(q1.substring(at))
      sb.toString
    }
  }

  // ------------------------------------------------------------------
  // CAST(x AS vecKIND(n)) — the reference's vector-type casts
  // (`pkg/sql/plan/function/func_cast.go`; BVT array/array_vecnarrow*):
  // Spark has no vec types, so the cast becomes the graft kernel call:
  // a quoted literal takes the STRICT string parse (mo_vec_parse — int
  // kinds reject non-integer / out-of-range tokens), everything else the
  // quantizing array path (mo_vec_quant — round half away + saturate for
  // int8/uint8, precision-round for f16/bf16).
  // ------------------------------------------------------------------
  private val VecCastTail =
    """(?is)^(.*\S)\s+as\s+vec(f32|f64|f16|bf16|int8|uint8)\s*\(\s*(\d+)\s*\)\s*$""".r
  private val CastOpenRe = """(?i)\bcast\s*\(""".r

  /** MySQL index hints (`USE|FORCE|IGNORE INDEX [FOR JOIN|ORDER BY|
    * GROUP BY] (names)`, optimizer/index_hint.sql) — physical access
    * advice with no Spark analog; the plan is Catalyst's either way.
    */
  private val IndexHintRe =
    """(?i)\s+(use|force|ignore)\s+index(?:\s+for\s+(?:join|order\s+by|group\s+by))?\s*\([^()]*\)""".r
  private[graft] def indexHints(q: String): String =
    if (!q.toLowerCase.contains(" index")) q
    else SqlText.replaceOutside(q, IndexHintRe, _ => " ")

  /** `CAST(x AS datalink)` — the reference's typed-URI wrapper
    * (`pkg/datalink/`): the value IS the URI string, so the cast is
    * identity at this layer (load_file/parse functions resolve it).
    */
  private val DatalinkTail = """(?is)^(.*\S)\s+as\s+datalink\s*$""".r
  private[graft] def datalinkCast(q0: String): String = {
    if (!q0.toLowerCase.contains("datalink")) return q0
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      CastOpenRe.findAllMatchIn(SqlText.mask(q)).toList.reverseIterator.foreach { m =>
        if (!changed) {
          val close = SqlText.closeParen(q, m.end - 1)
          if (close > 0) q.substring(m.end, close) match {
            case DatalinkTail(arg) =>
              q = q.substring(0, m.start) + s"(${arg.trim})" + q.substring(close + 1)
              changed = true
            case _ =>
          }
        }
      }
    }
    q
  }

  private[graft] def vecCast(q0: String): String = {
    if (!q0.toLowerCase.contains(" as vec")) return q0
    var q = q0
    var changed = true
    while (changed) {
      changed = false
      CastOpenRe.findAllMatchIn(SqlText.mask(q)).toList.reverseIterator.foreach { m =>
        if (!changed) {
          val close = SqlText.closeParen(q, m.end - 1)
          if (close > 0) q.substring(m.end, close) match {
            case VecCastTail(arg, kind, dim) =>
              val a = arg.trim
              val suffix = if (kind.equalsIgnoreCase("f64")) "_d" else "_f"
              val rep =
                if ((a.startsWith("'") || a.startsWith("\"")) &&
                  a.length >= 2 && a.last == a.head)
                  s"mo_vec_parse$suffix('${a.substring(1, a.length - 1)}', '$kind', $dim)"
                else
                  s"mo_vec_quant$suffix(CAST(($a) AS ARRAY<DOUBLE>), '$kind', $dim)"
              q = q.substring(0, m.start) + rep + q.substring(close + 1)
              changed = true
            case _ =>
          }
        }
      }
    }
    q
  }

  // ------------------------------------------------------------------
  // PostgreSQL-style `expr::type` casts (BVT pg_cast/cast.sql). Spark
  // parses `::` natively but truncates fractional→int, while the
  // reference (like MySQL CAST) rounds half away from zero
  // (`pkg/sql/plan/function/func_cast.go` numericToNumeric roundToEven
  // for floats vs decimal Round); `::varchar`/`::text` take no length
  // and mean STRING; `::signed/unsigned [integer]` alias BIGINT.
  // ------------------------------------------------------------------
  private val PgIntCastRe =
    """(?i)::\s*(integer|int|bigint|smallint|tinyint|signed(?:\s+integer)?|unsigned(?:\s+integer)?)\b""".r

  private[graft] def pgCast(q0: String): String = {
    if (!q0.contains("::")) return q0
    var q = SqlText.replaceOutside(
      q0, """(?i)::\s*(varchar|text)\b(?!\s*\()""".r, _ => "::string")
    var changed = true
    while (changed) {
      changed = false
      val masked = SqlText.mask(q)
      PgIntCastRe.findFirstMatchIn(masked).foreach { m =>
        var i = m.start - 1
        while (i >= 0 && q(i).isWhitespace) i -= 1
        val end = i
        var start =
          if (i >= 0 && q(i) == ')') SqlText.openParen(q, i)
          else if (i >= 0 && (q(i) == '\'' || q(i) == '"'))
            SqlText.spans(q).find(_.end == i + 1).fold(-1)(_.start)
          else {
            var j = i
            while (j >= 0 && (q(j).isLetterOrDigit || q(j) == '_' ||
              q(j) == '.' || q(j) == '`' || q(j) == '@')) j -= 1
            j + 1
          }
        // a call operand keeps its function name: abs(x)::int
        if (start > 0 && q(start) == '(') {
          var j = start - 1
          while (j >= 0 && (q(j).isLetterOrDigit || q(j) == '_')) j -= 1
          if (j + 1 < start) start = j + 1
        }
        if (start >= 0 && start <= end) {
          val operand = q.substring(start, end + 1)
          val target = m.group(1).toLowerCase match {
            case "integer" => "int"
            case t if t.startsWith("signed") || t.startsWith("unsigned") => "bigint"
            case t => t
          }
          q = q.substring(0, start) +
            s"cast(round($operand) as $target)" + q.substring(m.end)
          changed = true
        }
      }
    }
    q
  }

  // MO temporary tables are session-scoped; the session IS the process
  // here, so they map to plain managed tables (procedure.sql temp-table
  // lifecycle cases; the `temporary` BVT category)
  private[graft] def tempTable(q: String): String =
    q.replaceFirst("(?i)^(\\s*create)\\s+temporary\\s+table\\b", "$1 TABLE")

  def pre(q: String): String = {
    val a = mysqlEscapes(stripFsp(getFormatUnits(castTimediff(extractComposite(
      applyJoin(plusDateLiteral(timestampAdd(dateAddSub(rowCompare(valuesTable(
        intervalUnits(groupConcat(unnestTvf(intervalFn(byRank(vecCast(
          datalinkCast(indexHints(pgCast(tempTable(q)))))))))))))))))))))
    distinctOrderBy(groupingOrderBy(a))
  }

  /** MySQL resolves `ORDER BY grouping(x)` after WITH ROLLUP; Spark's
    * Sort sits above the select-list Project and loses the grouping
    * scope when only aliases are projected (window/rollup.result:620
    * fails with UNRESOLVED_COLUMN on the grouped column). A sort item
    * `grouping(x)` that textually equals a top-level select item's
    * expression becomes that item's ALIAS — same value, output scope.
    */
  private def groupingOrderBy(q: String): String = {
    val masked = SqlText.mask(q)
    val low = masked.toLowerCase
    if (!low.contains("rollup") && !low.contains("cube") &&
      !low.contains("grouping sets")) return q
    if (!low.contains("grouping")) return q
    val obM = """(?i)\border\s+by\s+""".r.findAllMatchIn(masked).toSeq
      .filter(m => masked.substring(0, m.start).count(_ == '(') ==
        masked.substring(0, m.start).count(_ == ')'))
      .lastOption.getOrElse(return q)
    val selM = """(?is)^\s*select\s+(?:distinct\s+)?""".r
      .findFirstMatchIn(masked).getOrElse(return q)
    val fromM = """(?i)\bfrom\b""".r.findAllMatchIn(masked)
      .find(m => masked.substring(0, m.start).count(_ == '(') ==
        masked.substring(0, m.start).count(_ == ')'))
      .getOrElse(return q)
    if (fromM.start < selM.end) return q
    def norm(s: String) = s.toLowerCase.replaceAll("[\\s`]+", "")
    val aliasOf: Map[String, String] =
      SqlText.splitTop(q.substring(selM.end, fromM.start)).flatMap { it =>
        """(?is)^(.*?)\s+as\s+`?([\w$]+)`?\s*$""".r.findFirstMatchIn(it.trim)
          .map(m => norm(m.group(1)) -> m.group(2))
      }.toMap
    if (aliasOf.isEmpty) return q
    q.substring(0, obM.end) +
      """(?i)\bgrouping\s*\(\s*`?[\w$]+`?\s*\)""".r
        .replaceAllIn(q.substring(obM.end), m =>
          java.util.regex.Matcher.quoteReplacement(
            aliasOf.getOrElse(norm(m.matched), m.matched)))
  }

  /** MySQL resolves `SELECT DISTINCT <expr> … ORDER BY <expr>` by
    * matching the sort expression to the select item; Spark refuses
    * (the post-DISTINCT scope has only output attributes). A sort item
    * that textually equals a top-level distinct select item becomes its
    * 1-based POSITION — semantics-preserving and scope-proof.
    */
  private def distinctOrderBy(q: String): String = {
    if (!"""(?is)^\s*select\s+distinct\b""".r.findFirstIn(q).isDefined)
      return q
    val masked = SqlText.mask(q)
    val obM = """(?i)\border\s+by\s+""".r.findAllMatchIn(masked).toSeq
      .lastOption.getOrElse(return q)
    // the ORDER BY must be top-level (not inside parens)
    if (masked.substring(0, obM.start).count(_ == '(') !=
      masked.substring(0, obM.start).count(_ == ')')) return q
    val fromM = """(?i)\bfrom\b""".r.findAllMatchIn(masked)
      .find(m => masked.substring(0, m.start).count(_ == '(') ==
        masked.substring(0, m.start).count(_ == ')'))
      .getOrElse(return q)
    val selStart = """(?is)^\s*select\s+distinct\b""".r
      .findFirstMatchIn(masked).get.end
    if (fromM.start <= selStart) return q
    val items = SqlText.splitTop(
      q.substring(selStart, fromM.start)).map(_.trim)
    def norm(s: String) = s.replaceAll("\\s+", " ").toLowerCase
    // sort-list end: the statement tail (LIMIT/OFFSET) stays
    val tailM = """(?i)\b(limit|offset)\b""".r.findFirstMatchIn(
      masked.substring(obM.end))
    val sortEnd = tailM.map(_.start + obM.end).getOrElse(q.length)
    val sortItems = SqlText.splitTop(
      q.substring(obM.end, sortEnd)).map(_.trim)
    var changed = false
    val mapped = sortItems.map { si =>
      val dirM = """(?i)\s+(asc|desc)\s*$""".r.findFirstMatchIn(si)
      val core = dirM.map(m => si.substring(0, m.start)).getOrElse(si).trim
      val pos = items.indexWhere(it => norm(it) == norm(core))
      if (pos >= 0 && core.exists(!_.isLetterOrDigit)) {
        changed = true
        (pos + 1).toString + dirM.map(m => " " + m.group(1)).getOrElse("")
      } else si
    }
    if (!changed) q
    else q.substring(0, obM.end) + mapped.mkString(", ") + q.substring(sortEnd)
  }
}
