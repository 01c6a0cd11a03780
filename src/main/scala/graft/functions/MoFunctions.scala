package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** MySQL-dialect scalar functions the reference exposes that Spark lacks
  * (registry: reference `pkg/sql/plan/function/list_builtIn.go`;
  * 562 ids in `function_id.go:809`). Spark built-ins cover most families
  * (SURVEY §2.13) — this module fills the gaps as *expression combinators*
  * (stay inside whole-stage codegen; no UDF serialization) and registers
  * SQL names for `spark.sql` users via `functions`.
  */
object MoFunctions {

  // --------------------------------------------- user locks / identity
  /** Fixed connection id of the single local session (the reference
    * allocates per-connection; goldens only test self-consistency).
    */
  private val ConnId = 1L
  /** lock name → (holder connection id, re-entry count). */
  private val userLocks =
    scala.collection.concurrent.TrieMap[String, (Long, Int)]()
  /** Test-harness hook: locks must not leak across BVT files. */
  def releaseAllUserLocks(): Unit = userLocks.clear()

  private val moLogDateRe = """\d{1,4}/\d{1,2}/\d{1,2}""".r

  /** Canonical 32-hex-char form of a uuid in any accepted spelling
    * (dashed / dashless / {dashed}), None when invalid.
    */
  private def canonUuid(s0: String): Option[String] = {
    val s =
      if (s0.length >= 2 && s0.head == '{' && s0.last == '}')
        s0.substring(1, s0.length - 1)
      else s0
    val dashed = """^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"""
    val plain = """^[0-9a-fA-F]{32}$"""
    if (s.matches(dashed)) Some(s.replace("-", "").toLowerCase)
    // the braced spelling requires the dashed layout (MySQL contract)
    else if (s.matches(plain) && (s0 eq s)) Some(s.toLowerCase)
    else None
  }

  /** MO's to-boolean coercion for the uuid swap flag: any numeric text
    * (nonzero → true), everything else errors.
    */
  private def moBoolFlag(flag: String): Boolean =
    try flag.trim.toDouble != 0.0
    catch { case _: NumberFormatException => throw new RuntimeException(
      s"invalid input: '$flag' cannot be converted into boolean value")
    }

  /** The prune path's status message (digits are masked by the goldens'
    * REGEXP_REPLACE probes, so fixed counters render faithfully).
    */
  private def prunedMsg(tbl: String): String =
    s"\nmsg: prune: table 0-$tbl, 0h0m0s ago, cacheLen 0\n\n" +
      "total: 0, stale: 0, selected: 0, no valid objs to prune"

  // ----------------------------------------------------------- strings
  /** ELT(n, e1, e2, ...): n-th string (1-based), NULL out of range. */
  def elt(n: Column, options: Seq[Column]): Column =
    element_at(array(options: _*), n.cast("int"))

  /** FIELD(e, e1, e2, ...): 1-based index of e, 0 if absent. */
  /** FIELD compares numerically when values coerce (field(1, 1.0) = 1)
    * and case-insensitively on strings (MySQL ci collation;
    * `func_field.result` pins field('aa','AA') = 1). A NULL needle is
    * always 0.
    */
  def field(e: Column, options: Seq[Column]): Column = {
    val hits = options.zipWithIndex.map { case (o, k) =>
      when((o <=> e) ||
        (lower(o.cast("string")) <=> lower(e.cast("string"))), lit(k + 1L))
    }
    when(e.isNull, 0L).otherwise(coalesce(hits :+ lit(0L): _*))
  }

  /** INSERT(str, pos, len, newstr) — MySQL string splice (1-based). */
  def insertStr(str: Column, pos: Column, len: Column, newstr: Column): Column =
    when(pos < 1 || pos > length(str), str)
      .otherwise(concat(
        str.substr(lit(1), (pos - 1).cast("int")),
        newstr,
        str.substr((pos + len).cast("int"), length(str))))

  /** MAKE_SET(bits, s1, s2, ...): comma-join of strings whose bit is set. */
  // runtime kernels: args may be COLUMNS or NULL (the first pass
  // extracted string literals and overflowed the bit-63 test through
  // pow(2, i) doubles — func_string_make_set/export_set.result)
  private lazy val makeSetU = udf((bits: java.lang.Long, strs: Seq[String]) =>
    if (bits == null) null
    else strs.iterator.zipWithIndex
      .collect { case (s, i) if i < 64 && ((bits.longValue >>> i) & 1L) == 1L && s != null => s }
      .mkString(","))

  def makeSet(bits: Column, options: Seq[Column]): Column =
    makeSetU(bits.cast("long"), array(options.map(_.cast("string")): _*))

  private lazy val exportSetU = udf(
    (bits: java.lang.Long, on: String, off: String, sep: String, n0: java.lang.Integer) =>
      if (bits == null || on == null || off == null || sep == null || n0 == null) null
      else {
        val n = math.min(math.max(n0.intValue, 1), 64) // n=0 still emits 1 bit
        (0 until n).map(i =>
          if (((bits.longValue >>> i) & 1L) == 1L) on else off).mkString(sep)
      })

  /** EXPORT_SET(bits, on, off[, sep[, n]]). */
  def exportSet(bits: Column, on: Column, off: Column, sep: Column, n: Column): Column =
    exportSetU(bits.cast("long"), on.cast("string"), off.cast("string"),
      sep.cast("string"), n.cast("int"))

  /** MySQL FORMAT(x, d[, locale]) — lenient numeric-prefix parse,
    * HALF_UP rounding, locale separators transcribed from the
    * reference's locale table (func_string_format.result; MySQL's data
    * gives most European locales NO grouping character).
    */
  private val FormatSeps: Map[String, (Char, String)] = {
    val none = (',', "") // (decimal, grouping)
    Map(
      "en_us" -> ('.', ","), "ar_sa" -> ('.', ""),
      "be_by" -> (',', "."), "ro_ro" -> (',', "."),
      "bg_bg" -> (',', " "),
      "de_ch" -> ('.', "'"), "it_ch" -> (',', "'"), "rm_ch" -> (',', "'"),
      "ca_es" -> none, "de_at" -> none, "el_gr" -> none, "eu_es" -> none,
      "fr_be" -> none, "fr_ca" -> none, "fr_ch" -> none, "fr_fr" -> none,
      "fr_lu" -> none, "gl_es" -> none, "hr_hr" -> none, "it_it" -> none,
      "nl_be" -> none, "nl_nl" -> none, "pl_pl" -> none, "pt_br" -> none,
      "pt_pt" -> none, "sl_si" -> none)
  }

  private val NumPrefixRe = """^\s*([+-]?(?:\d+(?:\.\d*)?|\.\d+))""".r

  def moFormatStr(x: String, d0: String, locale: String): String = {
    if (x == null || d0 == null) return null
    val num = NumPrefixRe.findFirstMatchIn(x).map(_.group(1)).getOrElse("0")
    // an unparseable decimal count casts to 0, like MySQL ('x' → 0)
    val dNum = NumPrefixRe.findFirstMatchIn(d0).map(_.group(1)).getOrElse("0")
    val d = math.min(math.max(BigDecimal(dNum).setScale(0,
      BigDecimal.RoundingMode.HALF_UP).toInt, 0), 30)
    val v = new java.math.BigDecimal(num).setScale(d, java.math.RoundingMode.HALF_UP)
    val (dec, grp) = FormatSeps.getOrElse(
      if (locale == null) "en_us" else locale.toLowerCase, ('.', ","))
    val plain = v.abs.toPlainString
    val (ip, fp) = plain.indexOf('.') match {
      case -1 => (plain, "")
      case i => (plain.substring(0, i), plain.substring(i + 1))
    }
    val grouped =
      if (grp.isEmpty) ip
      else ip.reverse.grouped(3).mkString(grp.reverse).reverse
    val sign = if (v.signum < 0) "-" else ""
    if (d == 0) s"$sign$grouped" else s"$sign$grouped$dec$fp"
  }

  private lazy val moFormatU = udf(moFormatStr _)

  def moFormat(x: Column, d: Column, locale: Column): Column =
    moFormatU(x.cast("string"), d.cast("string"), locale.cast("string"))

  /** QUOTE(s): single-quoted with backslash escaping (MySQL semantics). */
  def quote(s: Column): Column =
    concat(lit("'"),
      regexp_replace(regexp_replace(s, "\\\\", "\\\\\\\\"), "'", "\\\\'"),
      lit("'"))

  /** SUBSTRING_INDEX is built-in; LEFT/RIGHT/REPEAT etc. are built-in. */

  // ----------------------------------------------------------- datetime
  /** Translate a MySQL date-format pattern to a JVM DateTimeFormatter
    * pattern (`%Y-%m-%d %H:%i:%s` → `yyyy-MM-dd HH:mm:ss`).
    */
  def mysqlFormatToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy"); case 'y' => sb.append("yy")
          case 'm' => sb.append("MM");   case 'c' => sb.append("M")
          case 'd' => sb.append("dd");   case 'e' => sb.append("d")
          case 'H' => sb.append("HH");   case 'k' => sb.append("H")
          case 'h' | 'I' => sb.append("hh")
          case 'i' => sb.append("mm")
          case 's' | 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'W' => sb.append("EEEE"); case 'a' => sb.append("EEE")
          case 'M' => sb.append("MMMM"); case 'b' => sb.append("MMM")
          case 'j' => sb.append("DDD")
          case '%' => sb.append("%")
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** MySQL DATE_FORMAT — a direct %-token renderer (the Java-pattern
    * translation cannot express %D ordinal days, %l, %r, %U..%x week
    * numbers; `function/func_date_format_1.result`).
    */
  def mysqlFormatDateTime(ts: java.sql.Timestamp, fmt: String): String = {
    if (ts == null || fmt == null) return null
    val ldt = ts.toLocalDateTime
    val d = ldt.toLocalDate
    import java.time.format.TextStyle
    import java.util.Locale.ENGLISH
    def two(v: Int) = f"$v%02d"
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt(i + 1) match {
          case 'Y' => sb.append(f"${ldt.getYear}%04d")
          case 'y' => sb.append(two(ldt.getYear % 100))
          case 'm' => sb.append(two(ldt.getMonthValue))
          case 'c' => sb.append(ldt.getMonthValue)
          case 'd' => sb.append(two(ldt.getDayOfMonth))
          case 'e' => sb.append(ldt.getDayOfMonth)
          case 'D' =>
            val dd = ldt.getDayOfMonth
            val suf =
              if (dd / 10 == 1) "th"
              else dd % 10 match {
                case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th"
              }
            sb.append(s"$dd$suf")
          case 'H' => sb.append(two(ldt.getHour))
          case 'k' => sb.append(ldt.getHour)
          case 'h' | 'I' =>
            val h = ldt.getHour % 12
            sb.append(two(if (h == 0) 12 else h))
          case 'l' =>
            val h = ldt.getHour % 12
            sb.append(if (h == 0) 12 else h)
          case 'i' => sb.append(two(ldt.getMinute))
          case 's' | 'S' => sb.append(two(ldt.getSecond))
          case 'f' => sb.append(f"${ldt.getNano / 1000}%06d")
          case 'p' => sb.append(if (ldt.getHour < 12) "AM" else "PM")
          case 'r' =>
            val h0 = ldt.getHour % 12
            sb.append(f"${if (h0 == 0) 12 else h0}%02d:${ldt.getMinute}%02d:" +
              f"${ldt.getSecond}%02d ${if (ldt.getHour < 12) "AM" else "PM"}")
          case 'T' =>
            sb.append(f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d")
          case 'W' => sb.append(d.getDayOfWeek.getDisplayName(TextStyle.FULL, ENGLISH))
          case 'a' => sb.append(d.getDayOfWeek.getDisplayName(TextStyle.SHORT, ENGLISH))
          case 'M' => sb.append(d.getMonth.getDisplayName(TextStyle.FULL, ENGLISH))
          case 'b' => sb.append(d.getMonth.getDisplayName(TextStyle.SHORT, ENGLISH))
          case 'j' => sb.append(f"${d.getDayOfYear}%03d")
          case 'w' => sb.append(d.getDayOfWeek.getValue % 7) // 0 = Sunday
          case 'U' => sb.append(two(mysqlCalcWeek(d, 0)))
          case 'u' => sb.append(two(mysqlCalcWeek(d, 1)))
          case 'V' => sb.append(two(mysqlCalcWeek(d, 2)))
          case 'v' => sb.append(two(mysqlCalcWeek(d, 3)))
          case 'X' | 'x' =>
            val mode = if (fmt(i + 1) == 'X') 2 else 3
            val w = mysqlCalcWeek(d, mode)
            val y =
              if (w >= 52 && d.getMonthValue == 1) d.getYear - 1
              else if (w <= 1 && d.getMonthValue == 12) d.getYear + 1
              else d.getYear
            sb.append(f"$y%04d")
          case '%' => sb.append('%')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val dateFormatUdf = org.apache.spark.sql.functions.udf(
    (ts: java.sql.Timestamp, f: String) => mysqlFormatDateTime(ts, f))

  /** %-tokens a JVM DateTimeFormatter pattern expresses faithfully —
    * formats using only these stay on the codegen'd `date_format`
    * (the hot path the plan-quality spec pins); anything else (%D
    * ordinals, 12-hour %l, %r/%T, MySQL week numbers) takes the
    * renderer UDF.
    */
  private val JavaSafeTokens = "YymcdeHkhIisSfpWaMbj%".toSet

  /** MySQL DATE_FORMAT. */
  def moDateFormat(ts: Column, mysqlFmt: String): Column = {
    val tokens = """%(.)""".r.findAllMatchIn(mysqlFmt).map(_.group(1).head)
    if (tokens.forall(JavaSafeTokens.contains))
      date_format(ts, mysqlFormatToJava(mysqlFmt))
    else dateFormatUdf(ts.cast("timestamp"), lit(mysqlFmt))
  }

  /** MySQL STR_TO_DATE / TO_DATE(str, fmt): a lenient %-token parser
    * with the reference's semantics (`pkg/vectorize/str_to_date.go`,
    * goldens `function/func_str_to_date.result`,
    * `func_datetime_todate.result`):
    *  - numeric fields are variable-width (1..max digits), leading
    *    spaces skip, leftover text after the pattern is ignored;
    *  - an invalid calendar date (April 31) or missing date component
    *    yields NULL, never an error;
    *  - the result TYPE follows the fields parsed: date-only fields →
    *    DATE string, time-only → TIME string, both → DATETIME string
    *    (rendered with 9-digit fractions when %f was parsed);
    *  - 12-hour %h maps 12→0 and adds 12 for PM; %y uses the 70 pivot.
    */
  def mysqlParseDateTime(text: String, fmt: String,
      strictDate: Boolean = true): String = {
    if (text == null || fmt == null) return null
    val n = text.length
    var ti = 0
    var year = -1; var month = -1; var day = -1; var doy = -1
    var hour = -1; var minute = -1; var sec = -1; var micros = -1L
    var hour12 = false; var hour24 = false; var pm = false
    var weekTok: Char = 0; var yearTok: Char = 0
    var sawDate = false; var sawTime = false; var sawFrac = false
    var weekNum = -1; var weekMode = -1; var weekdayNo = -1
    var ok = true
    def skipSpace(): Unit = while (ti < n && text(ti) == ' ') ti += 1
    def num(maxLen: Int): Int = {
      skipSpace(); val st = ti
      while (ti < n && ti - st < maxLen && text(ti).isDigit) ti += 1
      if (ti == st) -1 else text.substring(st, ti).toInt
    }
    def word(): String = {
      skipSpace(); val st = ti
      while (ti < n && text(ti).isLetter) ti += 1
      text.substring(st, ti)
    }
    def lit(c: Char): Unit = {
      if (c == ' ') skipSpace()
      else { skipSpace(); if (ti < n && text(ti) == c) ti += 1 else ok = false }
    }
    def meridiem(): Boolean = {
      skipSpace()
      if (ti + 1 < n && (text(ti) == 'A' || text(ti) == 'a' ||
          text(ti) == 'P' || text(ti) == 'p') &&
          (text(ti + 1) == 'M' || text(ti + 1) == 'm')) {
        pm = text(ti) == 'P' || text(ti) == 'p'; ti += 2; true
      } else false
    }
    val monthNames = Seq("january", "february", "march", "april", "may",
      "june", "july", "august", "september", "october", "november", "december")
    val dayNames = Seq("monday", "tuesday", "wednesday", "thursday",
      "friday", "saturday", "sunday")
    var fi = 0
    var exhausted = false
    while (fi < fmt.length && ok && !exhausted) {
      // MySQL stops (keeping the fields parsed so far) when the text
      // runs out mid-format ('15-01-2001' under '%d-%m-%Y %H:%i:%S')
      val probe = { var t = ti; while (t < n && text(t) == ' ') t += 1; t }
      if (probe >= n) exhausted = true
      else {
      val c = fmt(fi)
      if (c == '%' && fi + 1 < fmt.length) {
        fmt(fi + 1) match {
          case 'Y' =>
            // a 1-2 digit year under %Y still pivots like %y
            // (func_datetime_todate: '03-01-02' %Y-%m-%d → 2003)
            yearTok = 'Y'
            val before = ti
            year = num(4); sawDate = true; ok = year >= 0
            if (ok && ti - before <= 2 && year < 100)
              year = if (year < 70) 2000 + year else 1900 + year
          case 'y' =>
            yearTok = 'Y'
            val v = num(2); sawDate = true; ok = v >= 0
            if (ok) year = if (v < 70) 2000 + v else 1900 + v
          case 'm' | 'c' => month = num(2); sawDate = true; ok = month >= 0
          case 'd' | 'e' => day = num(2); sawDate = true; ok = day >= 0
          case 'D' => // day with English ordinal suffix (15th, 1st)
            day = num(2); sawDate = true; ok = day >= 0
            while (ok && ti < n && text(ti).isLetter) ti += 1
          case 'j' => doy = num(3); sawDate = true; ok = doy >= 0
          case 'H' | 'k' =>
            hour = num(2); hour24 = true; sawTime = true; ok = hour >= 0
          case 'h' | 'I' | 'l' =>
            hour = num(2); hour12 = true; sawTime = true; ok = hour >= 0
          case 'i' => minute = num(2); sawTime = true; ok = minute >= 0
          case 's' | 'S' => sec = num(2); sawTime = true; ok = sec >= 0
          case 'f' =>
            skipSpace(); val st = ti
            while (ti < n && ti - st < 9 && text(ti).isDigit) ti += 1
            ok = ti > st
            if (ok) {
              micros = text.substring(st, ti).padTo(6, '0').take(6).toLong
              sawFrac = true; sawTime = true
            }
          case 'p' =>
            // %p REQUIRES a meridiem token and rejects a 24-hour %H
            // (func_datetime_todate invalid-variant block: all NULL)
            ok = meridiem() && !hour24
          case '#' => // %#: skip a numeric run
            skipSpace(); while (ti < n && text(ti).isDigit) ti += 1
          case 'b' | 'M' =>
            val w = word().toLowerCase
            val idx = monthNames.indexWhere(_.startsWith(w))
            ok = w.length >= 3 && idx >= 0
            if (ok) { month = idx + 1; sawDate = true }
          case 'W' | 'a' =>
            val w = word().toLowerCase
            val di = dayNames.indexWhere(_.startsWith(w))
            ok = w.length >= 3 && di >= 0
            if (ok) weekdayNo = di // Monday=0
          case 'w' => // numeric weekday, 0=Sunday
            val v = num(1); ok = v >= 0 && v <= 6
            if (ok) weekdayNo = (v + 6) % 7 // → Monday=0
          case 'U' => weekNum = num(2); weekMode = 0; weekTok = 'U'; ok = weekNum >= 0
          case 'u' => weekNum = num(2); weekMode = 1; weekTok = 'u'; ok = weekNum >= 0
          case 'V' => weekNum = num(2); weekMode = 2; weekTok = 'V'; ok = weekNum >= 0
          case 'v' => weekNum = num(2); weekMode = 3; weekTok = 'v'; ok = weekNum >= 0
          case 'X' | 'x' =>
            yearTok = fmt(fi + 1)
            year = num(4); sawDate = true; ok = year >= 0
          case 'r' =>
            hour = num(2); lit(':'); minute = num(2); lit(':'); sec = num(2)
            ok = ok && hour >= 0 && minute >= 0 && sec >= 0
            meridiem(); hour12 = true; sawTime = true
          case 'T' =>
            hour = num(2); lit(':'); minute = num(2); lit(':'); sec = num(2)
            ok = ok && hour >= 0 && minute >= 0 && sec >= 0
            sawTime = true
          case '%' => lit('%')
          case other => lit(other)
        }
        fi += 2
      } else { lit(c); fi += 1 }
      }
    }
    if (!ok) return null
    // MySQL pairs week tokens with SPECIFIC year tokens: %U/%u with %Y,
    // %V with %X, %v with %x — a mismatched pair is NULL
    if (weekTok != 0 && yearTok != 0) {
      val want = weekTok match {
        case 'U' | 'u' => 'Y'
        case 'V' => 'X'
        case _ => 'x'
      }
      if (yearTok != want) return null
    }
    // week-number + weekday + year resolve to a concrete date
    // (str_to_date('200442 Monday','%X%V %W') → 2004-10-18)
    if (weekNum >= 0 && weekdayNo >= 0 && year >= 0 && month < 0) {
      var d0 = java.time.LocalDate.of(year - 1, 12, 15)
      val end = java.time.LocalDate.of(year + 1, 1, 20)
      var found: java.time.LocalDate = null
      while (found == null && !d0.isAfter(end)) {
        val wkOk = (d0.getDayOfWeek.getValue - 1) == weekdayNo &&
          mysqlCalcWeek(d0, weekMode) == weekNum && {
            val wy = weekMode match {
              case 2 | 3 =>
                if (weekNum >= 52 && d0.getMonthValue == 1) d0.getYear - 1
                else if (weekNum <= 1 && d0.getMonthValue == 12) d0.getYear + 1
                else d0.getYear
              case _ => d0.getYear
            }
            wy == year
          }
        if (wkOk) found = d0 else d0 = d0.plusDays(1)
      }
      if (found == null) return null
      year = found.getYear; month = found.getMonthValue; day = found.getDayOfMonth
    }
    if (hour12) {
      if (hour == 12) hour = 0
      if (pm) hour += 12
    }
    if (sawTime) {
      if (hour < 0) hour = 0
      if (minute < 0) minute = 0
      if (sec < 0) sec = 0
      if (micros < 0) micros = 0
      if (hour > 23 || minute > 59 || sec > 59) return null
    }
    if (sawDate) {
      if (doy >= 0 && month < 0 && year >= 0) {
        val jan1 = java.time.LocalDate.of(year, 1, 1)
        if (doy < 1 || doy > jan1.lengthOfYear()) return null
        val d2 = jan1.plusDays(doy - 1)
        month = d2.getMonthValue; day = d2.getDayOfMonth
      }
      if (year < 0 || month < 1 || month > 12 || day < 1 || day > 31) return null
      // STR_TO_DATE rejects impossible calendar dates; TO_DATE keeps
      // them verbatim (func_datetime_todate.result: '04/31/2004')
      if (strictDate &&
          day > java.time.YearMonth.of(year, month).lengthOfMonth()) return null
    }
    if (!sawDate && !sawTime) return null
    val frac = if (sawFrac) f".$micros%06d000" else ""
    if (sawDate && sawTime)
      f"$year%04d-$month%02d-$day%02d $hour%02d:$minute%02d:$sec%02d$frac"
    else if (sawDate) f"$year%04d-$month%02d-$day%02d"
    else f"$hour%02d:$minute%02d:$sec%02d$frac"
  }

  /** MySQL CONV: parse in |fromBase| with optional sign and a stop at
    * the first invalid digit; a negative value (explicit '-' or a
    * negative from-base view) wraps two's-complement into the
    * unsigned-64 domain; positive overflow clamps to 2^64-1; a negative
    * TO base renders the signed view (`function/func_conv.result`).
    */
  def mysqlConv(s0: String, from: Int, to: Int): String = {
    if (s0 == null) return null
    val fb = math.abs(from); val tb = math.abs(to)
    if (fb < 2 || fb > 36 || tb < 2 || tb > 36) return null
    val s = s0.trim
    if (s.isEmpty) return null // conv('', …) is NULL; invalid digits are 0
    var i = 0; var neg = false
    if (i < s.length && (s(i) == '+' || s(i) == '-')) { neg = s(i) == '-'; i += 1 }
    val st = i
    while (i < s.length && Character.digit(s(i), fb) >= 0) i += 1
    if (i == st) return "0"
    var v = BigInt(s.substring(st, i), fb)
    if (neg) v = -v
    val u64 = BigInt(1) << 64
    val w =
      if (v >= u64) u64 - 1 // positive overflow clamps
      else v.mod(u64) // two's-complement wrap for negatives
    if (to < 0) {
      val sv = if (w >= (BigInt(1) << 63)) w - u64 else w
      val mag = sv.abs.toString(tb).toUpperCase
      if (sv < 0) "-" + mag else mag
    } else w.toString(tb).toUpperCase
  }

  private val convUdf = org.apache.spark.sql.functions.udf(
    (s: String, f: Int, t: Int) => mysqlConv(s, f, t))

  private val fromBase64Udf = org.apache.spark.sql.functions.udf(
    (s: String) =>
      if (s == null) null
      else
        try java.util.Base64.getDecoder.decode(s.trim)
        catch { case _: IllegalArgumentException => null })

  /** MySQL FROM_BASE64: strict alphabet, NULL on invalid input. */
  def fromBase64(s: Column): Column = fromBase64Udf(s.cast("string"))

  private val regexpInstrUdf = org.apache.spark.sql.functions.udf(
    (s: String, p: String, pos: Integer, occ: Integer, ret: Integer) => {
      if (s == null || p == null) null
      else {
        val start = math.max(1, if (pos == null) 1 else pos.intValue)
        val nth = math.max(1, if (occ == null) 1 else occ.intValue)
        val retOpt = if (ret == null) 0 else ret.intValue
        val m = java.util.regex.Pattern.compile(p).matcher(s)
        var found = -1
        var count = 0
        if (start - 1 <= s.length) {
          var searching = m.find(start - 1)
          while (searching && found < 0) {
            count += 1
            if (count == nth)
              found = (if (retOpt == 1) m.end else m.start) + 1
            else searching = m.find()
          }
        }
        Integer.valueOf(if (found < 0) 0 else found)
      }
    })

  /** MySQL REGEXP_INSTR with start position, occurrence, and the
    * return-option flag (1 = position after the match) —
    * `function/func_regular_instr.result`.
    */
  def regexpInstr(s: Column, p: Column, pos: Column, occ: Column,
      ret: Column): Column =
    regexpInstrUdf(s.cast("string"), p.cast("string"),
      pos.cast("int"), occ.cast("int"), ret.cast("int"))

  private val regexpSubstrUdf = org.apache.spark.sql.functions.udf(
    (s: String, p: String, pos: Integer, occ: Integer) => {
      if (s == null || p == null) null
      else {
        val start = math.max(1, if (pos == null) 1 else pos.intValue)
        val nth = math.max(1, if (occ == null) 1 else occ.intValue)
        val m = java.util.regex.Pattern.compile(p).matcher(s)
        var res: String = null
        var count = 0
        if (start - 1 <= s.length) {
          var searching = m.find(start - 1)
          while (searching && res == null) {
            count += 1
            if (count == nth) res = m.group()
            else searching = m.find()
          }
        }
        res
      }
    })

  /** MySQL REGEXP_SUBSTR with start position and occurrence. */
  def regexpSubstr(s: Column, p: Column, pos: Column, occ: Column): Column =
    regexpSubstrUdf(s.cast("string"), p.cast("string"),
      pos.cast("int"), occ.cast("int"))

  def moConv(s: Column, from: Column, to: Column): Column =
    convUdf(s.cast("string"), from.cast("int"), to.cast("int"))

  private val strToDateUdf =
    org.apache.spark.sql.functions.udf(
      (s: String, f: String) => mysqlParseDateTime(s, f))
  private val toDateLenientUdf =
    org.apache.spark.sql.functions.udf(
      (s: String, f: String) => mysqlParseDateTime(s, f, strictDate = false))

  /** MySQL STR_TO_DATE (string result typed by the fields parsed). */
  def moStrToDate(s: Column, fmt: Column): Column =
    strToDateUdf(s.cast("string"), fmt.cast("string"))

  /** MO TO_DATE(str, fmt): STR_TO_DATE minus the calendar validation. */
  def moToDate(s: Column, fmt: Column): Column =
    toDateLenientUdf(s.cast("string"), fmt.cast("string"))

  // when the FORMAT is a column, the reference types the whole result
  // column DATETIME: date-only parses gain 00:00:00, time-only parses
  // are NULL (func_datetime_todate.result's per-row-format table)
  private val strToDateDynUdf =
    org.apache.spark.sql.functions.udf((s: String, f: String) => {
      val r = mysqlParseDateTime(s, f)
      if (r == null) null
      else if (r.contains(' ')) r
      else if (r.matches("^\\d{4}-.*")) r + " 00:00:00"
      else null
    })

  /** STR_TO_DATE with a non-literal format (DATETIME-typed result). */
  def moStrToDateDyn(s: Column, fmt: Column): Column =
    strToDateDynUdf(s.cast("string"), fmt.cast("string"))

  /** TO_DAYS: days since year 0 (MySQL convention: TO_DAYS('1970-01-01')
    * = 719528).
    */
  def toDays(d: Column): Column =
    (datediff(d, to_date(lit("1970-01-01"))) + 719528).cast("long")

  /** FROM_DAYS: inverse of toDays. */
  def fromDays(n: Column): Column =
    // day numbers below 366 land in year 0, which the reference renders
    // NULL (func_datetime_from_days.result: FROM_DAYS(1/365) → null)
    when(n < 366, lit(null)).otherwise(
      date_add(to_date(lit("1970-01-01")), (n - 719528).cast("int")))

  /** PERIOD_ADD(yyyymm, n months). */
  /** MySQL 2-digit period years expand like dates: YYMM with YY<70 is
    * 20YY, else 19YY (func_datetime_period_add.result: 0802+3 → 200805).
    */
  private def periodMonths(p: Column): Column = {
    val yy = (p / 100).cast("long")
    val y = when(p < 10000,
      when(yy < 70, yy + 2000).otherwise(yy + 1900)).otherwise(yy)
    y * 12 + (p % 100) - 1
  }

  def periodAdd(p: Column, n: Column): Column = {
    val months = periodMonths(p) + n
    ((months / 12).cast("long") * 100 + (months % 12) + 1).cast("long")
  }

  /** PERIOD_DIFF(p1, p2) in months. */
  def periodDiff(p1: Column, p2: Column): Column =
    (periodMonths(p1) - periodMonths(p2)).cast("long")

  /** MySQL WEEK(d[, mode]) — a transcription of MySQL's calc_week
    * (reference `pkg/container/types/date.go` WeekOfYear family; modes
    * table in the MySQL manual, goldens `function/func_date.result`:
    * week('2023-01-01', 0) = 1, mode 1 = 0). Mode bits: 1 = Monday
    * first, 2 = result may be 0 vs belongs-to-previous-year, 4 = week 1
    * is the first with the year's first weekday (xor-ed in for
    * Sunday-first modes).
    */
  def mysqlCalcWeek(d: java.time.LocalDate, mode0: Int): Int = {
    var b = mode0 & 7
    if ((b & 1) == 0) b ^= 4
    val mondayFirst = (b & 1) != 0
    var weekYear = (b & 2) != 0
    val firstWeekday = (b & 4) != 0
    def daysInYear(y: Int): Int = if (java.time.Year.isLeap(y)) 366 else 365
    val daynr = d.toEpochDay + 719528
    var year = d.getYear
    var firstDaynr = java.time.LocalDate.of(year, 1, 1).toEpochDay + 719528
    def weekdayOf(dn: Long): Int =
      (((dn % 7) + 5 + (if (!mondayFirst) 1 else 0)) % 7).toInt
    var weekday = weekdayOf(firstDaynr)
    var days = 0L
    if (d.getMonthValue == 1 && d.getDayOfMonth <= 7 - weekday) {
      if (!weekYear && ((firstWeekday && weekday != 0) ||
          (!firstWeekday && weekday >= 4))) return 0
      weekYear = true
      year -= 1
      days = daysInYear(year)
      firstDaynr -= days
      weekday = ((weekday + 53 * 7 - days) % 7).toInt
    }
    if ((firstWeekday && weekday != 0) || (!firstWeekday && weekday >= 4))
      days = daynr - (firstDaynr + (7 - weekday))
    else
      days = daynr - (firstDaynr - weekday)
    if (weekYear && days >= 52 * 7) {
      weekday = ((weekday + daysInYear(year)) % 7).toInt
      if ((!firstWeekday && weekday < 4) || (firstWeekday && weekday == 0))
        return 1
    }
    (days / 7 + 1).toInt
  }

  private val weekUdf = org.apache.spark.sql.functions.udf(
    (d: java.sql.Date, m: Integer) =>
      if (d == null) null
      // a NULL mode falls back to the default (func_date.result:
      // week('2023-01-01', null) = 1)
      else Integer.valueOf(mysqlCalcWeek(d.toLocalDate,
        if (m == null) 0 else m.intValue)))

  /** MySQL WEEK with mode (default 0 — @@default_week_format). */
  def mysqlWeek(d: Column, mode: Column): Column =
    weekUdf(d.cast("date"), mode.cast("int"))

  /** YEARWEEK — MySQL default mode 0 (reference
    * `pkg/container/types/date.go:893` `YearWeek`, i.e. MySQL calc_week
    * with WeekYear): weeks start Sunday; week 1 is the first week that
    * begins in the year (days before the year's first Sunday belong to
    * the previous year's week 52/53). Closed form verified against a
    * transcription of the reference algorithm over 1970–2060: with
    * ws = the Sunday on/before d, YEARWEEK = year(ws)*100 + (weeks from
    * the first Sunday of year(ws) to ws) + 1.
    */
  def yearweek(d: Column): Column = {
    val ws = date_sub(d, dayofweek(d) - lit(1))
    val jan1 = trunc(ws, "year")
    val firstSun = date_add(jan1, (lit(8) - dayofweek(jan1)) % 7)
    (year(ws).cast("long") * 100 +
      floor(datediff(ws, firstSun) / lit(7)).cast("long") + 1)
  }

  /** YEARWEEK ISO variant (MySQL mode 3: Monday-start ISO 8601 weeks). */
  def yearweekIso(d: Column): Column =
    (extract(lit("YEAROFWEEK"), d).cast("long") * 100 + weekofyear(d)).cast("long")

  /** SEC_TO_TIME(n) → 'HH:MM:SS' (MySQL TIME rendering). Hours are
    * zero-padded to 2 but never truncated (360001 → '100:00:01'), and
    * negative totals render with a leading '-' ('-00:00:01'), matching
    * MySQL.
    */
  def secToTime(n: Column): Column = {
    val total = n.cast("long")
    val s = abs(total)
    val hh = (s / 3600).cast("long").cast("string")
    val body = concat(
      when(length(hh) < 2, lpad(hh, 2, "0")).otherwise(hh), lit(":"),
      lpad(((s % 3600) / 60).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad((s % 60).cast("string"), 2, "0"))
    when(total < 0, concat(lit("-"), body)).otherwise(body)
  }

  /** TIME_TO_SEC('HH:MM:SS') — inverse of secToTime. A leading '-'
    * negates the WHOLE value ('-01:30:00' → -5400), per MySQL; the
    * sign is not just applied to the hours field.
    */
  def timeToSec(t: Column): Column = {
    val neg = substring(t, 1, 1) === "-"
    val u = when(neg, substring(t, 2, 1000000)).otherwise(t)
    val p = split(u, ":")
    val total = element_at(p, 1).cast("long") * 3600 +
      element_at(p, 2).cast("long") * 60 + element_at(p, 3).cast("long")
    when(neg, -total).otherwise(total)
  }

  // ---------------------------------------------------- strict datetime
  /** MySQL-strict datetime text: a full y-m-d (or compact yyyymmdd /
    * yyyymmddhhmmss), a real calendar date in years 1–9999, and
    * range-checked time fields. Spark's string→date cast is lenient
    * ('2020-08', '10000-03-02', '… 24:01:01' all parse); MySQL and the
    * reference NULL them out (func_last_day.result,
    * func_datetime_month.result).
    */
  def strictDateTimeText(s0: String): java.time.LocalDateTime = {
    if (s0 == null) return null
    val s = s0.trim
    def build(y: Int, mo: Int, d: Int, h: Int, mi: Int, se: Int, nano: Int) =
      try {
        if (h > 23 || mi > 59 || se > 59) null
        else java.time.LocalDateTime.of(y, mo, d, h, mi, se, nano)
      } catch { case _: Exception => null }
    s match {
      case StrictDtRe(y0, mo, d, h, mi, se, f) =>
        val nano = if (f == null) 0 else f.padTo(9, '0').take(9).toInt
        // MySQL 2-digit years expand (0-69 → 2000s, 70-99 → 1900s):
        // '10:11:12' is the DATE 2010-11-12
        // (func_datetime_varchar_date_validation.result)
        val y = if (y0.length <= 2) {
          val v = y0.toInt
          if (v < 70) v + 2000 else v + 1900
        } else y0.toInt
        // MySQL's calendar: year 0 is NOT a leap year ('0000-02-29' is
        // NULL, '0000-01-01' is valid); java.time's proleptic year 0 IS
        if (y == 0 && mo.toInt == 2 && d.toInt == 29) null
        else build(y, mo.toInt, d.toInt,
          if (h == null) 0 else h.toInt, if (mi == null) 0 else mi.toInt,
          if (se == null) 0 else se.toInt, nano)
      case _ if s.length == 8 && s.forall(_.isDigit) =>
        build(s.substring(0, 4).toInt, s.substring(4, 6).toInt,
          s.substring(6, 8).toInt, 0, 0, 0, 0)
      case _ if s.length == 14 && s.forall(_.isDigit) =>
        build(s.substring(0, 4).toInt, s.substring(4, 6).toInt,
          s.substring(6, 8).toInt, s.substring(8, 10).toInt,
          s.substring(10, 12).toInt, s.substring(12, 14).toInt, 0)
      case _ => null
    }
  }

  // MySQL accepts ANY single punctuation as the field separator
  // ('2024/01/15', '2024:01:15T12:34:56', '2024/01/15 12*34*56')
  private val StrictDtRe =
    """(\d{1,4})\D(\d{1,2})\D(\d{1,2})(?:[ T](\d{1,2})\D(\d{1,2})(?:\D(\d{1,2})(?:\.(\d{1,9}))?)?)?""".r

  private lazy val strictTsU = udf((s: String) =>
    Option(strictDateTimeText(s)).map(java.sql.Timestamp.valueOf).orNull)

  /** Column form of the strict MySQL datetime parse (compact
    * `yyyymmddhhmmss` numbers included) — the UPDATE path's
    * number→datetime store cast (`a = a + 101` on a datetime column,
    * dtype/datetime.result:240-248).
    */
  def strictTsCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    strictTsU(c)
  private lazy val lastDayU = udf((s: String) =>
    Option(strictDateTimeText(s)).map(dt => java.sql.Date.valueOf(
      dt.toLocalDate.`with`(
        java.time.temporal.TemporalAdjusters.lastDayOfMonth()))).orNull)

  /** Strict-validating timestamp for string operands of the date-part
    * builtins.
    */
  def strictTimestamp(c: Column): Column = strictTsU(c.cast("string"))

  /** MySQL LAST_DAY — computed inside the UDF so the registered
    * override never references the builtin name (a `last_day(...)`
    * Column inside a function REGISTERED as last_day self-resolves and
    * loops the analyzer).
    */
  def lastDayStrict(c: Column): Column = lastDayU(c.cast("string"))

  /** MO's SEC_TO_TIME quirks (func_datetime_sec_to_time.result): totals
    * beyond ±838:59:59 are NULL (no clamp); a NEGATIVE total renders
    * only when it is an exact hour count ('-1:00:00', hour unpadded)
    * and is NULL otherwise — including -838:59:59. Decimal inputs
    * truncate toward zero (2378.7 → 00:39:38).
    */
  def secToTimeExact(n: Column): Column = {
    val total = n.cast("long")
    when(total > 3020399L || total < -3020399L, lit(null))
      .when(total < 0,
        when(pmod(total, lit(3600L)) =!= 0L, lit(null))
          .otherwise(concat(lit("-"), (-total / 3600L).cast("long").cast("string"),
            lit(":00:00"))))
      .otherwise(secToTime(total))
  }

  /** MySQL composite EXTRACT units over string operands. Golden
    * semantics (func_datetime_extract.result): YEAR_MONTH → yyyymm;
    * DAY_HOUR over a datetime → 'dd hh'; the DAY_x/HOUR_x/MINUTE_x
    * pairs over a '[D ]H:M:S' time collapse days into hours
    * ('02 10:11:12' DAY_MINUTE → 5811).
    */
  def moExtract(unit: String, s: String): String = {
    if (unit == null || s == null) return null
    val u = unit.toLowerCase
    val dt = strictDateTimeText(s)
    val TimeRe = """(?:(\d+) )?(\d+):(\d+):(\d+)(?:\.\d+)?""".r
    u match {
      case "year_month" =>
        if (dt == null) null else (dt.getYear * 100 + dt.getMonthValue).toString
      case "day_hour" =>
        if (dt == null) null else f"${dt.getDayOfMonth}%02d ${dt.getHour}%02d"
      case _ =>
        val hms: Option[(Long, Long, Long)] = s.trim match {
          case TimeRe(d, h, m, sec) =>
            Some(((if (d == null) 0L else d.toLong * 24) + h.toLong,
              m.toLong, sec.toLong))
          case _ if dt != null =>
            // datetime operand: DAY_* units carry the day-of-month
            Some((if (u.startsWith("day")) dt.getDayOfMonth * 24L + dt.getHour
              else dt.getHour.toLong, dt.getMinute.toLong, dt.getSecond.toLong))
          case _ => None
        }
        hms.map { case (h, m, sec) =>
          u match {
            case "day_minute" | "hour_minute" => (h * 100 + m).toString
            case "day_second" | "hour_second" =>
              (h * 10000 + m * 100 + sec).toString
            case "minute_second" => (m * 100 + sec).toString
            case _ => null
          }
        }.orNull
    }
  }

  private lazy val moExtractU = udf(moExtract _)

  /** MySQL-exact MAKETIME kernel (func_datetime_maketime.result):
    * fractional hour/minute round half-away; minute/second outside
    * [0, 60) are NULL; the second rounds at `scale` digits (≤ 6) with
    * carry into minutes/hours; |time| clamps to 838:59:59 with a zeroed
    * fraction; hours pad to 2 digits, never truncate.
    */
  def makeTimeExact(h0: java.math.BigDecimal, m0: java.math.BigDecimal,
      s0: java.math.BigDecimal, scale: Int,
      truncH: Boolean, truncM: Boolean): String = {
    import java.math.{BigDecimal => BD, RoundingMode}
    if (h0 == null || m0 == null || s0 == null) return null
    // STRING hour/minute truncate toward zero ('12.7' → 12); numeric
    // ones round half-away (12.7 → 13) — func_datetime_maketime.result
    val hr = try h0.setScale(0,
        if (truncH) RoundingMode.DOWN else RoundingMode.HALF_UP).longValueExact()
      catch { case _: ArithmeticException => return null }
    val mn = try m0.setScale(0,
        if (truncM) RoundingMode.DOWN else RoundingMode.HALF_UP).longValueExact()
      catch { case _: ArithmeticException => return null }
    if (mn < 0 || mn > 59) return null
    if (s0.signum < 0 || s0.compareTo(BD.valueOf(60)) >= 0) return null
    val fs = math.min(6, math.max(scale, 0))
    var sec = s0.setScale(fs, RoundingMode.HALF_UP)
    var mnV = mn
    var hMag = math.abs(hr)
    val neg = hr < 0
    if (sec.compareTo(BD.valueOf(60)) >= 0) { // rounding carry only
      sec = sec.subtract(BD.valueOf(60))
      mnV += 1
    }
    if (mnV > 59) { mnV = 0; hMag += 1 }
    if (hMag > 838) { // clamp at the TIME range edge, fraction zeroed
      hMag = 838; mnV = 59
      sec = BD.valueOf(59).setScale(fs)
    }
    val plain = sec.toPlainString
    val (si, sf) = plain.indexOf('.') match {
      case -1 => (plain, "")
      case d => (plain.substring(0, d), plain.substring(d))
    }
    val hh = if (hMag < 10) s"0$hMag" else hMag.toString
    f"${if (neg) "-" else ""}$hh:$mnV%02d:${if (si.length < 2) "0" + si else si}$sf"
  }

  private lazy val makeTimeExactU = udf(makeTimeExact _)

  // scale 30 keeps DECIMAL(30,20) operands exact through the cast (a
  // scale-18 cast half-up-rounds 59.4999…9 over the carry edge)
  private[functions] def makeTimeCall(h: Column, m: Column, s: Column,
      scale: Int, truncH: Boolean, truncM: Boolean): Column =
    makeTimeExactU(h.cast("decimal(38,30)"), m.cast("decimal(38,30)"),
      s.cast("decimal(38,30)"), lit(scale), lit(truncH), lit(truncM))

  /** MAKETIME over integer columns (Column API; SQL dispatch with
    * declared-scale rendering lives in `functions`).
    */
  def makeTime(h: Column, m: Column, s: Column): Column =
    makeTimeCall(h, m, s, 0, truncH = false, truncM = false)

  /** ADDTIME(t, delta) / SUBTIME on 'HH:MM:SS' strings. */
  def addTime(t: Column, delta: Column): Column =
    secToTime(timeToSec(t) + timeToSec(delta))
  def subTime(t: Column, delta: Column): Column =
    secToTime(timeToSec(t) - timeToSec(delta))

  /** TIMEDIFF(ts1, ts2) → signed 'HH:MM:SS' of the timestamp delta
    * (MySQL renders negative diffs with a leading '-').
    */
  def timeDiff(ts1: Column, ts2: Column): Column = {
    val secs = to_unix_timestamp(ts1) - to_unix_timestamp(ts2)
    when(secs < 0, concat(lit("-"), secToTime(-secs))).otherwise(secToTime(secs))
  }

  /** GET_FORMAT(type, standard) → MySQL format pattern (static lookup,
    * MySQL reference table).
    */
  def getFormat(kind: String, standard: String): Option[String] = {
    val key = (kind.toUpperCase, standard.toUpperCase)
    val table = Map(
      ("DATE", "USA") -> "%m.%d.%Y", ("DATE", "JIS") -> "%Y-%m-%d",
      ("DATE", "ISO") -> "%Y-%m-%d", ("DATE", "EUR") -> "%d.%m.%Y",
      ("DATE", "INTERNAL") -> "%Y%m%d",
      ("TIME", "USA") -> "%h:%i:%s %p", ("TIME", "JIS") -> "%H:%i:%s",
      ("TIME", "ISO") -> "%H:%i:%s", ("TIME", "EUR") -> "%H.%i.%s",
      ("TIME", "INTERNAL") -> "%H%i%s",
      ("DATETIME", "USA") -> "%Y-%m-%d %H.%i.%s",
      ("DATETIME", "JIS") -> "%Y-%m-%d %H:%i:%s",
      ("DATETIME", "ISO") -> "%Y-%m-%d %H:%i:%s",
      ("DATETIME", "EUR") -> "%Y-%m-%d %H.%i.%s",
      ("DATETIME", "INTERNAL") -> "%Y%m%d%H%i%s",
      ("TIMESTAMP", "USA") -> "%Y-%m-%d %H.%i.%s",
      ("TIMESTAMP", "JIS") -> "%Y-%m-%d %H:%i:%s",
      ("TIMESTAMP", "ISO") -> "%Y-%m-%d %H:%i:%s",
      ("TIMESTAMP", "EUR") -> "%Y-%m-%d %H.%i.%s",
      ("TIMESTAMP", "INTERNAL") -> "%Y%m%d%H%i%s")
    table.get(key)
  }

  // -------------------------------------------------------------- inet6
  /** Parse an IPv6 literal (with :: compression and embedded IPv4) to 16
    * bytes; dotted-quad IPv4 to 4 bytes (MySQL INET6_ATON). Pure parser —
    * never touches the resolver.
    */
  def inet6AtonBytes(s: String): Array[Byte] = {
    if (s == null) return null
    if (!s.contains(':')) {
      val q = s.split("\\.")
      if (q.length != 4) return null
      val out = new Array[Byte](4)
      try {
        for (i <- 0 until 4) {
          val v = q(i).toInt
          if (v < 0 || v > 255) return null
          out(i) = v.toByte
        }
      } catch { case _: NumberFormatException => return null }
      return out
    }
    // IPv6: split on "::" (at most one), expand the gap with zero groups
    val dc = s.indexOf("::")
    if (dc >= 0 && s.indexOf("::", dc + 1) >= 0) return null
    def groups(part: String): Option[Array[Int]] = {
      if (part.isEmpty) return Some(Array.empty)
      val raw = part.split(":", -1)
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      for ((g, i) <- raw.zipWithIndex) {
        if (g.contains('.')) {
          // embedded IPv4 must be the final group
          if (i != raw.length - 1) return None
          val v4 = inet6AtonBytes(g)
          if (v4 == null || v4.length != 4) return None
          out += ((v4(0) & 0xff) << 8 | (v4(1) & 0xff))
          out += ((v4(2) & 0xff) << 8 | (v4(3) & 0xff))
        } else {
          if (g.isEmpty || g.length > 4) return None
          try out += Integer.parseInt(g, 16)
          catch { case _: NumberFormatException => return None }
        }
      }
      Some(out.toArray)
    }
    val (headS, tailS) =
      if (dc >= 0) (s.substring(0, dc), s.substring(dc + 2)) else (s, "")
    (groups(headS), groups(tailS)) match {
      case (Some(h), Some(t)) =>
        val fill = 8 - h.length - t.length
        if (dc < 0 && h.length != 8) null
        else if (dc >= 0 && fill < 1) null
        else {
          val gs = h ++ Array.fill(math.max(fill, 0))(0) ++ t
          if (gs.length != 8) null
          else {
            val out = new Array[Byte](16)
            for (i <- 0 until 8) {
              out(2 * i) = ((gs(i) >> 8) & 0xff).toByte
              out(2 * i + 1) = (gs(i) & 0xff).toByte
            }
            // MO collapses IPv4-mapped addresses to their 4 bytes
            // (func_misc_inet6.result: '::ffff:192.168.1.1' → C0A80101)
            if (out.take(10).forall(_ == 0) && out(10) == -1 && out(11) == -1)
              out.takeRight(4)
            else out
          }
        }
      case _ => null
    }
  }

  /** 16 bytes → RFC 5952 compressed IPv6 text; 4 bytes → dotted quad
    * (MySQL INET6_NTOA).
    */
  def inet6NtoaStr(b: Array[Byte]): String = {
    if (b == null) return null
    if (b.length == 4) return b.map(_ & 0xff).mkString(".")
    if (b.length != 16) return null
    // MO renders an IPv4-mapped 16-byte value as its dotted quad
    // (func_misc_inet6.result)
    if (b.take(10).forall(_ == 0) && b(10) == -1 && b(11) == -1)
      return b.takeRight(4).map(_ & 0xff).mkString(".")
    val gs = (0 until 8).map(i => ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
    // longest run of zero groups (length >= 2) compresses to ::
    var bestStart = -1
    var bestLen = 0
    var i = 0
    while (i < 8) {
      if (gs(i) == 0) {
        var j = i
        while (j < 8 && gs(j) == 0) j += 1
        if (j - i > bestLen) { bestStart = i; bestLen = j - i }
        i = j
      } else i += 1
    }
    if (bestLen < 2) gs.map(g => Integer.toHexString(g)).mkString(":")
    else {
      val head = gs.take(bestStart).map(g => Integer.toHexString(g)).mkString(":")
      val tail = gs.drop(bestStart + bestLen).map(g => Integer.toHexString(g)).mkString(":")
      s"$head::$tail"
    }
  }

  // MO counts IPv4-mapped text ('::ffff:1.2.3.4') as NOT ipv6, and
  // NULL propagates (func_misc_is_ipv6.result)
  def isIpv6Str(s: String): java.lang.Boolean =
    if (s == null) null
    else java.lang.Boolean.valueOf(
      s.contains(':') && !s.contains('.') && inet6AtonBytes(s) != null)

  /** CONVERT_TZ(dt, from_tz, to_tz) — reinterpret naive wall-clock dt
    * from from_tz and render it in to_tz (reference `convert_tz`,
    * `list_builtIn.go:8733`). Session timezone is UTC (GraftSession), so
    * a TimestampType's wall-clock reading IS its UTC rendering, making
    * the to_utc/from_utc pair exactly MySQL's semantics.
    */
  def convertTz(ts: Column, fromTz: String, toTz: String): Column =
    from_utc_timestamp(to_utc_timestamp(ts, fromTz), toTz)

  /** CONVERT_TZ with MO's guards (func_convert_tz.result): a malformed
    * or out-of-range offset (valid: -13:59..+14:00) is NULL instead of
    * an error; a shifted result outside years 1-9999 returns the INPUT
    * unchanged; the input's fractional-second text is carried through.
    */
  def convertTzExact(ts: String, from: String, to: String): String = {
    if (ts == null || from == null || to == null) return null
    val dt = strictDateTimeText(ts)
    if (dt == null) return null
    def zone(z: String): Option[java.time.ZoneId] = {
      val OffRe = """([+-])(\d{1,2}):(\d{2})""".r
      z.trim match {
        case OffRe(sg, h, m) =>
          val hh = h.toInt; val mm = m.toInt
          if (mm > 59 || hh > 14 || (hh == 14 && mm > 0)) None
          else Some(java.time.ZoneOffset.ofTotalSeconds(
            (if (sg == "-") -1 else 1) * (hh * 3600 + mm * 60)))
        case other =>
          // SHORT_IDS resolves 'EST'/'CET'-style abbreviations
          try Some(java.time.ZoneId.of(other, java.time.ZoneId.SHORT_IDS))
          catch { case _: Exception => None }
      }
    }
    // MO renders CONVERT_TZ at seconds precision even for fractional
    // inputs (func_convert_tz.result: datetime(4) column → '… 20:02:00')
    def render(x: java.time.LocalDateTime): String =
      f"${x.getYear}%04d-${x.getMonthValue}%02d-${x.getDayOfMonth}%02d " +
        f"${x.getHour}%02d:${x.getMinute}%02d:${x.getSecond}%02d"
    (zone(from), zone(to)) match {
      case (Some(f), Some(t)) =>
        val out = dt.withNano(0).atZone(f).withZoneSameInstant(t).toLocalDateTime
        if (out.getYear < 1 || out.getYear > 9999) render(dt) else render(out)
      case _ => null
    }
  }

  private lazy val convertTzExactU = udf(convertTzExact _)

  /** MySQL CAST(x AS TIME) text normalization
    * (dtype/mysql_compat_cast_convert_matrix.result, time_1.result):
    * compact digit runs right-align ('030405' → 03:04:05, '20' →
    * 00:00:20), 'D H:M:S' folds days into hours ('02 10:11:12' →
    * 58:11:12), 'H:M' gains seconds, datetimes keep their time part;
    * invalid text is NULL.
    */
  def moTimeText(s0: String): String = {
    if (s0 == null) return null
    val s = s0.trim
    def fmt2(neg: Boolean, h: Long, m: Long, sec: Long, frac: String): String = {
      if (m > 59 || sec > 59) return null
      val hh = if (h < 10) "0" + h else h.toString
      f"${if (neg) "-" else ""}$hh:$m%02d:$sec%02d$frac"
    }
    val DayTime = """(\d+) (\d{1,2}):(\d{1,2}):(\d{1,2})(\.\d+)?""".r
    val Hms = """(-?)(\d+):(\d{1,2}):(\d{1,2})(\.\d+)?""".r
    val Hm = """(-?)(\d+):(\d{1,2})""".r
    val Compact = """(-?)(\d+)(\.\d+)?""".r
    s match {
      case DayTime(d, h, m, sec, f) =>
        fmt2(neg = false, d.toLong * 24 + h.toLong, m.toLong, sec.toLong,
          if (f == null) "" else f)
      case Hms(neg, h, m, sec, f) =>
        fmt2(neg == "-", h.toLong, m.toLong, sec.toLong, if (f == null) "" else f)
      case Hm(neg, h, m) => fmt2(neg == "-", h.toLong, m.toLong, 0L, "")
      case Compact(neg, digits, f) =>
        val v = digits.toLong
        val (h, m, sec) = (v / 10000, (v / 100) % 100, v % 100)
        fmt2(neg == "-", h, m, sec, if (f == null) "" else f)
      case _ =>
        val dt = strictDateTimeText(s)
        if (dt == null) null
        else fmt2(neg = false, dt.getHour.toLong, dt.getMinute.toLong,
          dt.getSecond.toLong, "")
    }
  }

  private lazy val moTimeU = udf(moTimeText _)

  // --------------------------------------------------------------- math
  /** MySQL TRUNCATE(x, d): toward zero. */
  def truncateNum(x: Column, d: Int): Column = {
    val f = math.pow(10, d)
    (x * f).cast("long").cast("double") / f
  }

  // --------------------------------------------------------------- misc
  /** INET_ATON: dotted quad → long. */
  def inetAton(ip: Column): Column = {
    val p = split(ip, "\\.")
    when(size(p) === 4,
      element_at(p, 1).cast("long") * 16777216L +
        element_at(p, 2).cast("long") * 65536L +
        element_at(p, 3).cast("long") * 256L +
        element_at(p, 4).cast("long"))
  }

  /** INET_NTOA: long → dotted quad (NULL in, NULL out — concat_ws
    * would silently render '').
    */
  def inetNtoa(n: Column): Column =
    when(n.isNull, lit(null).cast("string")).otherwise(concat_ws(".",
      ((n / 16777216).cast("long") % 256).cast("string"),
      ((n / 65536).cast("long") % 256).cast("string"),
      ((n / 256).cast("long") % 256).cast("string"),
      (n.cast("long") % 256).cast("string")))

  // octets reject leading zeros ('192.168.01.1' is NOT ipv4 — MySQL and
  // func_misc_is_ipv4.result)
  def isIpv4(s: Column): Column =
    s.rlike("^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])$")

  /** IS_UUID — MySQL accepts three spellings: dashed, bare 32-hex, and
    * braced-dashed (`{...}` around the bare form is NOT valid).
    */
  def isUuid(s: Column): Column = {
    val dashed = "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    s.rlike(s"^($dashed|[0-9a-fA-F]{32}|\\{$dashed\\})$$")
  }

  /** UUID_TO_BIN / BIN_TO_UUID (no swap flag). */
  def uuidToBin(s: Column): Column = unhex(regexp_replace(s, "-", ""))
  def binToUuid(b: Column): Column = {
    val h = lower(hex(b))
    concat_ws("-", substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  /** serial/serial_full/serial_extract: pack columns into ONE injective,
    * order-preserving string key (reference `func_builtin_serial.go`
    * packs a typed binary tuple via types.Packer; here fields pack as
    * strings -- documented deviation).
    *
    * Encoding: fields joined by u0000; each field is a null tag ("0" =
    * NULL, "1" = present) + the value, escaping u0001 -> u0001u0003
    * then u0000 -> u0001u0002. The separator never appears inside an
    * encoded field (injective), escape targets keep source byte order
    * (u0000 -> ..u0002 < u0001 -> ..u0003), and the separator u0000
    * sorts below every encoded byte, so the packed key sorts
    * field-by-field. `serial` is NULL if any field is NULL (reference
    * semantics); `serialFull` keeps NULL fields (tag "0", sorting first).
    */
  private def serialEnc(c: Column): Column =
    regexp_replace(
      regexp_replace(c.cast("string"), "\u0001", "\u0001\u0003"),
      "\u0000", "\u0001\u0002")

  private def serialField(c: Column): Column =
    when(c.isNull, lit("0")).otherwise(concat(lit("1"), serialEnc(c)))

  def serialFull(cols: Seq[Column]): Column =
    concat_ws("\u0000", cols.map(serialField): _*)

  def serial(cols: Seq[Column]): Column =
    when(cols.map(_.isNotNull).reduce(_ && _), serialFull(cols))

  /** Inverse of the packing above: the idx-th (0-based) field as a
    * string, NULL for NULL-tagged fields or out-of-range idx.
    */
  def serialExtract(s: Column, idx: Int): Column = {
    val f = element_at(split(s, "\u0000"), idx + 1)
    when(f.startsWith("1"),
      regexp_replace(
        regexp_replace(substring(f, 2, Int.MaxValue), "\u0001\u0002", "\u0000"),
        "\u0001\u0003", "\u0001"))
  }

  /** SQL names usable from `spark.sql`. Each name resolves to the SAME
    * expression tree the Column API above builds (stays in whole-stage
    * codegen — no ScalaUDF on the SQL surface); only the byte-level IPv6
    * helpers and dynamic (non-literal) format arguments fall back to a
    * UDF.
    */
  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    import org.apache.spark.sql.GraftColumnBridge.eagerExpression
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String

    def strLit(e: Column): Option[String] = eagerExpression(e) match {
      case Literal(s: UTF8String, _) => Some(s.toString)
      case _ => None
    }

    // dynamic-format fallbacks (rare: almost every caller passes literals)
    val dynDateFormat = udf((ts: java.sql.Timestamp, fmt: String) =>
      mysqlFormatDateTime(ts, fmt))
    val dynConvertTz = udf((ts: java.sql.Timestamp, from: String, to: String) =>
      if (ts == null || from == null || to == null) null
      else java.sql.Timestamp.valueOf(
        ts.toLocalDateTime.atZone(java.time.ZoneId.of(from))
          .withZoneSameInstant(java.time.ZoneId.of(to)).toLocalDateTime))
    val dynGetFormat = udf((k: String, std: String) =>
      if (k == null || std == null) null else getFormat(k, std).orNull)

    ft.column("mo_date_format", "mo_date_format(ts, mysql_fmt)") { args =>
      strLit(args(1)) match {
        // an empty format is NULL, not '' (func_date_format.result)
        case Some("") => lit(null).cast("string")
        case Some(fmt) => moDateFormat(args(0), fmt)
        case None => dynDateFormat(args(0), args(1))
      }
    }
    ft.column("to_days", "to_days(date)")(args => toDays(args(0)))
    ft.column("period_add", "period_add(yyyymm, n)")(args => periodAdd(args(0), args(1)))
    ft.column("period_diff", "period_diff(p1, p2)")(args => periodDiff(args(0), args(1)))
    ft.column("inet_aton", "inet_aton(ip)")(args => inetAton(args(0)))
    ft.column("inet_ntoa", "inet_ntoa(n)")(args => inetNtoa(args(0)))
    ft.column("sec_to_time", "sec_to_time(seconds)")(args => secToTimeExact(args(0)))
    ft.column("time_to_sec", "time_to_sec(time)")(args => timeToSec(args(0)))
    ft.column("mo_extract", "mo_extract(unit, s) - composite EXTRACT units")(args =>
      moExtractU(args(0).cast("string"), args(1).cast("string")))
    ft.column("mo_time", "mo_time(s) - MySQL CAST(x AS TIME) normalization")(args =>
      moTimeU(args(0).cast("string")))
    // MySQL's UNIX_TIMESTAMP range is [epoch, 3001-01-19 03:14:07 UTC);
    // outside it (incl. pre-1970) is NULL, as is invalid datetime TEXT
    // ('2021-02-29') — func_datetime_unixtime.result. Computed through
    // to_unix_timestamp/try_to_timestamp so the override never
    // self-resolves.
    ft.column("unix_timestamp", "unix_timestamp([ts]) - MySQL range guards") { args =>
      if (args.isEmpty) to_unix_timestamp(current_timestamp())
      else if (args.length > 1) to_unix_timestamp(args(0), args(1))
      else {
        val isStr = (try Some(eagerExpression(args(0)).dataType)
          catch { case _: Exception => None }) match {
          case Some(_: org.apache.spark.sql.types.StringType) | None => true
          case _ => false
        }
        val ts = if (isStr) try_to_timestamp(args(0)) else args(0).cast("timestamp")
        val u = to_unix_timestamp(ts)
        when(u < 0L || u >= 32536771200L, lit(null)).otherwise(u)
      }
    }
    ft.column("from_unixtime", "from_unixtime(n[, fmt]) - MySQL range guards") { args =>
      val n = args(0).cast("decimal(26,6)")
      val ts = timestamp_seconds(n)
      val body =
        if (args.length > 1) (strLit(args(1)) match {
          case Some(fmt) => moDateFormat(ts, fmt)
          case None => dynDateFormat(ts, args(1))
        })
        else date_format(ts, "yyyy-MM-dd HH:mm:ss")
      when(n < 0 || n >= 32536771200L, lit(null)).otherwise(body)
    }
    // CAST(TIMEDIFF(…) AS CHAR) renders TIME(6): a fraction-free diff
    // gains '.000000' (func_datetime_timediff.result mixed_format1)
    ft.column("mo_timediff_char", "mo_timediff_char(t1, t2)") { args =>
      val d = timeDiff(args(0), args(1))
      when(instr(d, ".") > 0, d).otherwise(concat(d, lit(".000000")))
    }
    ft.column("maketime", "maketime(h, m, s)") { args =>
      def typeOf(i: Int) =
        try Some(eagerExpression(args(i)).dataType)
        catch { case _: Exception => None } // unresolved column refs
      def isString(i: Int) = typeOf(i) match {
        case Some(_: org.apache.spark.sql.types.StringType) => true
        case _ => false
      }
      // display scale follows the SECOND argument's declared scale
      // (DECIMAL keeps it; ints none; double/string show micros)
      val sc = typeOf(2) match {
        case Some(d: org.apache.spark.sql.types.DecimalType) => math.min(6, d.scale)
        case Some(_: org.apache.spark.sql.types.IntegerType) |
             Some(_: org.apache.spark.sql.types.LongType) |
             Some(_: org.apache.spark.sql.types.ShortType) |
             Some(_: org.apache.spark.sql.types.ByteType) => 0
        case _ => 6
      }
      makeTimeCall(args(0), args(1), args(2), sc,
        truncH = isString(0), truncM = isString(1))
    }
    ft.column("get_format", "get_format(kind, standard)") { args =>
      (strLit(args(0)), strLit(args(1))) match {
        case (Some(k), Some(std)) => lit(getFormat(k, std).orNull)
        case _ => dynGetFormat(args(0), args(1))
      }
    }
    ft.column("convert_tz", "convert_tz(ts, from_tz, to_tz)")(args =>
      convertTzExactU(args(0).cast("string"), args(1).cast("string"),
        args(2).cast("string")))
    // byte-level codecs: no expression-combinator equivalent
    // mo_ctl('dn', cmd, target) — the reference's admin control call
    // (flush/checkpoint are storage maintenance; a no-op here). Output
    // matches the reference's JSON envelope verbatim
    // (vector_ivfflat_null_entry_panic_minimal.result:13-21).
    ft.udf("mo_ctl", udf((_: String, cmd: String, arg: String) => {
      // inspect objprune: the prune status message (func_purge_log.sql
      // masks digits, so fixed counters render faithfully)
      if (cmd != null && cmd.equalsIgnoreCase("inspect") && arg != null &&
        arg.trim.toLowerCase.startsWith("objprune")) {
        val tbl = """-t\s+\S*?(\w+)\s""".r.findFirstMatchIn(arg + " ")
          .map(_.group(1)).getOrElse("t")
        prunedMsg(tbl)
      } else {
        val m = if (cmd == null || cmd.isEmpty) ""
          else cmd.substring(0, 1).toUpperCase + cmd.substring(1).toLowerCase
        s"{\n  \"method\": \"$m\",\n  \"result\": [\n    {\n      " +
          "\"returnStr\": \"OK\"\n    }\n  ]\n}"
      }
    }))
    // fulltext_index_tokenize TVF kernel (`pkg/fulltext/tokenize`,
    // gojieba.sql:429): parser comes from the JSON options argument
    ft.udf("mo_ft_tokenize", udf((optsJson: String, text: String) => {
      val parser =
        if (optsJson != null && optsJson.contains("gojieba")) "gojieba" else "simple"
      if (text == null) Seq.empty[String]
      else if (parser == "gojieba") graft.fulltext.CjkSegmenter.tokenize(text)
      else text.toLowerCase.split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)
    }))
    ft.udf("inet6_aton", udf(inet6AtonBytes _))
    ft.udf("inet6_ntoa", udf(inet6NtoaStr _))
    // prefix/suffix predicates return MySQL 1/0 (func_string_startsWith).
    // Registered under mo_-prefixed names ONLY: a session UDF named
    // "startswith" shadows Spark 4.1's boolean builtin for every
    // Column.startsWith call site (the Column API resolves by name
    // through the function registry). The MySQL-facing spelling is
    // rewritten to these names by the conformance shim.
    ft.udf("mo_startswith", udf((s: String, p: String) =>
      if (s == null || p == null) null
      else java.lang.Integer.valueOf(if (s.startsWith(p)) 1 else 0)))
    ft.udf("mo_endswith", udf((s: String, p: String) =>
      if (s == null || p == null) null
      else java.lang.Integer.valueOf(if (s.endsWith(p)) 1 else 0)))
    // SLEEP(n): MO's argument errors (func_sleep.result); returns 0
    ft.udf("sleep", udf((d: java.lang.Double) => {
      if (d == null) throw new RuntimeException(
        "invalid argument sleep, bad value input contains null")
      if (d.doubleValue() < 0) throw new RuntimeException(
        "invalid argument sleep, bad value input contains negative")
      Thread.sleep((d.doubleValue() * 1000).toLong)
      0L
    }))
    // MO_LOG_DATE: first `\d{1,4}/\d{1,2}/\d{1,2}` substring parsed as
    // %Y/%m/%d with MySQL 2-digit-year mapping; NULL when absent/invalid
    // (reference func_builtin.go:1278 builtInMoLogDate)
    ft.udf("mo_log_date", udf((s: String) =>
      if (s == null) null
      else moLogDateRe.findFirstIn(s).flatMap { m =>
        val parts = m.split("/")
        var y = parts(0).toInt
        if (parts(0).length <= 2) y = if (y < 70) 2000 + y else 1900 + y
        val mm = parts(1).toInt
        val d = parts(2).toInt
        val leap = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0
        val dim = Array(31, if (leap) 29 else 28, 31, 30, 31, 30, 31, 31,
          30, 31, 30, 31)
        if (y >= 1 && y <= 9999 && mm >= 1 && mm <= 12 && d >= 1 &&
          d <= dim(mm - 1))
          Some(java.sql.Date.valueOf(f"$y%04d-$mm%02d-$d%02d"))
        else None
      }.orNull))
    // UUID_TO_BIN / BIN_TO_UUID kernels (MoAliases wires the optional
    // swap flag): swap = time_hi, time_mid, time_low reorder
    ft.udf("mo_uuid_to_bin", udf((s: String, flag: String) => {
      if (s == null || flag == null) null
      else {
        val hexs = canonUuid(s).getOrElse(throw new RuntimeException(
          s"invalid input: '$s' is not a valid uuid"))
        val ordered =
          if (moBoolFlag(flag))
            hexs.substring(12, 16) + hexs.substring(8, 12) +
              hexs.substring(0, 8) + hexs.substring(16)
          else hexs
        ordered.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      }
    }))
    ft.udf("mo_bin_to_uuid", udf((b: Array[Byte], flag: String) => {
      if (b == null || flag == null) null
      else {
        val hexs = b.map("%02x".format(_)).mkString
        if (hexs.length != 32) throw new RuntimeException(
          "invalid input: binary uuid must be 16 bytes")
        val plain =
          if (moBoolFlag(flag))
            hexs.substring(8, 16) + hexs.substring(4, 8) +
              hexs.substring(0, 4) + hexs.substring(16)
          else hexs
        s"${plain.substring(0, 8)}-${plain.substring(8, 12)}-" +
          s"${plain.substring(12, 16)}-${plain.substring(16, 20)}-" +
          s"${plain.substring(20)}"
      }
    }))
    // PURGE_LOG (reference func_builtin.go builtInPurgeLog): sys-only
    // log-table maintenance; ≤24h targets take the delete path
    // ('success'), older ones the prune path (the inspect message)
    ft.udf("purge_log", udf((tbl: String, date: String) => {
      if (tbl == null || date == null) null
      else if (!date.matches("""\d{4}-\d{1,2}-\d{1,2}.*""")) null
      else if (tbl.contains(",")) throw new RuntimeException(
        "not supported: table name contains comma.")
      else if (!Set("rawlog", "statement_info", "metric")(tbl.toLowerCase))
        throw new RuntimeException(s"not supported: purge '$tbl'")
      else {
        val target =
          try Some(java.sql.Date.valueOf(date.trim.take(10)).getTime)
          catch { case _: Exception => None }
        target.map { t =>
          if (System.currentTimeMillis() - t <= 24L * 3600 * 1000) "success"
          else prunedMsg(tbl.toLowerCase)
        }.orNull
      }
    }))
    // user locks (GET_LOCK family): a JVM-global name → (holder, count)
    // registry; one session here, so the holder is the fixed
    // connection_id. Cross-session contention lives in the reference's
    // lock service — out of scope for a single-session engine.
    ft.udf("connection_id", udf(() => ConnId))
    ft.udf("get_lock", udf((name: String, t: java.lang.Double) => {
      if (name == null || t == null) null // MySQL: NULL args → NULL
      else {
        userLocks.updateWith(name.toLowerCase) {
          case Some((h, c)) if h == ConnId => Some((h, c + 1))
          case Some(other) => Some(other)
          case None => Some((ConnId, 1))
        }
        java.lang.Long.valueOf(
          if (userLocks(name.toLowerCase)._1 == ConnId) 1L else 0L)
      }
    }))
    ft.udf("release_lock", udf((name: String) => {
      if (name == null) null
      else userLocks.get(name.toLowerCase) match {
        case Some((h, c)) if h == ConnId =>
          if (c <= 1) userLocks.remove(name.toLowerCase)
          else userLocks.put(name.toLowerCase, (h, c - 1))
          java.lang.Long.valueOf(1L)
        case Some(_) => java.lang.Long.valueOf(0L)
        case None => null // never held: NULL (MySQL contract)
      }
    }))
    ft.udf("is_free_lock", udf((name: String) =>
      if (name == null) null
      else java.lang.Long.valueOf(
        if (userLocks.contains(name.toLowerCase)) 0L else 1L)))
    ft.udf("is_used_lock", udf((name: String) =>
      if (name == null) null
      else userLocks.get(name.toLowerCase)
        .map(h => java.lang.Long.valueOf(h._1)).orNull))
    ft.udf("release_all_locks", udf(() => {
      // MySQL counts RELEASES, not names: a lock acquired 3× contributes 3
      val mine = userLocks.filter(_._2._1 == ConnId).toSeq
      mine.foreach { case (k, _) => userLocks.remove(k) }
      java.lang.Long.valueOf(mine.map(_._2._2.toLong).sum)
    }))
    // SYSDATE kernel: per-call clock read (MoAliases wires the name)
    ft.udf("mo_sysdate",
      udf(() => new java.sql.Timestamp(System.currentTimeMillis()))
        .asNondeterministic())
    // account introspection (account_info_func.result): the fixed sys
    // session identity — sys/0, dump/1, moadmin/0
    ft.udf("current_account_name", udf(() => "sys"))
    ft.udf("current_account_id", udf(() => 0))
    ft.udf("current_user_name", udf(() => "dump"))
    ft.udf("current_user_id", udf(() => 1))
    ft.udf("current_role_name", udf(() => "moadmin"))
    ft.udf("current_role_id", udf(() => 0))
    // MySQL COMPRESS: 4-byte little-endian uncompressed length + zlib
    // stream (reference pkg/sql/plan/function/func_builtin_compress.go)
    ft.udf("compress", udf((s: String) =>
      if (s == null) null
      else {
        val in = s.getBytes("UTF-8")
        val d = new java.util.zip.Deflater()
        d.setInput(in); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        out.write(in.length & 0xff); out.write((in.length >> 8) & 0xff)
        out.write((in.length >> 16) & 0xff); out.write((in.length >> 24) & 0xff)
        val buf = new Array[Byte](4096)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      }))
    ft.udf("uncompress", udf((b: Array[Byte]) =>
      if (b == null) null
      else if (b.length < 5) ""
      // declared length 0: an empty deflate stream (JDK's Inflater
      // reports needsInput on it instead of finishing — skip inflating)
      else if ((b(0) | b(1) | b(2) | b(3)) == 0) ""
      else try {
        val inf = new java.util.zip.Inflater()
        inf.setInput(b, 4, b.length - 4)
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput()) throw new RuntimeException("bad")
          out.write(buf, 0, n)
        }
        inf.end()
        new String(out.toByteArray, "UTF-8")
      } catch { case _: Exception => null }))
    // MySQL AES_ENCRYPT/AES_DECRYPT: aes-128-ecb with the cyclic-XOR
    // key fold (key bytes XOR into a 16-byte buffer)
    def mysqlAesKeyN(k: String, n: Int): javax.crypto.spec.SecretKeySpec = {
      val kb = k.getBytes("UTF-8")
      val key = new Array[Byte](n)
      var i = 0
      while (i < kb.length) { key(i % n) = (key(i % n) ^ kb(i)).toByte; i += 1 }
      new javax.crypto.spec.SecretKeySpec(key, "AES")
    }
    def mysqlAesKey(k: String): javax.crypto.spec.SecretKeySpec =
      mysqlAesKeyN(k, 16)
    ft.udf("aes_encrypt", udf((s: String, k: String) =>
      if (s == null || k == null) null
      else {
        val c = javax.crypto.Cipher.getInstance("AES/ECB/PKCS5Padding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE, mysqlAesKey(k))
        c.doFinal(s.getBytes("UTF-8"))
      }))
    ft.udf("aes_decrypt", udf((b: Array[Byte], k: String) =>
      if (b == null || k == null) null
      else try {
        val c = javax.crypto.Cipher.getInstance("AES/ECB/PKCS5Padding")
        c.init(javax.crypto.Cipher.DECRYPT_MODE, mysqlAesKey(k))
        new String(c.doFinal(b), "UTF-8")
      } catch { case _: Exception => null }))
    // the reference's 3-arg (IV) form is its aes-256-cbc mode: the key
    // XOR-folds into 32 bytes (func_binary.go generateAESKey), first 16
    // IV bytes seed CBC, PKCS7 padding
    ft.udf("mo_aes_encrypt_cbc", udf((v: String, k: String, iv: String) =>
      if (v == null || k == null || iv == null) null
      else {
        val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE, mysqlAesKeyN(k, 32),
          new javax.crypto.spec.IvParameterSpec(iv.getBytes("UTF-8").take(16)))
        c.doFinal(v.getBytes("UTF-8"))
      }))
    ft.udf("mo_aes_decrypt_cbc", udf((b: Array[Byte], k: String, iv: String) =>
      if (b == null || k == null || iv == null) null
      else try {
        val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
        c.init(javax.crypto.Cipher.DECRYPT_MODE, mysqlAesKeyN(k, 32),
          new javax.crypto.spec.IvParameterSpec(iv.getBytes("UTF-8").take(16)))
        new String(c.doFinal(b), "UTF-8")
      } catch { case _: Exception => null }))
    // MySQL TRIM(remstr FROM str): strips the exact substring
    // repeatedly from the chosen end(s)
    ft.udf("mo_trim_str", udf((mode: String, rem: String, str: String) =>
      if (rem == null || str == null) null
      else if (rem.isEmpty) str
      else {
        val m = Option(mode).map(_.toLowerCase).filter(_.nonEmpty).getOrElse("both")
        var out = str
        if (m == "both" || m == "leading")
          while (out.startsWith(rem)) out = out.substring(rem.length)
        if (m == "both" || m == "trailing")
          while (out.endsWith(rem)) out = out.substring(0, out.length - rem.length)
        out
      }))
    // MO packed-tuple display: NULL/garbage → NULL, '' → '()' (the real
    // decoder lives with the hidden-index layout we don't materialize)
    ft.udf("mo_tuple_expr", udf((s: String) =>
      if (s == null) null
      else if (s.isEmpty) "()"
      else null))
    ft.udf("is_ipv6", udf((s: String) => isIpv6Str(s)))
    // load_file(datalink): the reference reads the URI's target and
    // returns its contents (`pkg/sql/plan/function/func_mo.go` LoadFile;
    // fulltext/datalink.sql, array_vecnarrow_export.sql). file:// and
    // bare paths only — object-store URIs resolve through stages before
    // this layer. Driver/executor-local read of ONE file: fine for the
    // datalink contract (small documents), not a bulk-scan path.
    // save_file(datalink, text): write-side of the datalink pair —
    // returns the byte count written (func_load_file_datalink.sql)
    ft.udf("save_file", udf((u0: String, content: String) => {
      if (u0 == null || content == null) null
      else {
        val base = u0.split('?').head
        val resolved =
          if (base.toLowerCase.startsWith("stage://"))
            // the captured session does not survive into task threads —
            // resolve against the process-wide default session
            graft.sql.Stages.resolvePath(
              org.apache.spark.sql.SparkSession.getActiveSession
                .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).get,
              base)
          else base
        val p = java.nio.file.Paths.get(resolved.stripPrefix("file://"))
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        val b = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        java.nio.file.Files.write(p, b)
        java.lang.Long.valueOf(b.length.toLong)
      }
    }))
    ft.udf("load_file", udf((u0: String) => {
      if (u0 == null) null
      else {
        // BLOB semantics: raw bytes (LENGTH counts bytes, not decoded
        // chars); missing or EMPTY file → NULL (dtype/blob.result).
        // `?offset=N&size=M` byte-range params and stage:// locations
        // resolve here (func_load_file_datalink.sql).
        val qIdx = u0.indexOf('?')
        val (base, params) =
          if (qIdx < 0) (u0, Map.empty[String, String])
          else (u0.substring(0, qIdx),
            u0.substring(qIdx + 1).split('&').flatMap(_.split("=", 2) match {
              case Array(k, v) => Some(k -> v); case _ => None
            }).toMap)
        val resolved =
          if (base.toLowerCase.startsWith("stage://"))
            graft.sql.Stages.resolvePath(
              org.apache.spark.sql.SparkSession.getActiveSession
                .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).get,
              base)
          else base
        val p = java.nio.file.Paths.get(resolved.stripPrefix("file://"))
        if (!java.nio.file.Files.isRegularFile(p)) null
        else {
          val b0 = java.nio.file.Files.readAllBytes(p)
          val off = params.get("offset").map(_.toInt).getOrElse(0)
          val size = params.get("size").map(_.toInt).getOrElse(b0.length - off)
          val b =
            if (off == 0 && size >= b0.length) b0
            else b0.slice(off, math.min(b0.length, off + size))
          if (b.isEmpty) null else b
        }
      }
    }))
  }
}
