package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SQL-name aliases for reference builtins whose semantics graft (or
  * Spark) already implements under another name — the audit of
  * `pkg/sql/plan/function/function_id.go` against the session registry
  * surfaced these as "missing" only at the name level. Each resolves to
  * a codegen'd combinator tree (eager ColumnNode conversion, same
  * pattern as [[MoFunctions.functions]]); none are UDFs.
  *
  * Out of scope and NOT aliased here: mo_* admin/introspection, fault
  * injection, locks, sequences (currval/nextval), prefix_* index
  * helpers, h3/s2 cell indexes, the st_* long tail beyond
  * [[GeoFunctions]], and parser-level syntax (`interval`, `is`,
  * `values`, `convert`, `group_concat ... SEPARATOR`).
  */
object MoAliases {

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    import org.apache.spark.sql.GraftColumnBridge.{column => asCol, eagerExpression}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.unsafe.types.UTF8String

    def strLit(e: Column): String = eagerExpression(e) match {
      case Literal(s: UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"expected a string literal argument, got $other")
    }
    // a format built from literals (replace('yyyy…')-chains) folds to a
    // constant — the reference types those like plain literals
    def foldableStr(e: Column): Boolean = {
      val ex = eagerExpression(e)
      try ex.foldable catch { case _: Exception => false }
    }
    def intLit(e: Column): Int = eagerExpression(e) match {
      case Literal(v, _) if v != null => v.toString.toInt
      case other => throw new IllegalArgumentException(
        s"expected an integer literal argument, got $other")
    }

    // ---------------------------------------------------------- strings
    ft.column("to_lower", "to_lower(s)")(a => lower(a(0)))
    // MySQL UPPER maps characters 1:1 (ß stays ß — Java's String
    // .toUpperCase would expand it to SS, charset_collation_errors
    // UPPER('straße') = 'STRAßE')
    val moUpper = udf((s: String) =>
      if (s == null) null
      else s.map(c => if (c == 'ß') c else Character.toUpperCase(c)))
    ft.column("upper", "upper(s) - 1:1 character mapping (MySQL)")(a =>
      moUpper(a(0).cast("string")))
    ft.column("ucase", "ucase(s) - 1:1 character mapping (MySQL)")(a =>
      moUpper(a(0).cast("string")))
    ft.column("to_upper", "to_upper(s)")(a => upper(a(0)))
    ft.column("lengthutf8", "lengthutf8(s) - length in characters")(a => char_length(a(0)))
    // MySQL SUBSTRING/MID: position 0 yields '' (Spark treats 0 as 1).
    // Catalyst Substring directly — functions.substring resolves by NAME
    // through this registry and would recurse into this same override.
    def moSubstr(a: Seq[Column]): Column = {
      val pos = a(1).cast("int")
      val len = if (a.length > 2) a(2).cast("int") else lit(Int.MaxValue)
      when(pos === 0, lit(""))
        // MySQL: |negative pos| beyond the length yields ''
        .when(pos < 0 && -pos > char_length(a(0).cast("string")), lit(""))
        .otherwise(
          asCol(org.apache.spark.sql.catalyst.expressions.Substring(
            eagerExpression(a(0).cast("string")), eagerExpression(pos),
            eagerExpression(len))))
    }
    ft.column("mid", "mid(s, pos[, len]) - MySQL alias of substring")(moSubstr)
    ft.column("substring", "substring(s, pos[, len]) - pos 0 yields '' (MySQL)")(moSubstr)
    ft.column("substr", "substr(s, pos[, len]) - pos 0 yields '' (MySQL)")(moSubstr)
    ft.column("oct", "oct(n) - octal rendering")(a => conv(a(0).cast("string"), 10, 8))
    // ORD: the leading CHARACTER's UTF-8 bytes combined LITTLE-endian —
    // the reference's byte order (charset_collation_errors.result:
    // ORD('中') = 0xadb8e4, the reverse of UTF-8 e4 b8 ad; MySQL proper
    // is big-endian). Single-byte input degenerates to ASCII().
    ft.column("ord", "ord(s) - leading character's bytes as a little-endian int")(a =>
      udf((s: String) =>
        if (s == null) null
        else if (s.isEmpty) java.lang.Long.valueOf(0L)
        else {
          val cp = s.codePointAt(0)
          val b = new String(Character.toChars(cp)).getBytes("UTF-8")
          java.lang.Long.valueOf(
            b.reverse.foldLeft(0L)((acc, x) => acc * 256 + (x & 0xff)))
        }).apply(a(0).cast("string")))
    ft.column("strcmp", "strcmp(a, b) - -1/0/1")(a =>
      when(a(0).isNull || a(1).isNull, lit(null))
        .when(a(0) < a(1), -1).when(a(0) === a(1), 0).otherwise(1))
    // strict decode: invalid base64 is NULL in MySQL (Spark's unbase64
    // errors under ANSI); bytes return so LENGTH/HEX see octets
    ft.column("from_base64", "from_base64(s) - NULL on invalid input")(a =>
      MoFunctions.fromBase64(a(0)))
    ft.column("to_base64", "to_base64(s)")(a => base64(a(0).cast("binary")))
    ft.column("findinset", "findinset(s, set)")(a => find_in_set(a(0), a(1)))
    ft.column("format", "format(x, d[, locale]) - grouped rendering")(a =>
      MoFunctions.moFormat(a(0), if (a.length > 1) a(1) else lit(0),
        if (a.length > 2) a(2) else lit(null)))
    ft.column("empty", "empty(s) - 1 when zero-length")(a => (char_length(a(0)) === 0).cast("int"))
    ft.column("field", "field(e, v1, v2, ...) - 1-based index of e")(a =>
      MoFunctions.field(a.head, a.tail))
    ft.column("make_set", "make_set(bits, s1, s2, ...)")(a =>
      MoFunctions.makeSet(a.head, a.tail))
    // a NULL sep/count falls back to the default (func_string_export_
    // set.result), unlike NULL on/off which null out
    ft.column("export_set", "export_set(bits, on, off[, sep[, n]])")(a =>
      MoFunctions.exportSet(a(0), a(1), a(2),
        if (a.length > 3) coalesce(a(3).cast("string"), lit(",")) else lit(","),
        if (a.length > 4) coalesce(a(4).cast("int"), lit(64)) else lit(64)))
    ft.column("reg_match", "reg_match(s, pattern)")(a => regexp_like(a(0), a(1)))
    ft.column("regexp_instr", "regexp_instr(s, p[, pos[, occurrence[, return_opt]]])")(a =>
      MoFunctions.regexpInstr(a(0), a(1),
        if (a.length > 2) a(2) else lit(1),
        if (a.length > 3) a(3) else lit(1),
        if (a.length > 4) a(4) else lit(0)))
    // MO NULLs an empty pattern (func_regular_substr.result) where
    // Spark's kernel matches everywhere
    ft.column("regexp_substr", "regexp_substr(s, p[, pos[, occurrence]])")(a =>
      when(length(a(1)) === 0, lit(null).cast("string"))
        .otherwise(MoFunctions.regexpSubstr(a(0), a(1),
          if (a.length > 2) a(2) else lit(1),
          if (a.length > 3) a(3) else lit(1))))
    ft.column("not_reg_match", "not_reg_match(s, pattern)")(a => !regexp_like(a(0), a(1)))

    // capped string builders: the reference bounds results at
    // MaxVarcharLen = 65535 bytes — repeat/lpad/rpad go NULL past it and
    // space(n > 8000) errors (`func_builtin.go` builtInRepeat/doLpad/
    // doRpad, `func_unary.go` FillSpaceNumber). Spark's builtins would
    // happily materialize a `repeat('abc', 1e11)` and OOM the executor,
    // so the cap is also what makes these safe at scale.
    import org.apache.spark.sql.catalyst.expressions.{StringLPad, StringRPad, StringRepeat, StringSpace, StringSplitSQL, Substring}
    val nullStr = lit(null).cast("string")
    // MySQL converts a fractional count/length by ROUNDING (1.8 → 2);
    // Spark's implicit cast truncates
    def roundedLong(c: Column): Column = round(c.cast("double")).cast("long")
    ft.column("repeat", "repeat(s, n) - NULL when the result exceeds 65535 bytes") { a =>
      val n = roundedLong(a(1))
      when(a(0).isNull || n.isNull, nullStr)
        .when(n <= 0L, lit(""))
        .when(octet_length(a(0).cast("string")).cast("long") * n > 65535L, nullStr)
        .otherwise(asCol(StringRepeat(eagerExpression(a(0)),
          eagerExpression(n.cast("int")))))
    }
    ft.column("space", "space(n) - errors above 8000, '' below 0") { a =>
      val v = a(0).cast("double")
      when(a(0).isNull, nullStr)
        .when(v < 0d, lit(""))
        .when(v > 8000d, raise_error(lit(
          "invalid input: the space count is greater than max allowed value 8000"))
          .cast("string"))
        .otherwise(asCol(StringSpace(eagerExpression(a(0).cast("int")))))
    }
    def cappedPad(build: (Expression, Expression, Expression) => Expression)(
        a: Seq[Column]): Column = {
      val pad = if (a.length > 2) a(2) else lit(" ")
      val t = a(1).cast("long")
      when(a(0).isNull || t.isNull || pad.isNull, nullStr)
        .when(t < 0L || t > 65535L, nullStr)
        // MySQL/reference: empty pad + needed growth → '' (Spark keeps s)
        // (char_length, not length: the length SQL name is overridden to
        // BYTE semantics below, and pad math is in characters)
        .when(char_length(pad.cast("string")) === 0 &&
          t > char_length(a(0).cast("string")).cast("long"), lit(""))
        .otherwise(asCol(build(eagerExpression(a(0)),
          eagerExpression(t.cast("int")), eagerExpression(pad))))
    }
    ft.column("lpad", "lpad(s, len, pad) - NULL when len is out of [0, 65535]")(
      cappedPad(StringLPad(_, _, _)))
    ft.column("rpad", "rpad(s, len, pad) - NULL when len is out of [0, 65535]")(
      cappedPad(StringRPad(_, _, _)))
    // MySQL byte/rounding semantics Spark's builtins differ on
    // (`func_string_char_length.result`, `func_ascii.result`,
    // `func_string_left.result` goldens)
    ft.column("ascii", "ascii(s) - value of the leading BYTE (MySQL)") { a =>
      val s = a(0).cast("string")
      when(a(0).isNull, lit(null).cast("int"))
        .when(char_length(s) === 0, lit(0))
        .otherwise(conv(substring(hex(s.cast("binary")), 1, 2), 16, 10).cast("int"))
    }
    ft.column("length", "length(s) - length in BYTES (MySQL); char_length counts chars")(
      a => octet_length(a(0)))
    ft.column("left", "left(s, n) - first round(n) chars") { a =>
      when(a(0).isNull || a(1).isNull, nullStr)
        .otherwise(asCol(Substring(eagerExpression(a(0).cast("string")),
          eagerExpression(lit(1)),
          eagerExpression(greatest(roundedLong(a(1)).cast("int"), lit(0))))))
    }
    ft.column("right", "right(s, n) - last round(n) chars") { a =>
      val n = roundedLong(a(1)).cast("int")
      when(a(0).isNull || a(1).isNull, nullStr)
        .when(n <= 0, lit(""))
        .otherwise(asCol(Substring(eagerExpression(a(0).cast("string")),
          eagerExpression(-n), eagerExpression(n))))
    }
    def locate_fixed(sub: Column, s: Column): Column =
      asCol(org.apache.spark.sql.catalyst.expressions.StringLocate(
        eagerExpression(sub), eagerExpression(s), eagerExpression(lit(1))))
    ft.column("elt", "elt(n, s1, s2, ...) - NULL out of range (MySQL; n rounds)") { a =>
      val n = roundedLong(a(0)).cast("int")
      val items = a.tail.map(_.cast("string"))
      items.zipWithIndex.foldLeft(when(lit(false), nullStr)) {
        case (acc, (it, k)) => acc.when(n === (k + 1), it)
      }.otherwise(nullStr)
    }
    // MySQL LOCATE/INSTR/POSITION are case-INSENSITIVE on non-binary
    // strings (reference goldens `func_locate.result`); lower() is
    // length-preserving for the cased scripts so positions carry over
    ft.column("locate", "locate(sub, s[, pos]) - case-insensitive (MySQL)") { a =>
      val sub = lower(a(0).cast("string"))
      val s = lower(a(1).cast("string"))
      if (a.length > 2) {
        val pos = a(2).cast("int")
        // a NULL start is NULL in MySQL; Spark's StringLocate defines it
        // as 0. An empty needle matches AT the start position.
        when(a(0).isNull || a(1).isNull || a(2).isNull, lit(null).cast("int"))
          .when(char_length(sub) === 0,
            when(pos <= char_length(s) + 1 && pos >= 1, pos).otherwise(0))
          .otherwise(asCol(org.apache.spark.sql.catalyst.expressions.StringLocate(
            eagerExpression(sub), eagerExpression(s),
            eagerExpression(pos))))
      } else locate_fixed(sub, s)
    }
    ft.column("instr", "instr(s, sub) - case-insensitive (MySQL)")(a =>
      locate_fixed(lower(a(1).cast("string")), lower(a(0).cast("string"))))
    ft.column("split_part", "split_part(s, sep, n) - NULL past the part count") { a =>
      val parts = asCol(StringSplitSQL(eagerExpression(a(0).cast("string")),
        eagerExpression(a(1).cast("string"))))
      val n = a(2).cast("int")
      // reference SplitSingle (`func_binary.go`): NULL args → NULL,
      // n = 0 errors, n beyond the part count → NULL
      when(a(0).isNull || a(1).isNull || a(2).isNull, nullStr)
        .when(n <= 0, raise_error(lit(
          "invalid input: split_part: field contains non-positive integer")).cast("string"))
        .when(size(parts) < n, nullStr)
        .otherwise(element_at(parts, n))
    }
    // NULL-domain math edges: MySQL yields NULL where Java yields
    // NaN/Infinity. NB the overriding builders must construct the Catalyst
    // expressions directly — functions.sqrt/asin/... resolve BY NAME
    // through this same registry and would recurse forever.
    import org.apache.spark.sql.catalyst.expressions.{Acos, Asin, Logarithm, Sqrt}
    val nullDbl = lit(null).cast("double")
    def domainNull(build: Expression => Expression)(a: Seq[Column]): Column = {
      val r = asCol(build(eagerExpression(a(0).cast("double"))))
      nanvl(r, nullDbl)
    }
    ft.column("sqrt", "sqrt(x) - NULL for x < 0")(domainNull(Sqrt(_)))
    ft.column("asin", "asin(x) - NULL for |x| > 1")(domainNull(Asin(_)))
    ft.column("acos", "acos(x) - NULL for |x| > 1")(domainNull(Acos(_)))
    ft.column("atan", "atan(x) / atan(y, x) - the 2-arg form is atan2 (MySQL)") { a =>
      import org.apache.spark.sql.catalyst.expressions.{Atan, Atan2}
      if (a.length == 2)
        asCol(Atan2(eagerExpression(a(0).cast("double")),
          eagerExpression(a(1).cast("double"))))
      else asCol(Atan(eagerExpression(a(0).cast("double"))))
    }
    // StrictMath.tan: the HotSpot Math.tan intrinsic loses accuracy in
    // argument reduction for |x| ~ 1e16 (cot(cot(pi)) nests there —
    // builtin.result's t1_cot_nested_safe), fdlibm reduces exactly
    val strictTan = udf((d: Double) => StrictMath.tan(d))
    ft.column("cot", "cot(x) = tan(pi/2 - x); cot(0) errors (reference momath.Cot)") { a =>
      val v = a(0).cast("double")
      when(v === 0d, raise_error(lit(
        "invalid argument cot, bad value 0")).cast("double"))
        .otherwise(strictTan(lit(math.Pi / 2) - v))
    }
    // MySQL ROUND on DOUBLE is half-even (Go math.RoundToEven via the
    // reference's float path); on exact types it stays half-away. The
    // scale argument itself rounds to an int (ROUND(x, cos(0.8)) ≡ 1).
    ft.column("round", "round(x[, d]) - half-even on doubles (MySQL)") { a =>
      import org.apache.spark.sql.catalyst.expressions.{BRound, Round}
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      val x = eagerExpression(a(0))
      val scale: Expression = if (a.length > 1) {
        val sE = eagerExpression(a(1).cast("double"))
        if (sE.foldable) {
          val v = sE.eval()
          // MySQL clamps out-of-range scales instead of wrapping the
          // int32 (round(x, 4294967296) keeps x; round(x, -4e9) → 0)
          Literal(if (v == null) 0
            else math.max(-30L, math.min(30L,
              math.round(v.asInstanceOf[Double]))).toInt)
        } else eagerExpression(a(1).cast("int"))
      } else Literal(0)
      val isFloating =
        try x.dataType == DoubleType || x.dataType == FloatType
        catch { case _: Exception => false } // unresolved child: exact-type path
      asCol(if (isFloating) BRound(x, scale) else Round(x, scale))
    }
    ft.column("log", "log([base,] x) - NULL outside the domain (incl. base 1)") { a =>
      if (a.length == 1)
        asCol(org.apache.spark.sql.catalyst.expressions.Log(
          eagerExpression(a(0).cast("double"))))
      else {
        val r = asCol(Logarithm(eagerExpression(a(0).cast("double")),
          eagerExpression(a(1).cast("double"))))
        when(r === Double.PositiveInfinity || r === Double.NegativeInfinity, nullDbl)
          .otherwise(nanvl(r, nullDbl))
      }
    }

    // --------------------------------------------------------- datetime
    ft.column("curtime", "curtime()")(_ => date_format(current_timestamp(), "HH:mm:ss"))
    // same rendering as curtime so CURTIME() = CURRENT_TIME() holds
    ft.column("current_time", "current_time()")(_ =>
      date_format(current_timestamp(), "HH:mm:ss"))
    ft.column("utc_time", "utc_time()")(_ => date_format(current_timestamp(), "HH:mm:ss"))
    // uuid codecs: kernel UDFs in MoFunctions; the optional swap flag
    // arrives as text so MO's numeric-text boolean coercion can error on
    // non-numeric spellings (func_string_uuid2)
    // a BOOL-typed flag (literal true/false) coerces numerically first —
    // the reference's makeBoolParamGetter accepts T_bool and numerics
    // directly; only genuinely textual flags take the string-error path
    def swapFlag(c: Column): Column =
      when(c.cast("boolean").isNotNull && upper(c.cast("string"))
          .isin("TRUE", "FALSE"),
        c.cast("boolean").cast("int").cast("string"))
        .otherwise(c.cast("string"))
    ft.column("uuid_to_bin", "uuid_to_bin(s[, swap])")(a =>
      call_udf("mo_uuid_to_bin", a(0),
        if (a.length > 1) swapFlag(a(1)) else lit("0")))
    ft.column("bin_to_uuid", "bin_to_uuid(b[, swap])")(a =>
      call_udf("mo_bin_to_uuid", a(0),
        if (a.length > 1) swapFlag(a(1)) else lit("0")))
    // MySQL SYSDATE() reads the clock PER CALL (now() is statement-
    // constant): two sysdate() around a sleep(2) must differ by 2s
    // (func_datetime_now.result) — a nondeterministic UDF keeps the
    // calls from collapsing into one common subexpression
    ft.column("sysdate", "sysdate()")(_ => call_udf("mo_sysdate"))
    ft.column("localtime", "localtime()")(_ => current_timestamp())
    // session timezone is UTC (GraftSession) so now() IS the UTC reading
    ft.column("utc_timestamp", "utc_timestamp()")(_ => current_timestamp())
    ft.column("utc_date", "utc_date()")(_ => current_date())
    ft.column("week", "week(d[, mode]) - MySQL calc_week, default mode 0")(a =>
      MoFunctions.mysqlWeek(a(0), if (a.length > 1) a(1) else lit(0)))
    ft.column("microsecond", "microsecond(ts)")(a =>
      (unix_micros(a(0).cast("timestamp")) % 1000000L).cast("int"))
    // MySQL TO_SECONDS: seconds since year 0 (TO_SECONDS('1970-01-01') =
    // 62167219200 = 719528 days * 86400)
    ft.column("to_seconds", "to_seconds(ts)")(a =>
      to_unix_timestamp(a(0).cast("timestamp")) + 62167219200L)
    // MySQL 2-digit year expansion (0-69 → 2000s, 70-99 → 1900s); a
    // result past year 9999 (date_add wraps) or year > 9999 is NULL
    // (func_make_date.result)
    ft.column("makedate", "makedate(year, dayofyear)") { a =>
      val y0 = a(0).cast("long")
      val y = when(y0 < 70, y0 + 2000).when(y0 < 100, y0 + 1900).otherwise(y0)
      val start = make_date(y.cast("int"), lit(1), lit(1))
      val d = date_add(start, (a(1) - 1).cast("int"))
      when(a(1) <= 0 || y0 < 0 || y0 > 9999 || d < start ||
        d > lit("9999-12-31").cast("date"), lit(null)).otherwise(d)
    }
    ft.column("from_days", "from_days(n)")(a => MoFunctions.fromDays(a(0)))
    // odd modes are Monday-first ISO weeks (yearweek('1987-01-01',1) =
    // 198701, func_datetime_yearweek.result); even modes Sunday-first
    ft.column("yearweek", "yearweek(d[, mode])")(a =>
      if (a.length > 1)
        when(pmod(a(1).cast("int"), lit(2)) === 1, MoFunctions.yearweekIso(a(0)))
          .otherwise(MoFunctions.yearweek(a(0)))
      else MoFunctions.yearweek(a(0)))
    // MySQL full day/month names (Spark's builtins abbreviate); strict
    // on datetime text like the other date-part functions
    ft.column("dayname", "dayname(d) - full weekday name")(a =>
      date_format(strictTemporal(a(0)), "EEEE"))
    ft.column("monthname", "monthname(d) - full month name")(a =>
      date_format(strictTemporal(a(0)), "MMMM"))
    // strict datetime validation: '…24:01:01' / '…23:01:61' / partial
    // dates are NULL in MySQL (func_last_day.result); computed inside
    // the UDF — a `last_day(...)` Column here would resolve back to
    // THIS registration and loop the analyzer
    ft.column("last_day", "last_day(d) - NULL on invalid datetime text")(a =>
      MoFunctions.lastDayStrict(a(0)))
    // the date-part builtins are lenient on text in Spark ('2015-09',
    // '10000-12-21' parse); MySQL NULLs them — route STRING operands
    // through the strict parser, pass typed ones to the native kernel
    // (func_datetime_month/dayofyear/weekday.result). Names are
    // computed via date_format/dayofweek, never the overridden name.
    def strictTemporal(c: Column): Column = {
      val dt = try Some(eagerExpression(c).dataType)
        catch { case _: Exception => None }
      dt match {
        case Some(_: org.apache.spark.sql.types.StringType) | None =>
          MoFunctions.strictTimestamp(c)
        case _ => c
      }
    }
    ft.column("month", "month(d) - strict on datetime text")(a =>
      date_format(strictTemporal(a(0)), "M").cast("int"))
    ft.column("dayofyear", "dayofyear(d) - strict on datetime text")(a =>
      date_format(strictTemporal(a(0)), "D").cast("int"))
    ft.column("weekday", "weekday(d) - Monday=0, strict on datetime text")(a =>
      ((dayofweek(strictTemporal(a(0))) + lit(5)) % 7).cast("int"))
    ft.column("dayofmonth", "dayofmonth(d) - strict on datetime text")(a =>
      date_format(strictTemporal(a(0)), "d").cast("int"))
    ft.column("day", "day(d) - strict on datetime text")(a =>
      date_format(strictTemporal(a(0)), "d").cast("int"))
    ft.column("quarter", "quarter(d) - strict on datetime text")(a =>
      (floor((date_format(strictTemporal(a(0)), "M").cast("int") - 1) / 3) + 1)
        .cast("int"))
    ft.column("weekofyear", "weekofyear(d) - ISO week, strict on datetime text")(a =>
      extract(lit("week"), strictTemporal(a(0))).cast("int"))
    // MO's SOUNDEX maps '' to '0000' (func_string_soundex.result);
    // built through the Catalyst expression, never the overridden name
    ft.column("soundex", "soundex(s) - '' maps to 0000") { a =>
      val s = a(0).cast("string")
      when(length(s) === 0, lit("0000")).otherwise(asCol(
        org.apache.spark.sql.catalyst.expressions.SoundEx(eagerExpression(s))))
    }
    // MySQL regexp_like match_type argument ('i','c','m','n' flags; the
    // last i/c wins) — a sibling UDF the 3-arg calls rename to
    // (GraftSql arity dispatch), so Spark's 2-arg builtin stays native
    ft.udf("mo_regexp_like3", udf((s: String, p: String, f: String) => {
      if (s == null || p == null || f == null) null
      else {
        var ci = false; var dotall = false; var multi = false
        f.foreach {
          case 'i' => ci = true
          case 'c' => ci = false
          case 'n' => dotall = true
          case 'm' => multi = true
          case _ =>
        }
        val flags = (if (ci) "i" else "") + (if (dotall) "s" else "") +
          (if (multi) "m" else "")
        val pat = if (flags.isEmpty) p else s"(?$flags)$p"
        java.lang.Boolean.valueOf(
          java.util.regex.Pattern.compile(pat).matcher(s).find())
      }: java.lang.Boolean
    }))
    // MySQL QUOTE: single-quoted literal, ' doubled, \ doubled, NULL in
    // NULL out (func_string_quote.result)
    ft.column("quote", "quote(s) - SQL-quoted string literal")(a =>
      concat(lit("'"),
        regexp_replace(regexp_replace(a(0).cast("string"),
          lit("\\\\"), lit("\\\\\\\\")), lit("'"), lit("''")), lit("'")))
    // MySQL CHAR(n, ...): values wrap to 32-bit unsigned (CHAR(-1) is
    // FF FF FF FF), fractions ROUND, minimal big-endian bytes, NULL
    // args skipped (func_string_char.result; BINARY so HEX() sees raw
    // bytes)
    ft.udf("mo_char_bytes", udf((xs: Seq[java.math.BigDecimal]) => {
      val out = new java.io.ByteArrayOutputStream()
      xs.foreach { v =>
        if (v != null) {
          val x = v.setScale(0, java.math.RoundingMode.HALF_UP)
            .longValue & 0xFFFFFFFFL
          if (x == 0) out.write(0)
          else BigInt(x).toByteArray.dropWhile(_ == 0).foreach(b => out.write(b.toInt))
        }
      }
      out.toByteArray
    }))
    ft.column("char", "char(n, ...) - bytes of each code value, NULLs skipped")(a =>
      call_udf("mo_char_bytes", array(a.map(_.cast("decimal(30,6)")): _*)))
    // MySQL ENCODE/DECODE as the reference computes them: AES-256-CTR
    // with key = SHA256(password) and IV = SHA256(password ++
    // byte(len))[:16] (pkg/sql/plan/function/func_unary.go:6201-6228
    // generateSHAKey/generateInitializationVector/encodeByAES).
    def cryptAesCtr(data: Array[Byte], key: String): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val kb = key.getBytes("UTF-8")
      val aesKey = new javax.crypto.spec.SecretKeySpec(md.digest(kb), "AES")
      val iv = java.security.MessageDigest.getInstance("SHA-256")
        .digest(kb :+ data.length.toByte).take(16)
      val c = javax.crypto.Cipher.getInstance("AES/CTR/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE, aesKey,
        new javax.crypto.spec.IvParameterSpec(iv))
      c.doFinal(data) // CTR: encrypt == decrypt
    }
    ft.udf("mo_encode", udf((s: String, k: String) =>
      if (s == null || k == null) null
      else cryptAesCtr(s.getBytes("UTF-8"), k)))
    ft.udf("mo_decode", udf((b: Array[Byte], k: String) =>
      if (b == null || k == null) null
      else new String(cryptAesCtr(b, k), "UTF-8")))
    ft.column("encode", "encode(str, key) - obfuscated bytes")(a =>
      call_udf("mo_encode", a(0).cast("string"), a(1).cast("string")))
    ft.column("decode", "decode(bytes, key) - inverse of encode")(a =>
      call_udf("mo_decode", a(0).cast("binary"), a(1).cast("string")))
    // NAME_CONST(name, value) → value labeled with the name, so
    // `(select name_const('x', 1)) t` exposes column t.x
    ft.column("name_const", "name_const(name, value)") { a =>
      val nm = try strLit(a(0)) catch { case _: Exception => null }
      if (nm == null) a(1) else a(1).as(nm)
    }
    ft.column("addtime", "addtime(t, delta)")(a => MoFunctions.addTime(a(0), a(1)))
    ft.column("subtime", "subtime(t, delta)")(a => MoFunctions.subTime(a(0), a(1)))
    ft.column("timediff", "timediff(t1, t2)")(a => MoFunctions.timeDiff(a(0), a(1)))
    ft.column("str_to_date", "str_to_date(s, mysql_fmt)")(a =>
      if (foldableStr(a(1))) MoFunctions.moStrToDate(a(0), a(1))
      else MoFunctions.moStrToDateDyn(a(0), a(1)))
    // TO_DATE(str, fmt) ≡ STR_TO_DATE in the current reference (the
    // datetime_todate goldens keeping impossible dates are the older
    // behavior; strict wins the conflict — see moToDate for the lenient
    // variant if that flips back)
    ft.column("mo_to_date", "mo_to_date(s, mysql_fmt)")(a =>
      if (foldableStr(a(1))) MoFunctions.moStrToDate(a(0), a(1))
      else MoFunctions.moStrToDateDyn(a(0), a(1)))

    // ------------------------------------------------------- predicates
    ft.column("is_null", "is_null(x)")(a => a(0).isNull)
    ft.column("is_not_null", "is_not_null(x)")(a => a(0).isNotNull)
    ft.column("iff", "iff(cond, then, else)")(a =>
      when(a(0).cast("boolean"), a(1)).otherwise(a(2)))
    ft.column("istrue", "istrue(x) - NULL counts as false")(a => a(0) <=> true)
    ft.column("isfalse", "isfalse(x)")(a => a(0) <=> false)
    ft.column("isnottrue", "isnottrue(x)")(a => !(a(0) <=> true))
    ft.column("isnotfalse", "isnotfalse(x)")(a => !(a(0) <=> false))
    ft.column("isunknown", "isunknown(x)")(a => a(0).isNull)
    ft.column("isnotunknown", "isnotunknown(x)")(a => a(0).isNotNull)

    // ---------------------------------------------------------- vectors
    ft.column("l1_norm", "l1_norm(v)")(a => VectorFunctions.l1Norm(a(0)))
    ft.column("l2_norm", "l2_norm(v)")(a => VectorFunctions.l2Norm(a(0)))
    ft.column("l2_distance_sq", "l2_distance_sq(a, b)")(a =>
      VectorFunctions.l2DistanceSq(a(0), a(1)))
    ft.column("cosine_distance", "cosine_distance(a, b)")(a =>
      VectorFunctions.cosineDistance(a(0), a(1)))
    ft.column("normalize_l2", "normalize_l2(v)")(a => VectorFunctions.normalizeL2(a(0)))
    ft.column("subvector", "subvector(v, start[, len])")(a =>
      VectorFunctions.subvectorCol(a(0), a(1),
        if (a.length > 2) Some(a(2)) else None))
    ft.column("summation", "summation(v)")(a => VectorFunctions.summation(a(0)))
    ft.column("vector_dims", "vector_dims(v)")(a => VectorFunctions.vectorDims(a(0)))

    // ------------------------------------------------------- misc codecs
    // octets reject leading zeros ('192.168.01.1' is NOT ipv4 —
    // func_misc_is_ipv4.result)
    ft.column("is_ipv4", "is_ipv4(s)")(a => MoFunctions.isIpv4(a(0)))
    ft.column("is_uuid", "is_uuid(s)")(a => MoFunctions.isUuid(a(0)))
    // uuid_to_bin / bin_to_uuid registered above with the optional swap
    // flag (the kernel UDFs accept every MySQL uuid spelling)
    ft.column("serial", "serial(c1, c2, ...) - NULL-propagating composite key")(a =>
      MoFunctions.serial(a))
    ft.column("serial_full", "serial_full(c1, c2, ...) - NULL-preserving composite key")(a =>
      MoFunctions.serialFull(a))
    ft.column("serial_extract", "serial_extract(s, idx)")(a =>
      MoFunctions.serialExtract(a(0), intLit(a(1))))
    // MySQL group_concat(e1, e2, ...) concatenates the expressions per
    // row and joins rows with ',' — a separator is only ever the
    // SEPARATOR keyword, never a positional argument (the ORDER
    // BY/SEPARATOR/DISTINCT forms rewrite in MySqlCompat.groupConcat).
    // Without an ORDER BY the reference emits scan order; a sorted join
    // is the deterministic stand-in an oracle can reproduce
    // (function_group_concat.result goldens list values ascending).
    ft.column("group_concat", "group_concat(e1, e2, ...) - sorted join of the row-wise concat")({ a =>
      val v =
        if (a.length == 1) a(0).cast("string")
        else concat(a.map(_.cast("string")): _*)
      // an all-NULL (or empty) group is NULL, not '' (function_group_concat)
      when(count(v) === 0, lit(null).cast("string"))
        .otherwise(array_join(array_sort(collect_list(v)), ","))
    })
    // MySQL CONV with full sign/base semantics (negative bases are
    // signed views of the unsigned-64 domain; overflow clamps) — Spark's
    // conv keeps -1 as -1 and misses the +/- from-base rules
    ft.column("conv", "conv(s, from_base, to_base) - MySQL two's-complement semantics")(a =>
      MoFunctions.moConv(a(0), a(1), a(2)))
  }
}
