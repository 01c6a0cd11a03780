package graft.sql

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** MO view-column type inference.
  *
  * The reference types a view's columns with MySQL's union-type
  * algebra at CREATE VIEW time and serves them through DESC and
  * information_schema.columns (`pkg/sql/plan/function/` type checkers;
  * goldens `test/distributed/cases/expression/case_when.result:366-653`
  * pin the full rule surface: VARCHAR widths from branch display
  * widths, unsigned∪signed → DECIMAL(21,0), temporal promotion with
  * forced nullability, binary literal unions → VARBINARY(8),
  * TEXT/BLOB/FLOAT/DOUBLE branches → VARCHAR(65535), TIME unions →
  * VARCHAR(24)).
  *
  * Spark's own Catalyst types can't render these MySQL-isms, so the
  * engine re-infers them from the view DEFINITION TEXT — a best-effort
  * mini-inferencer over the conditional/branch functions the corpus
  * uses (if/ifnull/nullif/coalesce/greatest/least/case, cast, `*`).
  * A select item it can't type simply doesn't register; DESC and
  * information_schema then fall back to not listing the view's columns
  * (the pre-existing behavior).
  */
object MoTypeInfer {

  /** kind ∈ null intlit int uint decimal varchar char binlit binary
    * varbinary date datetime timestamp time text blob float double bool
    * — `a` is width/precision/int-digits, `b` is scale/fsp.
    */
  final case class MoT(kind: String, a: Int = 0, b: Int = 0,
      nullable: Boolean = true)

  // physViewLower → (db, columns with inferred types)
  private val viewCols = new graft.SessionScoped(() =>
    TrieMap[String, (String, Vector[(String, MoT)])]())

  def colsOf(spark: SparkSession, view: String): Vector[(String, MoT)] =
    viewCols(spark).get(view.toLowerCase).map(_._2).getOrElse(Vector.empty)

  /** Every registered view of this session: (db, view, columns). */
  def allViews(spark: SparkSession)
      : Seq[(String, String, Vector[(String, MoT)])] =
    viewCols(spark).toSeq.map { case (v, (db, cols)) => (db, v, cols) }

  def forget(spark: SparkSession, view: String): Unit =
    viewCols(spark).remove(view.toLowerCase)

  // ------------------------------------------------------------------
  // rendering
  // ------------------------------------------------------------------

  /** MO column_type rendering for an INFERRED type (integer/temporal
    * results carry width 0 — `BIGINT(0)`, `DATE(0)` — unlike declared
    * table columns).
    */
  def render(t: MoT): String = t.kind match {
    case "varchar" => s"VARCHAR(${t.a})"
    case "char" => s"CHAR(${t.a})"
    case "binary" => s"BINARY(${t.a})"
    case "varbinary" | "binlit" => s"VARBINARY(${t.a})"
    case "decimal" => s"DECIMAL(${t.a},${t.b})"
    case "int" | "intlit" => "BIGINT(0)"
    case "uint" => "BIGINT UNSIGNED(0)"
    case "date" => "DATE(0)"
    case "datetime" => "DATETIME(0)"
    case "timestamp" => "TIMESTAMP(0)"
    case "time" => "TIME(0)"
    case "float" => "FLOAT(0)"
    case "double" => "DOUBLE(0)"
    case "text" => "TEXT(0)"
    case "blob" => "BLOB(0)"
    case "bool" => "BOOL(0)"
    case _ => t.kind.toUpperCase
  }

  /** information_schema.columns data_type for an inferred type. */
  def dataType(t: MoT): String = t.kind match {
    case "intlit" | "int" => "bigint"
    case "uint" => "bigint unsigned"
    case "binlit" => "varbinary"
    case k => k
  }

  /** character_maximum_length (strings and binaries carry it). */
  def charMaxLen(t: MoT): Option[Long] = t.kind match {
    case "varchar" | "char" | "binary" | "varbinary" | "binlit" =>
      Some(t.a.toLong)
    case _ => None
  }

  /** (numeric_precision, numeric_scale) — only DECIMAL results. */
  def numMeta(t: MoT): (Option[Long], Option[Long]) = t.kind match {
    case "decimal" => (Some(t.a.toLong), Some(t.b.toLong))
    case _ => (None, None)
  }

  // ------------------------------------------------------------------
  // type algebra
  // ------------------------------------------------------------------

  /** display width when the value lands in a string union */
  private def strWidth(t: MoT): Int = t.kind match {
    case "intlit" => t.a + 1 // digits + sign position
    case "int" | "uint" => 12
    case "decimal" => t.a + 2
    case "varchar" | "char" | "binary" | "varbinary" | "binlit" => t.a
    case "date" => 10
    case "datetime" => 19
    case "timestamp" => 19 + (if (t.b > 0) t.b + 1 else 0)
    case "time" => 24 // MO's TIME display slot
    case "bool" => 1
    case _ => 65535
  }

  private def intDigits(t: MoT): Int = t.kind match {
    case "intlit" => t.a
    case "int" | "uint" => t.a
    case "decimal" => t.a - t.b
    case "bool" => 1
    case _ => 0
  }

  private val temporalKinds = Set("date", "datetime", "timestamp", "time")
  private val strKinds = Set("varchar", "char")
  private val intKinds = Set("int", "intlit")

  /** MySQL union type of conditional branches. `coalesceLike` result
    * nullability follows the TERMINAL argument (ifnull/coalesce);
    * otherwise any nullable branch (or a bare NULL arm) nullifies.
    */
  private def union(ts0: Seq[MoT], coalesceLike: Boolean): MoT = {
    val nn = ts0.filterNot(_.kind == "null")
    val sawNull = ts0.exists(_.kind == "null")
    if (nn.isEmpty) return MoT("null")
    val kinds = nn.map(_.kind).toSet
    var nullable =
      if (coalesceLike) nn.last.nullable
      else nn.exists(_.nullable) || sawNull
    val base: MoT =
      if (nn.length == 1) {
        // char survives a single-branch pass-through intact;
        // singleton after null-stripping keeps its own type
        nn.head
      } else if (kinds.contains("binlit") &&
        kinds.exists(k => strKinds(k) || intKinds(k))) {
        // a binary literal unioned with character branches pins
        // VARBINARY(8) (case_when golden: case_binary_char,
        // case_binary_utf8 — width 8 regardless of the char branch)
        MoT("varbinary", 8)
      } else if (kinds.subsetOf(Set("binary", "varbinary", "binlit"))) {
        val w = nn.map(_.a).max
        if (kinds == Set("binary")) MoT("binary", w) else MoT("varbinary", w)
      } else if (kinds.contains("text") || kinds.contains("blob")) {
        MoT("varchar", 65535)
      } else if ((kinds.contains("float") || kinds.contains("double")) &&
        kinds.size > 1) {
        MoT("varchar", 65535)
      } else if (kinds.contains("time") && kinds.size > 1) {
        MoT("varchar", math.max(24,
          nn.filterNot(_.kind == "time").map(strWidth).maxOption.getOrElse(0)))
      } else if (kinds.exists(strKinds)) {
        MoT("varchar", nn.map(strWidth).max)
      } else if (kinds.subsetOf(temporalKinds)) {
        if (kinds == Set("date")) MoT("date")
        else if (kinds.subsetOf(Set("timestamp"))) MoT("timestamp")
        else MoT("datetime")
      } else if (kinds.contains("uint") &&
        kinds.exists(k => intKinds(k) || k == "decimal")) {
        // unsigned ∪ signed: the only safe common integer domain is
        // DECIMAL(21,0) (case_when golden if_unsigned_signed)
        MoT("decimal", 21, 0)
      } else if (kinds.contains("decimal")) {
        val s = nn.map(_.b).max
        val p = math.min(38, nn.map(intDigits).max + s)
        MoT("decimal", p, s)
      } else if (kinds == Set("uint")) {
        MoT("uint", nn.map(_.a).max)
      } else if (kinds.subsetOf(intKinds ++ Set("bool"))) {
        MoT("int", 19)
      } else if (kinds.size == 1) {
        nn.head
      } else {
        MoT("varchar", nn.map(strWidth).max)
      }
    // temporal RESULTS are always nullable in MO's view metadata
    // (case_date_dt YES with non-null literal branches; greatest over
    // a NOT NULL date column stays YES)
    if (temporalKinds(base.kind)) nullable = true
    base.copy(nullable = nullable)
  }

  /** MO decimal multiplication: scale adds, precision saturates to 38
    * (v_coalesce_meta golden DECIMAL(38,7)).
    */
  private def multType(x: MoT, y: MoT): Option[MoT] = {
    def asDec(t: MoT): Option[MoT] = t.kind match {
      case "decimal" => Some(t)
      case "intlit" | "int" => Some(MoT("decimal", intDigits(t), 0, t.nullable))
      case _ => None
    }
    for (a <- asDec(x); b <- asDec(y)) yield
      MoT("decimal", 38, a.b + b.b, a.nullable || b.nullable)
  }

  // ------------------------------------------------------------------
  // declared-type parsing (table DDL decl or CAST target)
  // ------------------------------------------------------------------

  private val SizedRe = """(?i)^(\w+)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r

  /** MoT of a declared SQL type string (`decimal(8,2)`, `unsigned`,
    * `varchar(100)`, …); nullable supplied by the caller.
    */
  def parseDeclType(ty0: String, nullable: Boolean): Option[MoT] = {
    val ty = ty0.trim
    val (base, n1, n2) = SizedRe.findFirstMatchIn(ty) match {
      case Some(m) => (m.group(1).toLowerCase, m.group(2).toInt,
        Option(m.group(3)).map(_.toInt).getOrElse(0))
      case None => (ty.split("\\s+")(0).toLowerCase, 0, 0)
    }
    val unsigned = ty.toLowerCase.contains("unsigned")
    Some(base match {
      case "tinyint" => if (unsigned) MoT("uint", 3) else MoT("int", 3)
      case "smallint" => if (unsigned) MoT("uint", 5) else MoT("int", 5)
      case "int" | "integer" | "mediumint" =>
        if (unsigned) MoT("uint", 10) else MoT("int", 10)
      case "bigint" => if (unsigned) MoT("uint", 20) else MoT("int", 19)
      case "unsigned" => MoT("uint", 20) // bare CAST(x AS unsigned)
      case "signed" => MoT("int", 19)
      case "decimal" | "dec" | "numeric" =>
        MoT("decimal", if (n1 > 0) n1 else 10, n2)
      case "varchar" => MoT("varchar", if (n1 > 0) n1 else 65535)
      case "char" | "character" => MoT("char", if (n1 > 0) n1 else 1)
      case "binary" => MoT("binary", if (n1 > 0) n1 else 1)
      case "varbinary" => MoT("varbinary", if (n1 > 0) n1 else 65535)
      case "date" => MoT("date")
      case "datetime" => MoT("datetime", 0, n1)
      case "timestamp" => MoT("timestamp", 0, n1)
      case "time" => MoT("time", 0, n1)
      case "text" | "tinytext" | "mediumtext" | "longtext" => MoT("text")
      case "blob" | "tinyblob" | "mediumblob" | "longblob" => MoT("blob")
      case "float" => MoT("float")
      case "double" | "real" => MoT("double")
      case "bool" | "boolean" => MoT("bool")
      case _ => return None
    }).map(_.copy(nullable = nullable))
  }

  // ------------------------------------------------------------------
  // expression parsing
  // ------------------------------------------------------------------

  private def stripOuter(e0: String): String = {
    var e = e0.trim
    while (e.startsWith("(") && e.endsWith(")") &&
      SqlText.balancedSpan(e, 0).exists(_._2 == e.length))
      e = e.substring(1, e.length - 1).trim
    e
  }

  private val StrLitRe = """(?s)^'((?:[^'\\]|\\.)*)'$""".r
  private val BinLitRe = """(?is)^_binary\s+'((?:[^'\\]|\\.)*)'$""".r
  private val IntLitRe = """^-?\d+$""".r
  private val DecLitRe = """^(-?)(\d+)\.(\d+)$""".r
  private val IdentRe = """^`?([A-Za-z_][\w$]*)`?$""".r
  private val FuncRe = """(?is)^(if|iff|ifnull|nvl|nullif|coalesce|greatest|least)\s*\(""".r
  private val CastRe = """(?is)^cast\s*\(""".r
  private val CaseRe = """(?is)^case\b""".r

  /** Best-effort inference; None = shape not understood (caller skips
    * registration — never wrong metadata, just absent).
    */
  def infer(e0: String, env: String => Option[MoT]): Option[MoT] = {
    val e = stripOuter(e0)
    val low = e.toLowerCase
    if (low == "null") return Some(MoT("null"))
    if (low == "true" || low == "false")
      return Some(MoT("bool", nullable = false))
    StrLitRe.findFirstMatchIn(e).foreach { m =>
      return Some(MoT("varchar", m.group(1).length, nullable = false))
    }
    BinLitRe.findFirstMatchIn(e).foreach { m =>
      return Some(MoT("binlit",
        m.group(1).getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
        nullable = false))
    }
    if (IntLitRe.findFirstIn(e).isDefined)
      return Some(MoT("intlit", e.stripPrefix("-").length, nullable = false))
    DecLitRe.findFirstMatchIn(e).foreach { m =>
      val ip = m.group(2).length; val fp = m.group(3).length
      return Some(MoT("decimal", ip + fp, fp, nullable = false))
    }
    // top-level multiplication (decimal algebra)
    topLevelOp(e, '*').foreach { i =>
      val l = infer(e.substring(0, i), env)
      val r = infer(e.substring(i + 1), env)
      (l, r) match {
        case (Some(a), Some(b)) => return multType(a, b)
        case _ => return None
      }
    }
    if (CastRe.findFirstIn(e).isDefined) {
      val open = e.indexOf('(')
      val (inner, end) = SqlText.balancedSpan(e, open).getOrElse(return None)
      if (end != e.length) return None
      val asIdx = topLevelAs(inner).getOrElse(return None)
      val src = inner.substring(0, asIdx)
      val ty = inner.substring(asIdx + 2).trim
      val srcT = infer(src, env)
      val nullable = src.trim.equalsIgnoreCase("null") ||
        srcT.map(_.nullable).getOrElse(true)
      // a STRING literal cast to width-less BINARY is MySQL's
      // `_binary 'x'` literal (the dialect shim's spelling) — it
      // unions as a binary LITERAL (→ VARBINARY(8)), not as a
      // declared BINARY(n) column type
      if (ty.trim.equalsIgnoreCase("binary"))
        StrLitRe.findFirstMatchIn(stripOuter(src)).foreach { sm =>
          return Some(MoT("binlit", sm.group(1)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
            nullable = false))
        }
      return parseDeclType(ty, nullable)
    }
    if (CaseRe.findFirstIn(e).isDefined && low.endsWith("end")) {
      // the dialect layer's unsigned-cast expansion (a saturating CASE
      // over the 2^64 modulus) — that constant is its unambiguous
      // signature; the MO-level type is plain UNSIGNED
      if (low.contains("18446744073709551616"))
        return Some(MoT("uint", 20, nullable = false))
      return inferCase(e, env)
    }
    // substr(x, 1, N): the dialect layer's CHAR(N)-cast spelling; MO
    // types the result by the declared length
    """(?is)^substr(?:ing)?\s*\(""".r.findFirstMatchIn(e).foreach { sm =>
      val open = e.indexOf('(', sm.end - 1)
      SqlText.balancedSpan(e, open).foreach { case (inner, end) =>
        if (end == e.length) {
          val args = SqlText.splitTop(inner).map(_.trim)
          if (args.length == 3 && args(1) == "1" &&
            args(2).matches("\\d+"))
            return Some(MoT("varchar", args(2).toInt,
              nullable = infer(args(0), env).forall(_.nullable)))
        }
      }
      return None
    }
    FuncRe.findFirstMatchIn(e).foreach { m =>
      val open = e.indexOf('(', m.end - 1)
      val (inner, end) = SqlText.balancedSpan(e, open).getOrElse(return None)
      if (end != e.length) return None
      val fn = m.group(1).toLowerCase
      val args = SqlText.splitTop(inner)
      val argTs0 = fn match {
        case "if" | "iff" =>
          if (args.length != 3) return None
          args.drop(1).map(a => infer(a, env))
        case "nullif" =>
          if (args.length != 2) return None
          args.map(a => infer(a, env))
        case _ => args.map(a => infer(a, env))
      }
      if (argTs0.exists(_.isEmpty)) return None
      val argTs = argTs0.flatten
      val coalesceLike = fn == "ifnull" || fn == "nvl" || fn == "coalesce"
      val u = union(argTs, coalesceLike)
      return Some(if (fn == "nullif") u.copy(nullable = true) else u)
    }
    // numeric pass-throughs (the dialect layer wraps literals in
    // round(); only the operand's type/nullability matter here)
    """(?is)^(round|floor|ceil|ceiling|abs)\s*\(""".r.findFirstMatchIn(e)
      .foreach { rm =>
        val open = e.indexOf('(', rm.end - 1)
        SqlText.balancedSpan(e, open).foreach { case (inner, end) =>
          if (end == e.length) {
            val args = SqlText.splitTop(inner)
            if (args.nonEmpty) return infer(args.head, env)
          }
        }
        return None
      }
    IdentRe.findFirstMatchIn(e).foreach(m => return env(m.group(1)))
    None
  }

  /** index of an operator char at paren depth 0 outside quotes */
  private def topLevelOp(e: String, op: Char): Option[Int] =
    Some(SqlText.topIndexWhere(e)(e(_) == op)).filter(_ >= 0)

  /** start index of the top-level `as` keyword inside a CAST body */
  private def topLevelAs(inner: String): Option[Int] =
    Some(SqlText.topIndexOf(inner, "as")).filter(_ >= 0)

  private def inferCase(e: String,
      env: String => Option[MoT]): Option[MoT] = {
    // top-level keyword positions
    val kws = Seq("when", "then", "else", "end")
    def next(from: Int): Int = SqlText.topIndexWhere(e, from)(i => kws.exists(SqlText.wordAt(e, i, _)))
    var marks = Vector.empty[(Int, String)] // (pos, kw)
    var i = next(4) // past "case"
    while (i >= 0) {
      val kw = kws.find(SqlText.wordAt(e, i, _)).get
      marks :+= ((i, kw))
      i = next(i + kw.length)
    }
    if (marks.isEmpty || marks.last._2 != "end") return None
    // value expressions: after each THEN (to next WHEN/ELSE/END) and
    // after ELSE (to END)
    val vals = marks.zipWithIndex.collect {
      case (((p, kw)), idx) if kw == "then" || kw == "else" =>
        val from = p + kw.length
        val to = if (idx + 1 < marks.length) marks(idx + 1)._1 else e.length
        e.substring(from, to).trim
    }
    if (vals.isEmpty) return None
    val ts = vals.map(v => infer(v, env))
    if (ts.exists(_.isEmpty)) return None
    val hasElse = marks.exists(_._2 == "else")
    val all = ts.flatten ++ (if (hasElse) Nil else Seq(MoT("null")))
    Some(union(all, coalesceLike = false))
  }

  // ------------------------------------------------------------------
  // view registration
  // ------------------------------------------------------------------

  /** Try to infer and register column metadata for a CREATE VIEW body
    * (`rest` = the text after the view name: "as select ..."). Partial
    * understanding registers nothing.
    */
  def registerViewCols(spark: SparkSession, phys: String,
      rest: String): Unit = {
    if (sys.env.contains("GRAFT_INFER_DEBUG"))
      System.err.println(s"INFERREG: $phys REST=<<$rest>>")
    try {
      val m = """(?is)^\s*as\s+select\s+(.+)$""".r.findFirstMatchIn(rest)
        .getOrElse(return)
      val body = m.group(1)
      // top-level FROM (absent = literal-only view)
      val fromIdx = SqlText.topIndexOf(body, "from")
      val selectList =
        (if (fromIdx >= 0) body.substring(0, fromIdx) else body)
          .trim.stripSuffix(";")
      // environment: single plain FROM table/view (joins/subqueries
      // are out of the inferencer's scope)
      val env: String => Option[MoT] = if (fromIdx < 0) { _ => None } else {
        val tm = """^\s*`?([\w$]+)`?\s*;?\s*$""".r
          .findFirstMatchIn(body.substring(fromIdx + 4))
          .getOrElse(return)
        val src = GraftSql.resolveTableName(spark, None, tm.group(1))
        val fromView = colsOf(spark, src)
        if (fromView.nonEmpty) {
          (c: String) => fromView.find(_._1.equalsIgnoreCase(c)).map(_._2)
        } else {
          val decl = MoCatalog.declaredColumnsOf(spark, src)
          if (decl.isEmpty) return
          (c: String) => decl.find(_._1.equalsIgnoreCase(c))
            .flatMap { case (_, ty, notNull) => parseDeclType(ty, !notNull) }
        }
      }
      val items = SqlText.splitTop(selectList).map(_.trim)
      if (items.isEmpty || items.exists(_ == "*")) return
      val cols = items.map { item =>
        val am = """(?is)^(.*?)\s+as\s+`?([\w$]+)`?\s*$""".r
          .findFirstMatchIn(item)
        val (exprTxt, alias) = am match {
          case Some(x) if topLevelAs(x.group(1)).isEmpty =>
            (x.group(1), x.group(2))
          case _ =>
            // a bare column reference names itself
            IdentRe.findFirstMatchIn(item) match {
              case Some(idm) => (item, idm.group(1))
              case None => return
            }
        }
        infer(exprTxt, env) match {
          case Some(t) if t.kind != "null" => (alias, t)
          case _ => return
        }
      }
      val db = MoCatalog.currentDb(spark).getOrElse("default")
      viewCols(spark).put(phys.toLowerCase, (db, cols.toVector))
    } catch {
      case scala.util.control.NonFatal(_) => // best-effort only
    }
  }
}
