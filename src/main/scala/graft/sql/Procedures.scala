package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Stored procedures — the reference's quoted-body procedure surface
  * (`CREATE PROCEDURE p(...) 'begin ... end'`, `pkg/frontend/` call
  * handling; BVT `procedure/procedure.sql`, `prepare_binary_param`).
  *
  * The interpreter walks the body's `;`-separated fragments with a
  * scope stack of declared variables: DECLARE/SET, IF/ELSEIF/ELSE,
  * WHILE, REPEAT/UNTIL, labeled LOOP with ITERATE/LEAVE, nested
  * BEGIN/END blocks, nested CALL, and IN/OUT/INOUT parameters.
  * Embedded SQL statements run through [[GraftSql.sql]] with declared
  * variables substituted as typed literals — so the distributed engine
  * does the data work; the procedure layer is control flow only, which
  * is also the reference's split (its interpreter dispatches each
  * statement back to the query engine).
  *
  * CALL's visible result is the FIRST result-set-producing statement's
  * rows (procedure.result:70-73: nested blocks print the inner SELECT
  * only); later statements still execute for their side effects.
  */
object Procedures {

  private final case class Param(mode: String, name: String, tpe: String)
  private final case class Proc(params: Seq[Param], body: String)

  // lowercase procedure name → procedure
  private val registry = new graft.SessionScoped(() => TrieMap[String, Proc]())

  def exists(spark: SparkSession, name: String): Boolean =
    registry(spark).contains(name.toLowerCase)

  def create(spark: SparkSession, name: String, paramsTxt: String,
      body: String): Unit = {
    if (exists(spark, name))
      throw new IllegalArgumentException(s"procedure $name already exists")
    val params = SqlText.splitTop(paramsTxt).map(_.trim).filter(_.nonEmpty)
      .map { p =>
        val m = """(?is)^(?:(in|out|inout)\s+)?`?(\w+)`?\s+(.+)$""".r
          .findFirstMatchIn(p).getOrElse(throw new IllegalArgumentException(
            s"invalid procedure parameter: $p"))
        Param(Option(m.group(1)).map(_.toLowerCase).getOrElse("in"),
          m.group(2), m.group(3).trim)
      }
    registry(spark).put(name.toLowerCase, Proc(params, body))
  }

  def drop(spark: SparkSession, name: String, ifExists: Boolean): Unit =
    if (registry(spark).remove(name.toLowerCase).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"procedure $name does not exist")

  // ----------------------------------------------------------- runtime

  private final class Scope(val parent: Option[Scope]) {
    val vars = mutable.LinkedHashMap[String, (String, String)]() // name → (type, literal)
    def lookup(n: String): Option[(String, String)] =
      vars.get(n.toLowerCase).orElse(parent.flatMap(_.lookup(n)))
    def assign(n: String, v: String): Boolean =
      if (vars.contains(n.toLowerCase)) { // keep declared type
        vars(n.toLowerCase) = (vars(n.toLowerCase)._1, v); true
      } else parent.exists(_.assign(n, v))
  }

  private final case class IterateEx(label: String) extends RuntimeException
  private final case class LeaveEx(label: String) extends RuntimeException

  private final class Ctx(val spark: SparkSession) {
    var firstResult: Option[DataFrame] = None
    var steps = 0
    def tick(): Unit = {
      steps += 1
      if (steps > 100000) throw new IllegalStateException(
        "procedure exceeded 100000 interpreted steps")
    }
  }

  /** Substitute declared variables (whole word, outside quotes) with
    * typed literals so `select v1` displays with the DECLARE's type.
    */
  private def subst(sql: String, scope: Scope): String =
    SqlText.replaceOutside(sql, WordRe, m =>
      scope.lookup(m.matched) match {
        // not a substitution when used as `tbl.w` or `w(`
        case Some((t, lit)) if (m.start == 0 || sql(m.start - 1) != '.') &&
            (m.end >= sql.length || sql(m.end) != '(') =>
          if (lit == "NULL") s"CAST(NULL AS $t)" else s"CAST($lit AS $t)"
        case _ => m.matched
      })
  private val WordRe = """[\p{L}_][\p{L}\p{Nd}_]*""".r

  private def evalExpr(spark: SparkSession, e: String, scope: Scope): String = {
    if (e.trim.equalsIgnoreCase("null")) return "NULL"
    val row = GraftSql.sql(spark, s"SELECT (${subst(e, scope)})").collect()
      .headOption.getOrElse(Row(null))
    GraftSql.sqlLiteral(row.get(0))
  }

  private def evalCond(spark: SparkSession, e: String, scope: Scope): Boolean =
    GraftSql.sql(spark,
      s"SELECT coalesce(CAST((${subst(e, scope)}) AS BOOLEAN), false)")
      .collect().headOption.exists(_.getBoolean(0))

  /** Split the body at its top-level `;`. */
  private def fragments(body: String): Vector[String] =
    SqlText.splitTop(body, ';').filter(_.nonEmpty).toVector

  /** Execute fragments from `i0` until (and consuming) a terminator
    * matched by `stop`; returns the next index.
    */
  private def runUntil(ctx: Ctx, frags: Vector[String], i0: Int,
      scope: Scope, stop: String => Boolean): Int = {
    var i = i0
    while (i < frags.length && !stop(frags(i))) i = step(ctx, frags, i, scope)
    if (i < frags.length) i + 1 else i
  }

  /** Opener/closer tokens anywhere in a fragment. Constructs may start
    * INLINE after `then`/`else` (`when c then case when ...`), so the
    * scan walks every token, not just the fragment head. A balanced
    * CASE EXPRESSION (`case when a then b end` inside one statement)
    * nets zero; `if`/`repeat` followed by `(` are the SQL functions.
    */
  private val DepthTokRe =
    ("""(?i)(?<![\w$`])(end\s+(?:if|case|while|loop|repeat)|end|begin|case|""" +
      """if(?!\s*\()|while|repeat(?!\s*\()|loop)(?![\w$`(])""").r

  private def netDepth(frag: String): Int = {
    val l = SqlText.mask(frag).toLowerCase
    var d = 0
    DepthTokRe.findAllMatchIn(l).foreach { m =>
      val t = m.group(1)
      if (t.startsWith("end")) d -= 1
      else if (t == "if") {
        // procedural IF has a THEN in the same fragment; `drop table
        // if exists` / `create ... if not exists` do not
        if ("""(?i)(?<![\w$`])then(?![\w$`])""".r
            .findFirstMatchIn(l.substring(m.end)).isDefined) d += 1
      } else d += 1
    }
    d
  }

  private def skipUntil(frags: Vector[String], i0: Int,
      stop: String => Boolean): Int =
    skipUntilDepth(frags, i0, 0, stop)

  /** Structural skip balancing nested openers so an inner `end if`
    * doesn't close the outer construct. `d0` seeds the depth with
    * openers already consumed from a partially-processed fragment
    * (an untaken `when c then case when ...` branch leaves its inline
    * nested CASE open when the scan resumes at the NEXT fragment).
    */
  private def skipUntilDepth(frags: Vector[String], i0: Int, d0: Int,
      stop: String => Boolean): Int = {
    var i = i0
    var depth = d0
    while (i < frags.length) {
      if (depth == 0 && stop(frags(i))) return i
      depth += netDepth(frags(i))
      if (depth < 0) depth = 0
      i += 1
    }
    i
  }

  private val DeclareRe =
    """(?is)^declare\s+`?(\w+)`?\s+([\w()\s,]+?)(?:\s+default\s+(.+))?$""".r
  private val SetRe = """(?is)^set\s+`?(\w+)`?\s*=\s*(.+)$""".r
  private val IfRe = """(?is)^if\s+(.+?)\s+then\s*(.*)$""".r
  private val ElseifRe = """(?is)^elseif\s+(.+?)\s+then\s*(.*)$""".r
  private val WhileRe = """(?is)^while\s+(.+?)\s+do\s*(.*)$""".r
  private val LoopRe = """(?is)^(?:(\w+)\s*:\s*)?loop\s*(.*)$""".r
  private val RepeatRe = """(?is)^repeat\s*(.*)$""".r
  private val CaseHeadRe = """(?is)^case\s+(.+)$""".r
  private val UntilRe = """(?is)^until\s+(.+?)\s+end\s+repeat.*$""".r
  private val CallRe = """(?is)^call\s+`?(\w+)`?\s*\(([^)]*)\)\s*$""".r

  /** Execute the fragment at `i`; returns the index after it (and any
    * construct it opened).
    */
  private def step(ctx: Ctx, frags: Vector[String], i: Int, scope: Scope): Int = {
    ctx.tick()
    val f = frags(i)
    val low = f.toLowerCase
    if (low == "begin" || low.startsWith("begin ") || low.startsWith("begin\n")) {
      // nested block: own scope; the text after `begin` is its first stmt
      val inner = new Scope(Some(scope))
      val rest = f.substring(5).trim
      val sub = if (rest.isEmpty) frags else frags.updated(i, rest)
      val from = if (rest.isEmpty) i + 1 else i
      return runUntil(ctx, sub, from, inner, _.toLowerCase == "end")
    }
    f match {
      case DeclareRe(n, t, dOrNull) =>
        val tpe = normType(t.trim)
        val v = Option(dOrNull)
          .map(d => evalExpr(ctx.spark, d, scope)).getOrElse("NULL")
        scope.vars(n.toLowerCase) = (tpe, v)
        i + 1
      case SetRe(n, e) if scope.lookup(n).isDefined =>
        scope.assign(n, evalExpr(ctx.spark, e, scope))
        i + 1
      case IfRe(cond, rest) =>
        var taken = evalCond(ctx.spark, cond, scope)
        var j = if (rest.trim.isEmpty) i + 1 else i
        var sub = if (rest.trim.isEmpty) frags else frags.updated(i, rest.trim)
        var done = taken
        def branchEnd(s: String): Boolean = {
          val l = s.toLowerCase
          l == "end if" || l.startsWith("elseif ") || l == "else" ||
            l.startsWith("else ")
        }
        var fin = false
        while (!fin) {
          if (taken) j = runUntilKeep(ctx, sub, j, scope, branchEnd)
          else j = skipUntil(sub, j, branchEnd)
          if (j >= sub.length) fin = true
          else {
            val l = sub(j).toLowerCase
            if (l == "end if") { j += 1; fin = true }
            else l match {
              case _ if l.startsWith("elseif") =>
                val m = ElseifRe.findFirstMatchIn(sub(j)).get
                taken = !done && evalCond(ctx.spark, m.group(1), scope)
                if (taken) done = true
                val r = m.group(2).trim
                if (r.nonEmpty) { sub = sub.updated(j, r) } else j += 1
              case _ => // else branch
                val r = sub(j).substring(4).trim
                taken = !done
                if (r.nonEmpty) { sub = sub.updated(j, r) } else j += 1
            }
          }
        }
        j
      case CaseHeadRe(subjAndRest) =>
        // fragment shape: `case <subject>` with the first `when ...`
        // usually INLINE (no ';' separates them in the body text).
        // The SEARCHED form (`case when cond then ...`) has no subject:
        // each WHEN carries a full boolean condition of its own.
        val searched = subjAndRest.trim.toLowerCase.startsWith("when")
        val m2 =
          if (searched) None
          else """(?is)^(.+?)\s+(when\s+.*)$""".r.findFirstMatchIn(subjAndRest)
        val subjOpt =
          if (searched) None
          else Some(m2.map(_.group(1)).getOrElse(subjAndRest).trim)
        var sub = frags
        var start = i + 1
        if (searched) { sub = frags.updated(i, subjAndRest.trim); start = i }
        else m2.foreach { mm => sub = frags.updated(i, mm.group(2)); start = i }
        val endIdx = skipUntil(sub, start,
          _.toLowerCase.trim.startsWith("end case"))
        def isBranch(x: String): Boolean = {
          val l = x.toLowerCase.trim
          l.startsWith("when ") || l == "else" || l.startsWith("else ")
        }
        def stopAt(x: String): Boolean =
          isBranch(x) || x.toLowerCase.trim.startsWith("end case")
        var j = start
        var done = false
        while (j < endIdx) {
          val l = sub(j).trim
          val wm = """(?is)^when\s+(.+?)\s+then\s+(.*)$""".r.findFirstMatchIn(l)
          val em =
            if (wm.isEmpty && l.toLowerCase.startsWith("else"))
              Some(l.substring(4).trim)
            else None
          (wm, em) match {
            case (Some(mm), _) =>
              val take = !done && (subjOpt match {
                case Some(subj) =>
                  evalCond(ctx.spark, s"($subj) = (${mm.group(1)})", scope)
                case None => evalCond(ctx.spark, mm.group(1), scope)
              })
              val rest = mm.group(2).trim
              if (take) {
                done = true
                var s2 = sub
                var k = j + 1
                if (rest.nonEmpty) { s2 = sub.updated(j, rest); k = j }
                j = runUntilKeep(ctx, s2, k, scope, stopAt)
              } else j = skipUntilDepth(sub, j + 1, netDepth(rest), stopAt)
            case (None, Some(rest)) =>
              if (!done) {
                done = true
                var s2 = sub
                var k = j + 1
                if (rest.nonEmpty) { s2 = sub.updated(j, rest); k = j }
                j = runUntilKeep(ctx, s2, k, scope, stopAt)
              } else j = skipUntilDepth(sub, j + 1, netDepth(rest), stopAt)
            case _ => j += 1
          }
        }
        endIdx + 1
      case WhileRe(cond, rest0) =>
        val bodyStart = if (rest0.trim.isEmpty) i + 1 else i
        val sub = if (rest0.trim.isEmpty) frags else frags.updated(i, rest0.trim)
        val end = skipUntil(sub, bodyStart, _.toLowerCase == "end while")
        while (evalCond(ctx.spark, cond, scope)) {
          ctx.tick()
          var j = bodyStart
          while (j < end) j = step(ctx, sub, j, scope)
        }
        end + 1
      case RepeatRe(rest0) =>
        val bodyStart = if (rest0.trim.isEmpty) i + 1 else i
        val sub = if (rest0.trim.isEmpty) frags else frags.updated(i, rest0.trim)
        val end = skipUntil(sub, bodyStart,
          s => UntilRe.findFirstIn(s).isDefined)
        val cond = UntilRe.findFirstMatchIn(sub(end)).get.group(1)
        var go = true
        while (go) {
          ctx.tick()
          var j = bodyStart
          while (j < end) j = step(ctx, sub, j, scope)
          go = !evalCond(ctx.spark, cond, scope)
        }
        end + 1
      case LoopRe(labelOrNull, rest0) =>
        val label = Option(labelOrNull).map(_.toLowerCase).getOrElse("")
        val bodyStart = if (rest0.trim.isEmpty) i + 1 else i
        val sub = if (rest0.trim.isEmpty) frags else frags.updated(i, rest0.trim)
        val end = skipUntil(sub, bodyStart,
          _.toLowerCase.startsWith("end loop"))
        var looping = true
        while (looping) {
          ctx.tick()
          try {
            var j = bodyStart
            while (j < end) j = step(ctx, sub, j, scope)
          } catch {
            case IterateEx(l) if l == label || l.isEmpty => // next round
            case LeaveEx(l) if l == label || l.isEmpty => looping = false
          }
        }
        end + 1
      case _ if low.startsWith("iterate") =>
        throw IterateEx(low.stripPrefix("iterate").trim)
      case _ if low.startsWith("leave") =>
        throw LeaveEx(low.stripPrefix("leave").trim)
      case CallRe(n, argsTxt) if exists(ctx.spark, n) =>
        callInto(ctx, n, argsTxt)
        i + 1
      case _ if low == "end" => i + 1 // stray block close (defensive)
      case _ =>
        var sqlTxt = subst(f, scope)
        if (low.startsWith("create ") && low.contains(" table")) {
          // body DDL is MySQL-dialect: record + strip inline PRIMARY KEY
          // and NOT NULL the way the conformance harness does
          """(?is)table\s+(?:if\s+not\s+exists\s+)?`?(\w+)`?[\s(]""".r
            .findFirstMatchIn(sqlTxt).foreach { tm =>
              """(?is)[(,]\s*`?(\w+)`?\s+\w+(?:\([^)]*\))?[^,]*?\bPRIMARY\s+KEY""".r
                .findFirstMatchIn(sqlTxt).foreach(pm =>
                  GraftSql.registerPrimaryKey(ctx.spark,
                    tm.group(1).toLowerCase, pm.group(1).toLowerCase))
            }
          sqlTxt = sqlTxt.replaceAll("(?i)\\s+PRIMARY\\s+KEY\\b", "")
            .replaceAll("(?i)\\s+NOT\\s+NULL\\b", "")
        }
        val df = GraftSql.sql(ctx.spark, sqlTxt)
        // a SELECT statement inside a procedure RESETS row_count() to 0
        // (row_count.result: after a CALL whose last statement selects,
        // the session counter reads 0; top-level SELECTs read -1)
        if (low.startsWith("select"))
          GraftSql.recordRowCount(ctx.spark, 0L)
        if (ctx.firstResult.isEmpty && df.schema.nonEmpty &&
          low.startsWith("select") || ctx.firstResult.isEmpty &&
          (low.startsWith("execute") && df.schema.nonEmpty)) {
          // the first result set materializes driver-side so it survives
          // the procedure's later DML on the same tables — cap it; a
          // procedure SELECTing an unbounded table must not OOM the driver
          graft.operators.QueryGuard.check(df, "CALL result set")
          ctx.firstResult = Some(ctx.spark.createDataFrame(
            new java.util.ArrayList[Row](java.util.Arrays.asList(df.collect(): _*)),
            df.schema))
        }
        i + 1
    }
  }

  /** Like runUntil but leaves the terminator for the caller to inspect. */
  private def runUntilKeep(ctx: Ctx, frags: Vector[String], i0: Int,
      scope: Scope, stop: String => Boolean): Int = {
    var i = i0
    while (i < frags.length && !stop(frags(i))) i = step(ctx, frags, i, scope)
    i
  }

  private def normType(t: String): String = {
    val l = t.trim.toLowerCase
    if (l == "int" || l == "integer") "INT"
    else if (l.startsWith("decimal")) t.trim.toUpperCase
    else if (l == "bool" || l == "boolean") "BOOLEAN"
    else if (l == "text" || l.startsWith("varchar") || l.startsWith("char")) "STRING"
    else if (l == "datetime") "TIMESTAMP"
    else t.trim.toUpperCase
  }

  private def callInto(ctx: Ctx, name: String, argsTxt: String): Unit = {
    val spark = ctx.spark
    val proc = registry(spark)(name.toLowerCase)
    val args = SqlText.splitTop(argsTxt).map(_.trim).filter(_.nonEmpty)
    if (args.length != proc.params.length)
      throw new IllegalArgumentException(
        s"procedure $name expects ${proc.params.length} arguments")
    val scope = new Scope(None)
    proc.params.zip(args).foreach { case (p, a) =>
      val tpe = normType(p.tpe)
      val v = p.mode match {
        case "out" => "NULL" // OUT starts NULL regardless of the arg
        case _ =>
          if (a.startsWith("@")) GraftSql.userVarLiteral(spark, a.drop(1))
          else evalExpr(spark, a, scope)
      }
      scope.vars(p.name.toLowerCase) = (tpe, v)
    }
    val body0 = proc.body.trim
      .replaceAll("(?is)^begin\\b", "").replaceAll("(?is)\\bend\\s*$", "")
    var j = 0
    val frags = fragments(body0)
    while (j < frags.length) j = step(ctx, frags, j, scope)
    // write OUT/INOUT values back into the caller's @vars
    proc.params.zip(args).foreach { case (p, a) =>
      if ((p.mode == "out" || p.mode == "inout") && a.startsWith("@"))
        GraftSql.setUserVar(spark, a.drop(1),
          scope.vars(p.name.toLowerCase)._2)
    }
  }

  /** Entry point for `CALL name(args)`. */
  def call(spark: SparkSession, name: String, argsTxt: String): DataFrame = {
    val ctx = new Ctx(spark)
    callInto(ctx, name, argsTxt)
    ctx.firstResult.getOrElse(spark.emptyDataFrame)
  }
}
