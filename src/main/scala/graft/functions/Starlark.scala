package graft.functions

import org.apache.spark.sql.functions.udf

import scala.collection.mutable

/** A self-contained Starlark (Python-subset) evaluator backing the
  * reference's `starlark(code, arg)` / `try_starlark(code, arg)` scalar
  * functions (`pkg/sql/plan/function/func_builtin_starlark.go`):
  *
  *  - the program is a module executed with `While`, `TopLevelControl`,
  *    `GlobalReassign` and `Recursion` enabled (`:95-104`); it must
  *    define `main`, which is called per row with the argument string
  *    (`:152`); the result is rendered with starlark `String()` REPR
  *    semantics — a returned string comes back QUOTED (`:165`)
  *  - a NULL argument row yields NULL; `try_starlark` turns evaluation
  *    errors into NULL instead of failing the query (`:153-159`)
  *  - the predeclared environment exposes `jq(program, data)` backed by
  *    the same jq engine as the SQL `jq` function (`:74-92` marshals
  *    the result back to JSON)
  *
  * The interpreter covers the Starlark core: def (+ default params +
  * recursion), if/elif/else, for over lists/dicts/strings/ranges,
  * while/break/continue, tuple assignment + augmented assignment,
  * list/dict/tuple literals, comprehensions, slicing, string/list/dict
  * methods, and the standard builtins (len/str/int/float/bool/range/
  * enumerate/sorted/reversed/min/max/sum/abs/any/all/zip/type/repr/
  * fail). Out of scope (documented): nested def/lambda closures over
  * mutable locals, sets, **kwargs, and the `mo_sql` stored-procedure
  * bridge (no SQL executor on executors).
  */
object Starlark {

  final class StarlarkError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new StarlarkError(msg)

  // ------------------------------------------------------------ values
  // None -> null, Boolean, Long, Double, String,
  // list -> mutable.ArrayBuffer[Any], dict -> mutable.LinkedHashMap[Any, Any],
  // tuple -> Vector[Any], functions -> Fn / Builtin
  private final case class Fn(name: String, params: Seq[(String, Option[Expr])],
      body: Seq[Stmt], closure: Env)
  private final case class Builtin(name: String, f: Seq[Any] => Any)

  // --------------------------------------------------------------- AST
  private sealed trait Expr
  private case class ELit(v: Any) extends Expr
  private case class EName(n: String) extends Expr
  private case class EList(items: Seq[Expr]) extends Expr
  private case class ETuple(items: Seq[Expr]) extends Expr
  private case class EDict(pairs: Seq[(Expr, Expr)]) extends Expr
  private case class EUnary(op: String, e: Expr) extends Expr
  private case class EBin(op: String, l: Expr, r: Expr) extends Expr
  private case class EBoolOp(op: String, l: Expr, r: Expr) extends Expr
  private case class ECmp(first: Expr, rest: Seq[(String, Expr)]) extends Expr
  private case class ECond(c: Expr, t: Expr, f: Expr) extends Expr
  private case class ECall(f: Expr, args: Seq[Expr]) extends Expr
  private case class EIndex(o: Expr, i: Expr) extends Expr
  private case class ESlice(o: Expr, lo: Option[Expr], hi: Option[Expr]) extends Expr
  private case class EAttr(o: Expr, name: String) extends Expr
  private case class EComp(out: Expr, v: Seq[String], iter: Expr, cond: Option[Expr]) extends Expr

  private sealed trait Stmt
  private case class SDef(name: String, params: Seq[(String, Option[Expr])],
      body: Seq[Stmt]) extends Stmt
  private case class SRet(e: Option[Expr]) extends Stmt
  private case class SIf(cases: Seq[(Expr, Seq[Stmt])], els: Seq[Stmt]) extends Stmt
  private case class SFor(vars: Seq[String], iter: Expr, body: Seq[Stmt]) extends Stmt
  private case class SWhile(c: Expr, body: Seq[Stmt]) extends Stmt
  private case object SBreak extends Stmt
  private case object SContinue extends Stmt
  private case object SPass extends Stmt
  private case class SAssign(targets: Seq[Expr], op: String, value: Expr) extends Stmt
  private case class SExpr(e: Expr) extends Stmt

  // ------------------------------------------------------------- lexer
  private final case class Tok(kind: String, text: String)

  private val Keywords = Set("def", "return", "if", "elif", "else", "for",
    "while", "break", "continue", "pass", "in", "not", "and", "or",
    "None", "True", "False", "lambda", "load")
  private val Ops = Seq("**", "//=", "==", "!=", "<=", ">=", "+=", "-=",
    "*=", "/=", "%=", "//", "->", "<", ">", "=", "+", "-", "*", "/", "%",
    "(", ")", "[", "]", "{", "}", ",", ":", ".", ";")

  private def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val indents = mutable.Stack[Int](0)
    var parens = 0
    val lines = src.split("\n", -1)
    for (rawLine <- lines) {
      val noComment = stripComment(rawLine)
      val line = noComment
      val trimmed = line.trim
      if (trimmed.isEmpty || parens > 0) {
        // blank line or continuation inside brackets: no indent handling
        if (trimmed.nonEmpty) parens = lexLine(line, out, parens)
      } else {
        val indent = line.takeWhile(c => c == ' ' || c == '\t')
          .map(c => if (c == '\t') 8 else 1).sum
        if (indent > indents.top) { indents.push(indent); out += Tok("INDENT", "") }
        else while (indent < indents.top) { indents.pop(); out += Tok("DEDENT", "") }
        parens = lexLine(line, out, parens)
        if (parens == 0) out += Tok("NEWLINE", "")
      }
    }
    while (indents.top > 0) { indents.pop(); out += Tok("DEDENT", "") }
    out += Tok("EOF", "")
    out.result()
  }

  private def stripComment(line: String): String = {
    var i = 0; var q: Char = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (q != 0) { if (c == '\\') i += 1 else if (c == q) q = 0 }
      else if (c == '\'' || c == '"') q = c
      else if (c == '#') return line.substring(0, i)
      i += 1
    }
    line
  }

  private def lexLine(line: String, out: mutable.Builder[Tok, Vector[Tok]],
      parens0: Int): Int = {
    var parens = parens0
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == ' ' || c == '\t') i += 1
      else if (c.isDigit || (c == '.' && i + 1 < line.length && line.charAt(i + 1).isDigit)) {
        val start = i
        while (i < line.length && (line.charAt(i).isDigit || line.charAt(i) == '.' ||
          line.charAt(i) == 'e' || line.charAt(i) == 'E' ||
          ((line.charAt(i) == '+' || line.charAt(i) == '-') && i > start &&
            (line.charAt(i - 1) == 'e' || line.charAt(i - 1) == 'E')))) i += 1
        out += Tok("NUM", line.substring(start, i))
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < line.length && (line.charAt(i).isLetterOrDigit || line.charAt(i) == '_')) i += 1
        val w = line.substring(start, i)
        out += Tok(if (Keywords(w)) w else "NAME", w)
      } else if (c == '\'' || c == '"') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        var done = false
        while (i < line.length && !done) {
          val ch = line.charAt(i)
          if (ch == '\\' && i + 1 < line.length) {
            line.charAt(i + 1) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case '\\' => sb += '\\'; case '\'' => sb += '\''; case '"' => sb += '"'
              case other => sb += '\\'; sb += other
            }
            i += 2
          } else if (ch == quote) { done = true; i += 1 }
          else { sb += ch; i += 1 }
        }
        if (!done) fail("unterminated string literal")
        out += Tok("STR", sb.toString)
      } else {
        Ops.find(op => line.startsWith(op, i)) match {
          case Some(op) =>
            if (op == "(" || op == "[" || op == "{") parens += 1
            if (op == ")" || op == "]" || op == "}") parens -= 1
            out += Tok("OP", op)
            i += op.length
          case None => fail(s"unexpected character '$c'")
        }
      }
    }
    parens
  }

  // ------------------------------------------------------------ parser
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Tok = toks(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(kind: String, text: String = null): Tok = {
      val t = next()
      if (t.kind != kind || (text != null && t.text != text))
        fail(s"expected ${Option(text).getOrElse(kind)}, got '${t.text}'")
      t
    }
    private def at(text: String): Boolean =
      (peek.kind == "OP" || Keywords(peek.kind)) && peek.text == text
    private def accept(text: String): Boolean =
      if (at(text)) { pos += 1; true } else false
    private def skipNewlines(): Unit =
      while (peek.kind == "NEWLINE") pos += 1

    def parseModule(): Seq[Stmt] = {
      val out = Seq.newBuilder[Stmt]
      skipNewlines()
      while (peek.kind != "EOF") { out += statement(); skipNewlines() }
      out.result()
    }

    private def block(): Seq[Stmt] = {
      // either `: stmt` inline or an indented suite
      if (peek.kind == "NEWLINE") {
        skipNewlines()
        expect("INDENT")
        val out = Seq.newBuilder[Stmt]
        skipNewlines()
        while (peek.kind != "DEDENT" && peek.kind != "EOF") {
          out += statement(); skipNewlines()
        }
        if (peek.kind == "DEDENT") pos += 1
        out.result()
      } else Seq(statement())
    }

    private def statement(): Stmt = peek.kind match {
      case "def" =>
        next()
        val name = expect("NAME").text
        expect("OP", "(")
        val params = Seq.newBuilder[(String, Option[Expr])]
        if (!at(")")) {
          var more = true
          while (more) {
            val p = expect("NAME").text
            val dflt = if (accept("=")) Some(expr()) else None
            params += ((p, dflt))
            more = accept(",") && !at(")")
          }
        }
        expect("OP", ")")
        expect("OP", ":")
        SDef(name, params.result(), block())
      case "return" =>
        next()
        if (peek.kind == "NEWLINE" || peek.kind == "EOF" || peek.kind == "DEDENT") SRet(None)
        else SRet(Some(exprOrTuple()))
      case "if" =>
        next()
        val cases = Seq.newBuilder[(Expr, Seq[Stmt])]
        val c = expr(); expect("OP", ":")
        cases += ((c, block()))
        var els: Seq[Stmt] = Nil
        var done = false
        while (!done) {
          skipNewlines()
          if (peek.kind == "elif") {
            next(); val c2 = expr(); expect("OP", ":"); cases += ((c2, block()))
          } else if (peek.kind == "else") {
            next(); expect("OP", ":"); els = block(); done = true
          } else done = true
        }
        SIf(cases.result(), els)
      case "for" =>
        next()
        val vars = Seq.newBuilder[String]
        vars += expect("NAME").text
        while (accept(",")) vars += expect("NAME").text
        expect("in")
        val it = exprOrTuple()
        expect("OP", ":")
        SFor(vars.result(), it, block())
      case "while" =>
        next(); val c = expr(); expect("OP", ":"); SWhile(c, block())
      case "break" => next(); SBreak
      case "continue" => next(); SContinue
      case "pass" => next(); SPass
      case _ =>
        val first = exprOrTuple()
        val augOps = Seq("+=", "-=", "*=", "/=", "//=", "%=")
        if (at("=")) {
          // possibly chained targets: a = b = expr  (rare) — treat as one
          next()
          val v = exprOrTuple()
          SAssign(Seq(first), "=", v)
        } else augOps.find(at) match {
          case Some(op) => next(); SAssign(Seq(first), op, exprOrTuple())
          case None => SExpr(first)
        }
    }

    /** Top-level comma makes a tuple: `a, b = ...` / `return x, y`. */
    private def exprOrTuple(): Expr = {
      val first = expr()
      if (at(",")) {
        val items = Seq.newBuilder[Expr]
        items += first
        while (accept(",") && !peek.text.equals("=") && peek.kind != "NEWLINE" &&
          peek.kind != "EOF" && peek.kind != "DEDENT")
          items += expr()
        ETuple(items.result())
      } else first
    }

    def expr(): Expr = {
      val e = orExpr()
      if (peek.kind == "if") { // conditional: a if c else b
        next()
        val c = orExpr()
        expect("else")
        val f = expr()
        ECond(c, e, f)
      } else e
    }

    private def orExpr(): Expr = {
      var l = andExpr()
      while (peek.kind == "or") { next(); l = EBoolOp("or", l, andExpr()) }
      l
    }
    private def andExpr(): Expr = {
      var l = notExpr()
      while (peek.kind == "and") { next(); l = EBoolOp("and", l, notExpr()) }
      l
    }
    private def notExpr(): Expr =
      if (peek.kind == "not") { next(); EUnary("not", notExpr()) } else cmpExpr()

    private def cmpExpr(): Expr = {
      val first = addExpr()
      val rest = Seq.newBuilder[(String, Expr)]
      var more = true
      while (more) {
        val op =
          if (at("==")) "==" else if (at("!=")) "!=" else if (at("<=")) "<="
          else if (at(">=")) ">=" else if (at("<")) "<" else if (at(">")) ">"
          else if (peek.kind == "in") "in"
          else if (peek.kind == "not" && toks(pos + 1).kind == "in") "not in"
          else null
        if (op == null) more = false
        else {
          if (op == "not in") { pos += 2 } else pos += 1
          rest += ((op, addExpr()))
        }
      }
      val r = rest.result()
      if (r.isEmpty) first else ECmp(first, r)
    }

    private def addExpr(): Expr = {
      var l = mulExpr()
      var more = true
      while (more) {
        if (at("+")) { next(); l = EBin("+", l, mulExpr()) }
        else if (at("-")) { next(); l = EBin("-", l, mulExpr()) }
        else more = false
      }
      l
    }
    private def mulExpr(): Expr = {
      var l = unary()
      var more = true
      while (more) {
        if (at("*")) { next(); l = EBin("*", l, unary()) }
        else if (at("//")) { next(); l = EBin("//", l, unary()) }
        else if (at("/")) { next(); l = EBin("/", l, unary()) }
        else if (at("%")) { next(); l = EBin("%", l, unary()) }
        else more = false
      }
      l
    }
    private def unary(): Expr =
      if (at("-")) { next(); EUnary("-", unary()) }
      else if (at("+")) { next(); unary() }
      else postfix(atom())

    private def postfix(e0: Expr): Expr = {
      var e = e0
      var more = true
      while (more) {
        if (at("(")) {
          next()
          val args = Seq.newBuilder[Expr]
          if (!at(")")) { args += expr(); while (accept(",") && !at(")")) args += expr() }
          expect("OP", ")")
          e = ECall(e, args.result())
        } else if (at("[")) {
          next()
          if (at(":")) {
            next()
            val hi = if (at("]")) None else Some(expr())
            expect("OP", "]")
            e = ESlice(e, None, hi)
          } else {
            val lo = expr()
            if (accept(":")) {
              val hi = if (at("]")) None else Some(expr())
              expect("OP", "]")
              e = ESlice(e, Some(lo), hi)
            } else { expect("OP", "]"); e = EIndex(e, lo) }
          }
        } else if (at(".")) {
          next()
          e = EAttr(e, expect("NAME").text)
        } else more = false
      }
      e
    }

    private def atom(): Expr = {
      val t = peek
      t.kind match {
        case "NUM" =>
          next()
          if (t.text.contains(".") || t.text.toLowerCase.contains("e"))
            ELit(t.text.toDouble)
          else ELit(t.text.toLong)
        case "STR" => next(); ELit(t.text)
        case "True" => next(); ELit(java.lang.Boolean.TRUE)
        case "False" => next(); ELit(java.lang.Boolean.FALSE)
        case "None" => next(); ELit(null)
        case "NAME" => next(); EName(t.text)
        case "OP" if t.text == "(" =>
          next()
          val first = expr()
          if (at(",")) {
            val items = Seq.newBuilder[Expr]; items += first
            while (accept(",") && !at(")")) items += expr()
            expect("OP", ")")
            ETuple(items.result())
          } else { expect("OP", ")"); first }
        case "OP" if t.text == "[" =>
          next()
          if (at("]")) { next(); EList(Nil) }
          else {
            val first = expr()
            if (peek.kind == "for") { // comprehension
              next()
              val vars = Seq.newBuilder[String]
              vars += expect("NAME").text
              while (accept(",")) vars += expect("NAME").text
              expect("in")
              // or-level: the comprehension's own `if` must not read as
              // a conditional expression on the iterable
              val it = orExpr()
              val cond = if (peek.kind == "if") { next(); Some(expr()) } else None
              expect("OP", "]")
              EComp(first, vars.result(), it, cond)
            } else {
              val items = Seq.newBuilder[Expr]; items += first
              while (accept(",") && !at("]")) items += expr()
              expect("OP", "]")
              EList(items.result())
            }
          }
        case "OP" if t.text == "{" =>
          next()
          val pairs = Seq.newBuilder[(Expr, Expr)]
          if (!at("}")) {
            var more = true
            while (more) {
              val k = expr(); expect("OP", ":"); val v = expr()
              pairs += ((k, v))
              more = accept(",") && !at("}")
            }
          }
          expect("OP", "}")
          EDict(pairs.result())
        case _ => fail(s"unexpected token '${t.text.nonEmpty match {
          case true => t.text; case false => t.kind }}'")
      }
    }
  }

  // --------------------------------------------------------------- env
  private final class Env(val parent: Env) {
    private val vars = mutable.HashMap.empty[String, Any]
    def get(n: String): Any = {
      var e: Env = this
      while (e != null) {
        if (e.vars.contains(n)) return e.vars(n)
        e = e.parent
      }
      fail(s"undefined: $n")
    }
    def setLocal(n: String, v: Any): Unit = vars(n) = v
    /** Starlark GlobalReassign: assignment updates the defining scope if
      * the name exists anywhere up the chain, else binds locally.
      */
    def set(n: String, v: Any): Unit = {
      var e: Env = this
      while (e != null) {
        if (e.vars.contains(n)) { e.vars(n) = v; return }
        e = e.parent
      }
      vars(n) = v
    }
  }

  private final case class BreakEx() extends RuntimeException
  private final case class ContinueEx() extends RuntimeException
  private final case class ReturnEx(v: Any) extends RuntimeException

  // ---------------------------------------------------------- evaluate
  private val MaxSteps = 2000000
  private final class Interp {
    private var steps = 0
    private def tick(): Unit = {
      steps += 1
      if (steps > MaxSteps) fail("starlark execution budget exceeded")
    }

    def exec(stmts: Seq[Stmt], env: Env): Unit = stmts.foreach(execOne(_, env))

    private def execOne(s: Stmt, env: Env): Unit = {
      tick()
      s match {
        case SDef(name, params, body) => env.setLocal(name, Fn(name, params, body, env))
        case SRet(e) => throw ReturnEx(e.map(eval(_, env)).orNull)
        case SIf(cases, els) =>
          cases.find { case (c, _) => truth(eval(c, env)) } match {
            case Some((_, body)) => exec(body, env)
            case None => exec(els, env)
          }
        case SFor(vars, iterE, body) =>
          val it = iterate(eval(iterE, env))
          var broke = false
          val iter = it.iterator
          while (iter.hasNext && !broke) {
            bindTargets(vars, iter.next(), env)
            try exec(body, env)
            catch {
              case BreakEx() => broke = true
              case ContinueEx() =>
            }
          }
        case SWhile(c, body) =>
          var broke = false
          while (!broke && truth(eval(c, env))) {
            tick()
            try exec(body, env)
            catch {
              case BreakEx() => broke = true
              case ContinueEx() =>
            }
          }
        case SBreak => throw BreakEx()
        case SContinue => throw ContinueEx()
        case SPass =>
        case SAssign(Seq(target), "=", value) => assign(target, eval(value, env), env)
        case SAssign(Seq(target), op, value) =>
          val cur = eval(target, env)
          val v = binop(op.stripSuffix("="), cur, eval(value, env))
          assign(target, v, env)
        case SAssign(_, _, _) => fail("unsupported assignment")
        case SExpr(e) => eval(e, env)
      }
    }

    private def bindTargets(vars: Seq[String], v: Any, env: Env): Unit =
      if (vars.length == 1) env.set(vars.head, v)
      else v match {
        case t: Vector[Any @unchecked] if t.length == vars.length =>
          vars.zip(t).foreach { case (n, x) => env.set(n, x) }
        case b: mutable.ArrayBuffer[Any @unchecked] if b.length == vars.length =>
          vars.zip(b).foreach { case (n, x) => env.set(n, x) }
        case _ => fail(s"cannot unpack ${typeName(v)} into ${vars.length} names")
      }

    private def assign(target: Expr, v: Any, env: Env): Unit = target match {
      case EName(n) => env.set(n, v)
      case ETuple(items) =>
        val names = items.map { case EName(n) => n; case _ => fail("bad unpack target") }
        bindTargets(names, v, env)
      case EIndex(o, i) =>
        (eval(o, env), eval(i, env)) match {
          case (l: mutable.ArrayBuffer[Any @unchecked], idx: Long) =>
            l(normIdx(idx, l.length)) = v
          case (d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked], k) => d(k) = v
          case (o2, _) => fail(s"cannot index-assign ${typeName(o2)}")
        }
      case _ => fail("bad assignment target")
    }

    def eval(e: Expr, env: Env): Any = {
      tick()
      e match {
        case ELit(v) => v
        case EName(n) => env.get(n)
        case EList(items) => mutable.ArrayBuffer(items.map(eval(_, env)): _*)
        case ETuple(items) => items.map(eval(_, env)).toVector
        case EDict(pairs) =>
          val m = mutable.LinkedHashMap.empty[Any, Any]
          pairs.foreach { case (k, v) => m(eval(k, env)) = eval(v, env) }
          m
        case EUnary("not", x) => java.lang.Boolean.valueOf(!truth(eval(x, env)))
        case EUnary("-", x) => eval(x, env) match {
          case l: Long => -l
          case d: Double => -d
          case v => fail(s"cannot negate ${typeName(v)}")
        }
        case EUnary(op, _) => fail(s"unknown unary $op")
        case EBin(op, l, r) => binop(op, eval(l, env), eval(r, env))
        case EBoolOp("and", l, r) =>
          val lv = eval(l, env); if (!truth(lv)) lv else eval(r, env)
        case EBoolOp("or", l, r) =>
          val lv = eval(l, env); if (truth(lv)) lv else eval(r, env)
        case EBoolOp(op, _, _) => fail(s"unknown boolop $op")
        case ECmp(first, rest) =>
          var l = eval(first, env)
          var ok = true
          rest.foreach { case (op, rE) =>
            if (ok) {
              val r = eval(rE, env)
              ok = compare(op, l, r)
              l = r
            }
          }
          java.lang.Boolean.valueOf(ok)
        case ECond(c, t, f) => if (truth(eval(c, env))) eval(t, env) else eval(f, env)
        case ECall(fE, argEs) => call(eval(fE, env), argEs.map(eval(_, env)))
        case EIndex(oE, iE) => (eval(oE, env), eval(iE, env)) match {
          case (s: String, i: Long) =>
            val k = normIdx(i, s.length); s.substring(k, k + 1)
          case (l: mutable.ArrayBuffer[Any @unchecked], i: Long) => l(normIdx(i, l.length))
          case (t: Vector[Any @unchecked], i: Long) => t(normIdx(i, t.length))
          case (d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked], k) =>
            d.getOrElse(k, fail(s"key ${repr(k)} not in dict"))
          case (o, _) => fail(s"cannot index ${typeName(o)}")
        }
        case ESlice(oE, loE, hiE) =>
          val o = eval(oE, env)
          def bounds(len: Int): (Int, Int) = {
            def clamp(v: Long): Int =
              math.max(0, math.min(len.toLong, if (v < 0) len + v else v)).toInt
            val lo = loE.map(x => clamp(asLong(eval(x, env)))).getOrElse(0)
            val hi = hiE.map(x => clamp(asLong(eval(x, env)))).getOrElse(len)
            (lo, math.max(lo, hi))
          }
          o match {
            case s: String => val (a, b) = bounds(s.length); s.substring(a, b)
            case l: mutable.ArrayBuffer[Any @unchecked] =>
              val (a, b) = bounds(l.length); l.slice(a, b)
            case t: Vector[Any @unchecked] => val (a, b) = bounds(t.length); t.slice(a, b)
            case v => fail(s"cannot slice ${typeName(v)}")
          }
        case EAttr(oE, name) => attr(eval(oE, env), name)
        case EComp(out, vars, iterE, cond) =>
          val res = mutable.ArrayBuffer.empty[Any]
          iterate(eval(iterE, env)).foreach { item =>
            val inner = new Env(env)
            bindComp(vars, item, inner)
            if (cond.forall(c => truth(eval(c, inner)))) res += eval(out, inner)
          }
          res
      }
    }

    private def bindComp(vars: Seq[String], v: Any, env: Env): Unit =
      if (vars.length == 1) env.setLocal(vars.head, v)
      else v match {
        case t: Vector[Any @unchecked] if t.length == vars.length =>
          vars.zip(t).foreach { case (n, x) => env.setLocal(n, x) }
        case b: mutable.ArrayBuffer[Any @unchecked] if b.length == vars.length =>
          vars.zip(b).foreach { case (n, x) => env.setLocal(n, x) }
        case _ => fail("cannot unpack in comprehension")
      }

    def call(f: Any, args: Seq[Any]): Any = f match {
      case Fn(name, params, body, closure) =>
        if (args.length > params.length)
          fail(s"$name() takes ${params.length} arguments, got ${args.length}")
        val env = new Env(closure)
        params.zipWithIndex.foreach { case ((p, dflt), i) =>
          val v =
            if (i < args.length) args(i)
            else dflt.map(eval(_, closure)).getOrElse(
              fail(s"$name() missing argument '$p'"))
          env.setLocal(p, v)
        }
        try { exec(body, env); null }
        catch { case ReturnEx(v) => v }
      case Builtin(_, bf) => bf(args)
      case v => fail(s"${typeName(v)} is not callable")
    }

    private def iterate(v: Any): Seq[Any] = v match {
      case l: mutable.ArrayBuffer[Any @unchecked] => l.toSeq
      case t: Vector[Any @unchecked] => t
      case s: String => s.map(_.toString)
      case d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked] => d.keys.toSeq
      case r: Range => r.map(_.toLong)
      case _ => fail(s"${typeName(v)} is not iterable")
    }

    // -------------------------------------------------------- operators
    private def binop(op: String, l: Any, r: Any): Any = (op, l, r) match {
      case ("+", a: Long, b: Long) => a + b
      case ("+", a, b) if isNum(a) && isNum(b) => asD(a) + asD(b)
      case ("+", a: String, b: String) => a + b
      case ("+", a: mutable.ArrayBuffer[Any @unchecked], b: mutable.ArrayBuffer[Any @unchecked]) =>
        a ++ b
      case ("+", a: Vector[Any @unchecked], b: Vector[Any @unchecked]) => a ++ b
      case ("-", a: Long, b: Long) => a - b
      case ("-", a, b) if isNum(a) && isNum(b) => asD(a) - asD(b)
      case ("*", a: Long, b: Long) => a * b
      case ("*", a, b) if isNum(a) && isNum(b) => asD(a) * asD(b)
      case ("*", a: String, n: Long) => a * math.max(0, n).toInt
      case ("*", n: Long, a: String) => a * math.max(0, n).toInt
      case ("*", a: mutable.ArrayBuffer[Any @unchecked], n: Long) =>
        mutable.ArrayBuffer((0L until math.max(0, n)).flatMap(_ => a): _*)
      case ("/", a, b) if isNum(a) && isNum(b) =>
        if (asD(b) == 0) fail("division by zero") else asD(a) / asD(b)
      case ("//", a: Long, b: Long) =>
        if (b == 0) fail("integer division by zero") else Math.floorDiv(a, b)
      case ("//", a, b) if isNum(a) && isNum(b) =>
        if (asD(b) == 0) fail("division by zero") else math.floor(asD(a) / asD(b))
      case ("%", a: Long, b: Long) =>
        if (b == 0) fail("integer modulo by zero") else Math.floorMod(a, b)
      case ("%", a, b) if isNum(a) && isNum(b) =>
        val m = asD(a) % asD(b); if (m != 0 && (m < 0) != (asD(b) < 0)) m + asD(b) else m
      case _ => fail(s"unsupported operands for $op: ${typeName(l)} and ${typeName(r)}")
    }

    private def compare(op: String, l: Any, r: Any): Boolean = op match {
      case "==" => eq2(l, r)
      case "!=" => !eq2(l, r)
      case "in" => contains(r, l)
      case "not in" => !contains(r, l)
      case _ =>
        val c = (l, r) match {
          case (a, b) if isNum(a) && isNum(b) => java.lang.Double.compare(asD(a), asD(b))
          case (a: String, b: String) => a.compareTo(b)
          case (a: mutable.ArrayBuffer[Any @unchecked], b: mutable.ArrayBuffer[Any @unchecked]) =>
            cmpSeq(a.toSeq, b.toSeq)
          case _ => fail(s"cannot compare ${typeName(l)} with ${typeName(r)}")
        }
        op match {
          case "<" => c < 0
          case "<=" => c <= 0
          case ">" => c > 0
          case ">=" => c >= 0
          case _ => fail(s"unknown comparison $op")
        }
    }

    private def cmpSeq(a: Seq[Any], b: Seq[Any]): Int = {
      val it = a.iterator.zip(b.iterator)
      while (it.hasNext) {
        val (x, y) = it.next()
        if (!eq2(x, y)) return if (compare("<", x, y)) -1 else 1
      }
      java.lang.Integer.compare(a.length, b.length)
    }

    private def contains(container: Any, item: Any): Boolean = container match {
      case s: String => item match {
        case sub: String => s.contains(sub)
        case v => fail(s"'in <string>' requires string, got ${typeName(v)}")
      }
      case l: mutable.ArrayBuffer[Any @unchecked] => l.exists(eq2(_, item))
      case t: Vector[Any @unchecked] => t.exists(eq2(_, item))
      case d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked] => d.contains(item)
      case v => fail(s"${typeName(v)} does not support 'in'")
    }

    // ------------------------------------------------- attribute lookup
    private def attr(o: Any, name: String): Any = (o, name) match {
      case (s: String, _) => strMethod(s, name)
      case (l: mutable.ArrayBuffer[Any @unchecked], _) => listMethod(l, name)
      case (d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked], _) => dictMethod(d, name)
      case _ => fail(s"${typeName(o)} has no attribute '$name'")
    }

    private def strMethod(s: String, name: String): Any = name match {
      case "upper" => Builtin("upper", _ => s.toUpperCase)
      case "lower" => Builtin("lower", _ => s.toLowerCase)
      case "strip" => Builtin("strip", _ => s.trim)
      case "lstrip" => Builtin("lstrip", _ => s.dropWhile(_.isWhitespace))
      case "rstrip" => Builtin("rstrip", _ => s.reverse.dropWhile(_.isWhitespace).reverse)
      case "split" => Builtin("split", {
        case Seq() => mutable.ArrayBuffer(s.trim.split("\\s+").toSeq.filter(_.nonEmpty): _*)
        case Seq(sep: String) =>
          mutable.ArrayBuffer(s.split(java.util.regex.Pattern.quote(sep), -1).toSeq: _*)
        case _ => fail("split() takes at most 1 argument")
      })
      case "join" => Builtin("join", {
        case Seq(items) => iterate(items).map {
          case x: String => x
          case v => fail(s"join: expected string, got ${typeName(v)}")
        }.mkString(s)
        case _ => fail("join() takes 1 argument")
      })
      case "replace" => Builtin("replace", {
        case Seq(a: String, b: String) => s.replace(a, b)
        case _ => fail("replace() takes 2 string arguments")
      })
      case "startswith" => Builtin("startswith", {
        case Seq(p: String) => java.lang.Boolean.valueOf(s.startsWith(p))
        case _ => fail("startswith() takes 1 string argument")
      })
      case "endswith" => Builtin("endswith", {
        case Seq(p: String) => java.lang.Boolean.valueOf(s.endsWith(p))
        case _ => fail("endswith() takes 1 string argument")
      })
      case "find" => Builtin("find", {
        case Seq(p: String) => s.indexOf(p).toLong
        case _ => fail("find() takes 1 string argument")
      })
      case "count" => Builtin("count", {
        case Seq(p: String) =>
          if (p.isEmpty) (s.length + 1).toLong
          else {
            var n = 0L; var i = s.indexOf(p)
            while (i >= 0) { n += 1; i = s.indexOf(p, i + p.length) }
            n
          }
        case _ => fail("count() takes 1 string argument")
      })
      case "format" => Builtin("format", args => {
        val it = args.iterator
        """\{\}""".r.replaceAllIn(s, _ =>
          java.util.regex.Matcher.quoteReplacement(
            if (it.hasNext) str(it.next()) else fail("format: not enough arguments")))
      })
      case "isdigit" => Builtin("isdigit",
        _ => java.lang.Boolean.valueOf(s.nonEmpty && s.forall(_.isDigit)))
      case "isalpha" => Builtin("isalpha",
        _ => java.lang.Boolean.valueOf(s.nonEmpty && s.forall(_.isLetter)))
      case "title" => Builtin("title",
        _ => s.split("(?<= )|(?= )", -1).map(w =>
          if (w.nonEmpty && w.head.isLetter) w.head.toUpper + w.tail.toLowerCase else w)
          .mkString)
      case _ => fail(s"string has no method '$name'")
    }

    private def listMethod(l: mutable.ArrayBuffer[Any], name: String): Any = name match {
      case "append" => Builtin("append", { case Seq(v) => l += v; null })
      case "extend" => Builtin("extend", { case Seq(v) => l ++= iterate(v); null })
      case "insert" => Builtin("insert", {
        case Seq(i: Long, v) => l.insert(math.min(math.max(0, i).toInt, l.length), v); null
        case _ => fail("insert(i, v)")
      })
      case "pop" => Builtin("pop", {
        case Seq() => if (l.isEmpty) fail("pop from empty list") else l.remove(l.length - 1)
        case Seq(i: Long) => l.remove(normIdx(i, l.length))
        case _ => fail("pop([i])")
      })
      case "remove" => Builtin("remove", { case Seq(v) =>
        val i = l.indexWhere(eq2(_, v))
        if (i < 0) fail("remove: value not in list") else { l.remove(i); null }
      })
      case "index" => Builtin("index", { case Seq(v) =>
        val i = l.indexWhere(eq2(_, v))
        if (i < 0) fail("index: value not in list") else i.toLong
      })
      case "clear" => Builtin("clear", _ => { l.clear(); null })
      case _ => fail(s"list has no method '$name'")
    }

    private def dictMethod(d: mutable.LinkedHashMap[Any, Any], name: String): Any = name match {
      case "get" => Builtin("get", {
        case Seq(k) => d.getOrElse(k, null)
        case Seq(k, dflt) => d.getOrElse(k, dflt)
        case _ => fail("get(k[, default])")
      })
      case "keys" => Builtin("keys", _ => mutable.ArrayBuffer(d.keys.toSeq: _*))
      case "values" => Builtin("values", _ => mutable.ArrayBuffer(d.values.toSeq: _*))
      case "items" => Builtin("items",
        _ => mutable.ArrayBuffer(d.toSeq.map { case (k, v) => Vector(k, v) }: _*))
      case "pop" => Builtin("pop", {
        case Seq(k) => d.remove(k).getOrElse(fail(s"pop: key ${repr(k)} not found"))
        case Seq(k, dflt) => d.remove(k).getOrElse(dflt)
        case _ => fail("pop(k[, default])")
      })
      case "setdefault" => Builtin("setdefault", {
        case Seq(k, v) => d.getOrElseUpdate(k, v)
        case Seq(k) => d.getOrElseUpdate(k, null)
        case _ => fail("setdefault(k[, v])")
      })
      case "update" => Builtin("update", {
        case Seq(o: mutable.LinkedHashMap[Any @unchecked, Any @unchecked]) =>
          o.foreach { case (k, v) => d(k) = v }; null
        case _ => fail("update(dict)")
      })
      case "clear" => Builtin("clear", _ => { d.clear(); null })
      case _ => fail(s"dict has no method '$name'")
    }

    // --------------------------------------------------------- builtins
    def rootEnv(): Env = {
      val env = new Env(null)
      def b(name: String)(f: Seq[Any] => Any): Unit = env.setLocal(name, Builtin(name, f))
      b("len") {
        case Seq(s: String) => s.length.toLong
        case Seq(l: mutable.ArrayBuffer[Any @unchecked]) => l.length.toLong
        case Seq(t: Vector[Any @unchecked]) => t.length.toLong
        case Seq(d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked]) => d.size.toLong
        case Seq(v) => fail(s"len: ${typeName(v)} has no length")
        case _ => fail("len() takes 1 argument")
      }
      b("str") { case Seq(v) => str(v); case _ => fail("str() takes 1 argument") }
      b("repr") { case Seq(v) => repr(v); case _ => fail("repr() takes 1 argument") }
      b("int") {
        case Seq(v: Long) => v
        case Seq(d: Double) => d.toLong
        case Seq(s: String) => try s.trim.toLong catch {
          case _: NumberFormatException => fail(s"int: invalid literal ${repr(s)}")
        }
        case Seq(bv: java.lang.Boolean) => if (bv) 1L else 0L
        case _ => fail("int() takes 1 argument")
      }
      b("float") {
        case Seq(v: Long) => v.toDouble
        case Seq(d: Double) => d
        case Seq(s: String) => try s.trim.toDouble catch {
          case _: NumberFormatException => fail(s"float: invalid literal ${repr(s)}")
        }
        case _ => fail("float() takes 1 argument")
      }
      b("bool") { case Seq(v) => java.lang.Boolean.valueOf(truth(v)); case _ => fail("bool(v)") }
      b("list") {
        case Seq() => mutable.ArrayBuffer.empty[Any]
        case Seq(v) => mutable.ArrayBuffer(iterate(v): _*)
        case _ => fail("list() takes at most 1 argument")
      }
      b("dict") {
        case Seq() => mutable.LinkedHashMap.empty[Any, Any]
        case Seq(d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked]) => d.clone()
        case _ => fail("dict() takes at most 1 argument")
      }
      b("range") {
        case Seq(n: Long) => Range(0, n.toInt)
        case Seq(a: Long, z: Long) => Range(a.toInt, z.toInt)
        case Seq(a: Long, z: Long, st: Long) =>
          if (st == 0) fail("range step cannot be 0") else Range(a.toInt, z.toInt, st.toInt)
        case _ => fail("range(stop | start, stop[, step])")
      }
      b("enumerate") { case Seq(v) =>
        mutable.ArrayBuffer(iterate(v).zipWithIndex.map {
          case (x, i) => Vector(i.toLong, x) }: _*)
      }
      b("sorted") { case Seq(v) =>
        mutable.ArrayBuffer(iterate(v).sortWith((a, c) => compare("<", a, c)): _*)
      }
      b("reversed") { case Seq(v) => mutable.ArrayBuffer(iterate(v).reverse: _*) }
      b("min") {
        case Seq(v) => iterate(v).reduceLeftOption((a, c) =>
          if (compare("<", c, a)) c else a).getOrElse(fail("min: empty"))
        case args if args.length > 1 => args.reduceLeft((a, c) =>
          if (compare("<", c, a)) c else a)
        case _ => fail("min: empty")
      }
      b("max") {
        case Seq(v) => iterate(v).reduceLeftOption((a, c) =>
          if (compare("<", a, c)) c else a).getOrElse(fail("max: empty"))
        case args if args.length > 1 => args.reduceLeft((a, c) =>
          if (compare("<", a, c)) c else a)
        case _ => fail("max: empty")
      }
      b("sum") { case Seq(v) =>
        iterate(v).foldLeft(0L: Any)((acc, x) => binop("+", acc, x))
      }
      b("abs") {
        case Seq(v: Long) => math.abs(v)
        case Seq(d: Double) => math.abs(d)
        case _ => fail("abs() takes a number")
      }
      b("any") { case Seq(v) => java.lang.Boolean.valueOf(iterate(v).exists(truth)) }
      b("all") { case Seq(v) => java.lang.Boolean.valueOf(iterate(v).forall(truth)) }
      b("zip") { case args =>
        val seqs = args.map(iterate)
        val n = if (seqs.isEmpty) 0 else seqs.map(_.length).min
        mutable.ArrayBuffer((0 until n).map(i => seqs.map(_(i)).toVector): _*)
      }
      b("type") { case Seq(v) => typeName(v); case _ => fail("type() takes 1 argument") }
      b("fail") { args => fail(args.map(str).mkString(" ")) }
      b("print") { _ => null } // the reference routes print to its log
      // the reference's predeclared jq bridge (func_builtin_starlark.go:74-92):
      // runs the same jq engine as the SQL `jq` function and marshals the
      // result back to a JSON string
      b("jq") {
        case Seq(program: String, data: String) => Jq.jqEval(data, program)
        case _ => fail("jq(program, data)")
      }
      env
    }
  }

  // ----------------------------------------------------------- helpers
  private def isNum(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[Double]
  private def asD(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case _ => fail(s"${typeName(v)} is not a number")
  }
  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case _ => fail(s"${typeName(v)} is not an int")
  }
  private def normIdx(i: Long, len: Int): Int = {
    val k = if (i < 0) len + i else i
    if (k < 0 || k >= len) fail(s"index $i out of range (len $len)")
    k.toInt
  }
  private def truth(v: Any): Boolean = v match {
    case null => false
    case bv: java.lang.Boolean => bv.booleanValue()
    case l: Long => l != 0
    case d: Double => d != 0
    case s: String => s.nonEmpty
    case l: mutable.ArrayBuffer[_] => l.nonEmpty
    case t: Vector[_] => t.nonEmpty
    case d: mutable.LinkedHashMap[_, _] => d.nonEmpty
    case _ => true
  }
  private def eq2(l: Any, r: Any): Boolean = (l, r) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (a, b) if isNum(a) && isNum(b) => asD(a) == asD(b)
    case (a: mutable.ArrayBuffer[Any @unchecked], b: mutable.ArrayBuffer[Any @unchecked]) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => eq2(x, y) }
    case (a: Vector[Any @unchecked], b: Vector[Any @unchecked]) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => eq2(x, y) }
    case (a, b) => a == b
  }
  private def typeName(v: Any): String = v match {
    case null => "NoneType"
    case _: java.lang.Boolean => "bool"
    case _: Long => "int"
    case _: Double => "float"
    case _: String => "string"
    case _: mutable.ArrayBuffer[_] => "list"
    case _: Vector[_] => "tuple"
    case _: mutable.LinkedHashMap[_, _] => "dict"
    case _: Fn | _: Builtin => "function"
    case _: Range => "range"
    case _ => v.getClass.getSimpleName
  }

  /** starlark `str()`: strings raw, everything else the repr. */
  private def str(v: Any): String = v match {
    case s: String => s
    case _ => repr(v)
  }

  /** starlark `Value.String()` — the REPR the reference appends to the
    * result vector (`func_builtin_starlark.go:165`): strings come back
    * double-quoted with Go escaping.
    */
  private def repr(v: Any): String = v match {
    case null => "None"
    case bv: java.lang.Boolean => if (bv) "True" else "False"
    case l: Long => l.toString
    case d: Double =>
      if (d == math.floor(d) && !d.isInfinite && math.abs(d) < 1e17) {
        val l = d.toLong
        s"$l.0"
      } else d.toString
    case s: String =>
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      sb.append("\"").toString
    case l: mutable.ArrayBuffer[Any @unchecked] =>
      l.map(repr).mkString("[", ", ", "]")
    case t: Vector[Any @unchecked] =>
      if (t.length == 1) s"(${repr(t.head)},)" else t.map(repr).mkString("(", ", ", ")")
    case d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked] =>
      d.map { case (k, v2) => s"${repr(k)}: ${repr(v2)}" }.mkString("{", ", ", "}")
    case f: Fn => s"<function ${f.name}>"
    case bf: Builtin => s"<built-in function ${bf.name}>"
    case r: Range => s"range(${r.start}, ${r.end}, ${r.step})"
    case other => other.toString
  }

  // ------------------------------------------------------- public API
  private val astCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Stmt]]()

  /** `starlark(code, arg)`: execute the module, call `main(arg)`, render
    * the result with repr semantics (the reference appends
    * `res.String()`). NULL arg → NULL. Errors raise [[StarlarkError]].
    */
  def starlarkEval(code: String, arg: String): String = {
    if (code == null) fail("starlark code cannot be null.")
    if (arg == null) return null
    val ast = astCache.computeIfAbsent(code,
      c => new Parser(lex(c)).parseModule())
    val interp = new Interp
    val globals = new Env(interp.rootEnv())
    interp.exec(ast, globals)
    val main =
      try globals.get("main")
      catch { case _: StarlarkError => fail("failed to parse starlark program") }
    val res = interp.call(main, Seq(arg))
    if (res == null) null else repr(res)
  }

  /** `try_starlark`: EVALUATION errors → NULL; parse errors still
    * raise — MO's try wraps only execution (func_starlark.result:
    * `try_starlark` with a mis-indented program reports the parse
    * error, reference `:153-159`).
    */
  def tryStarlarkEval(code: String, arg: String): String = {
    if (code == null) fail("starlark code cannot be null.")
    astCache.computeIfAbsent(code, c => new Parser(lex(c)).parseModule())
    try starlarkEval(code, arg)
    catch { case _: Exception => null }
  }

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    ft.udf("starlark", udf(starlarkEval _))
    ft.udf("try_starlark", udf(tryStarlarkEval _))
  }
}
