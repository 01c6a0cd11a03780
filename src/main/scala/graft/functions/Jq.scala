package graft.functions

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import scala.collection.mutable.ListBuffer

/** `jq(doc, program)` / `try_jq(doc, program)` — a jq-program evaluator
  * over JSON text, after the reference's gojq-backed builtins
  * (`pkg/sql/plan/function/func_jq.go`, test corpus
  * `test/distributed/cases/function/func_jq.sql`). Output contract
  * matches the reference: every output value is rendered as compact
  * JSON (object keys sorted) and concatenated with no separator;
  * evaluation/parse errors raise for `jq` and yield NULL for `try_jq`.
  *
  * Supported subset (the reference embeds full gojq): identity, field
  * access (`.a`, `.["k"]`, optional `?`), index/slice (`.[0]`,
  * `.[2:4]`, negatives), iteration (`.[]`), pipe, comma, recursive
  * descent (`..`), array/object construction (computed keys,
  * `{user}` shorthand), arithmetic (`+ - * / %` with jq null/array/
  * object semantics), comparisons with jq's type ordering, `and`/`or`/
  * `not`, `if/elif/else/end`, `try/catch`, simple-path assignment
  * (`.a += 1`), and builtins `length keys keys_unsorted type add
  * select empty not floor ceil sqrt tostring tonumber has map min max
  * join error`. Unsupported gojq forms (variables, `def`, `reduce`,
  * `foreach`, alternative `//`) raise a parse error, which `try_jq`
  * maps to NULL — the same observable behavior as an unsupported
  * token in the reference's error tests.
  */
object Jq {

  final class JqError(val msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new JqError(msg)

  @transient private lazy val mapper = {
    val m = new ObjectMapper()
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m
  }
  private val nf = JsonNodeFactory.instance

  // ------------------------------------------------------------ tokens
  private sealed trait Tok
  private case class TPunct(s: String) extends Tok
  private case class TIdent(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TNum(s: String) extends Tok

  private def tokenize(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done) {
          if (i >= n) fail("unexpected end of string literal")
          val ch = src.charAt(i)
          if (ch == '"') { done = true; i += 1 }
          else if (ch == '\\') {
            if (i + 1 >= n) fail("bad escape")
            src.charAt(i + 1) match {
              case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case 'b' => sb += '\b'; case 'f' => sb += '\f'
              case 'u' =>
                if (i + 5 >= n) fail("bad unicode escape")
                sb += Integer.parseInt(src.substring(i + 2, i + 6), 16).toChar
                i += 4
              case other => fail(s"bad escape \\$other")
            }
            i += 2
          } else { sb += ch; i += 1 }
        }
        out += TStr(sb.toString)
      } else if (c.isDigit) {
        val j = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.' ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > j &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        out += TNum(src.substring(j, i))
      } else if (c.isLetter || c == '_') {
        val j = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        out += TIdent(src.substring(j, i))
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        two match {
          case ".." | "==" | "!=" | "<=" | ">=" | "+=" | "-=" | "*=" | "/=" | "%=" | "//" =>
            out += TPunct(two); i += 2
          case _ =>
            c match {
              case '.' | '[' | ']' | '{' | '}' | '(' | ')' | '|' | ',' | ':' | ';' |
                   '?' | '=' | '+' | '-' | '*' | '/' | '%' | '<' | '>' | '$' =>
                out += TPunct(c.toString); i += 1
              case other => fail(s"""unexpected token "$other"""")
            }
        }
      }
    }
    out.result()
  }

  // --------------------------------------------------------------- AST
  private sealed trait F
  private case object Identity extends F
  private case object RecurseAll extends F
  private case class Field(name: String, opt: Boolean) extends F
  private case class IndexF(idx: F, opt: Boolean) extends F
  private case class SliceF(from: Option[F], to: Option[F], opt: Boolean) extends F
  private case class Iterate(opt: Boolean) extends F
  private case class Pipe(l: F, r: F) extends F
  private case class CommaF(l: F, r: F) extends F
  private case class Lit(v: JsonNode) extends F
  private case class ArrF(inner: Option[F]) extends F
  private case class ObjF(entries: List[(Either[String, F], Option[F])]) extends F
  private case class Neg(f: F) extends F
  private case class BinOp(op: String, l: F, r: F) extends F
  private case class IfF(cases: List[(F, F)], els: Option[F]) extends F
  private case class TryF(body: F, catcher: Option[F]) extends F
  private case class Call(name: String, args: List[F]) extends F
  private case class Assign(op: String, path: F, rhs: F) extends F
  private case class VarF(name: String) extends F
  private case class ReduceF(src: F, v: String, init: F, update: F) extends F
  private case class ForeachF(src: F, v: String, init: F, update: F,
      extract: Option[F]) extends F

  // ------------------------------------------------------------ parser
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def at(s: String): Boolean = peek.contains(TPunct(s))
    private def atIdent(s: String): Boolean = peek.contains(TIdent(s))
    private def expect(s: String): Unit =
      if (at(s)) pos += 1 else fail(s"""expected "$s"""")

    def parseProgram(): F = {
      if (toks.isEmpty) fail("""missing query (try ".")""")
      val f = parsePipe()
      if (pos < toks.length) fail(s"""unexpected token after program""")
      f
    }

    def parsePipe(): F = {
      val l = parseComma()
      if (at("|")) { next(); Pipe(l, parsePipe()) } else l
    }

    private def parseComma(): F = {
      var l = parseAssign()
      while (at(",")) { next(); l = CommaF(l, parseAssign()) }
      l
    }

    private def parseAssign(): F = {
      val l = parseOr()
      peek match {
        case Some(TPunct(op)) if op == "=" || op == "+=" || op == "-=" || op == "*=" || op == "/=" || op == "%=" =>
          next(); Assign(op, l, parseAssign())
        case _ => l
      }
    }

    private def parseOr(): F = {
      var l = parseAnd()
      while (atIdent("or")) { next(); l = BinOp("or", l, parseAnd()) }
      l
    }

    private def parseAnd(): F = {
      var l = parseCmp()
      while (atIdent("and")) { next(); l = BinOp("and", l, parseCmp()) }
      l
    }

    private def parseCmp(): F = {
      val l = parseAdd()
      peek match {
        case Some(TPunct(op)) if op == "==" || op == "!=" || op == "<" || op == "<=" || op == ">" || op == ">=" =>
          next(); BinOp(op, l, parseAdd())
        case _ => l
      }
    }

    private def parseAdd(): F = {
      var l = parseMul()
      var going = true
      while (going) peek match {
        case Some(TPunct(op)) if op == "+" || op == "-" => next(); l = BinOp(op, l, parseMul())
        case _ => going = false
      }
      l
    }

    private def parseMul(): F = {
      var l = parseUnary()
      var going = true
      while (going) peek match {
        case Some(TPunct(op)) if op == "*" || op == "/" || op == "%" => next(); l = BinOp(op, l, parseUnary())
        case _ => going = false
      }
      l
    }

    private def parseUnary(): F =
      if (at("-")) { next(); Neg(parseUnary()) }
      else if (at("+")) { next(); parseUnary() } // unary plus (gojq tolerates)
      else parsePostfix()

    /** primary followed by suffix chain: `.foo`, `[...]`, `[]`, `?`. */
    private def parsePostfix(): F = {
      var f = parsePrimary()
      var going = true
      while (going) peek match {
        case Some(TPunct(".")) if pos + 1 < toks.length && toks(pos + 1).isInstanceOf[TIdent] =>
          next(); val TIdent(name) = next(): @unchecked
          f = chain(f, Field(name, optMark()))
        case Some(TPunct(".")) if pos + 1 < toks.length && toks(pos + 1) == TPunct("[") =>
          next() // `.["k"]` — bracket handled below
        case Some(TPunct("[")) =>
          next()
          if (at("]")) { next(); f = chain(f, Iterate(optMark())) }
          else if (at(":")) { // [:to]
            next(); val to = parsePipe(); expect("]")
            f = chain(f, SliceF(None, Some(to), optMark()))
          } else {
            val first = parsePipe()
            if (at(":")) {
              next()
              if (at("]")) { next(); f = chain(f, SliceF(Some(first), None, optMark())) }
              else { val to = parsePipe(); expect("]"); f = chain(f, SliceF(Some(first), Some(to), optMark())) }
            } else { expect("]"); f = chain(f, IndexF(first, optMark())) }
          }
        case Some(TPunct("?")) =>
          next(); f = TryF(f, None)
        case _ => going = false
      }
      f
    }

    private def optMark(): Boolean = if (at("?")) { next(); true } else false

    private def chain(base: F, suffix: F): F =
      if (base == Identity) suffix else Pipe(base, suffix)

    private def parsePrimary(): F = peek match {
      case None => fail("unexpected end of program")
      case Some(TPunct("..")) => next(); RecurseAll
      case Some(TPunct(".")) =>
        // bare `.`; `.foo` / `.[...]` are picked up by the postfix loop
        next()
        peek match {
          case Some(t: TIdent) => next(); Field(t.s, optMark())
          case Some(TStr(s)) => next(); Field(s, optMark()) // ."key"
          case _ => Identity
        }
      case Some(TNum(s)) =>
        next()
        if (s.contains('.') || s.contains('e') || s.contains('E')) Lit(nf.numberNode(s.toDouble))
        else
          try Lit(nf.numberNode(s.toLong))
          catch { case _: NumberFormatException => Lit(nf.numberNode(s.toDouble)) }
      case Some(TStr(s)) => next(); Lit(nf.textNode(s))
      case Some(TPunct("[")) =>
        next()
        if (at("]")) { next(); ArrF(None) }
        else { val inner = parsePipe(); expect("]"); ArrF(Some(inner)) }
      case Some(TPunct("{")) => next(); parseObject()
      case Some(TPunct("(")) => next(); val f = parsePipe(); expect(")"); f
      case Some(TIdent("true")) => next(); Lit(nf.booleanNode(true))
      case Some(TIdent("false")) => next(); Lit(nf.booleanNode(false))
      case Some(TIdent("null")) => next(); Lit(nf.nullNode())
      case Some(TIdent("if")) => next(); parseIf()
      case Some(TIdent("try")) =>
        next()
        val body = parseUnary()
        if (atIdent("catch")) { next(); TryF(body, Some(parseUnary())) }
        else TryF(body, None)
      case Some(TPunct("$")) =>
        next()
        peek match {
          case Some(TIdent(name)) => next(); VarF(name)
          case _ => fail("""expected variable name after "$"""")
        }
      // `reduce SRC as $x (init; update)` / `foreach SRC as $x
      // (init; update[; extract])` — func_jq.result
      case Some(TIdent(kw)) if kw == "reduce" || kw == "foreach" =>
        next()
        val src = parsePostfix()
        if (!atIdent("as")) fail(s"""expected "as" in $kw""")
        next()
        expect("$")
        val v = peek match {
          case Some(TIdent(name)) => next(); name
          case _ => fail("""expected variable name after "$"""")
        }
        expect("(")
        val init = parsePipe()
        expect(";")
        val update = parsePipe()
        if (kw == "reduce") { expect(")"); ReduceF(src, v, init, update) }
        else {
          val extract = if (at(";")) { next(); Some(parsePipe()) } else None
          expect(")")
          ForeachF(src, v, init, update, extract)
        }
      case Some(TIdent(kw)) if kw == "def" || kw == "as" || kw == "import" =>
        fail(s"""unsupported token "$kw"""")
      case Some(TIdent(name)) =>
        next()
        val args =
          if (at("(")) {
            next()
            val buf = ListBuffer(parsePipe())
            while (at(";")) { next(); buf += parsePipe() }
            expect(")")
            buf.toList
          } else Nil
        Call(name, args)
      case Some(t) => fail(s"""unexpected token "$t"""")
    }

    /** Object construction body: `{` already consumed. Entries are
      * `ident`, `"str"`, `{user}` shorthand, computed `(expr)` keys;
      * values after `:` parse at jq's ExpD level (pipes of unary
      * terms — `{a: 1 + 2}` needs parens, as in jq itself).
      */
    private def parseObject(): F = {
      val entries = ListBuffer.empty[(Either[String, F], Option[F])]
      if (at("}")) { next(); return ObjF(Nil) }
      var going = true
      while (going) {
        val key: Either[String, F] = peek match {
          case Some(TIdent(name)) => next(); Left(name)
          case Some(TStr(s)) => next(); Left(s)
          case Some(TPunct("(")) => next(); val kf = parsePipe(); expect(")"); Right(kf)
          case other => fail(s"""unexpected token in object construction: $other""")
        }
        val value: Option[F] =
          if (at(":")) { next(); Some(parseObjVal()) }
          else key match {
            case Left(_) => None
            case Right(_) => fail("computed object key requires a value")
          }
        entries += ((key, value))
        if (at(",")) next() else going = false
      }
      expect("}")
      ObjF(entries.toList)
    }

    /** jq ExpD: `-`-prefixed / postfix terms joined by `|` only. */
    private def parseObjVal(): F = {
      var f = parseUnary()
      while (at("|")) { next(); f = Pipe(f, parseUnary()) }
      f
    }

    private def parseIf(): F = {
      val cases = ListBuffer.empty[(F, F)]
      val c0 = parsePipe()
      if (!atIdent("then")) fail("""expected "then"""")
      next()
      cases += ((c0, parsePipe()))
      var els: Option[F] = None
      var going = true
      while (going) peek match {
        case Some(TIdent("elif")) =>
          next(); val c = parsePipe()
          if (!atIdent("then")) fail("""expected "then"""")
          next(); cases += ((c, parsePipe()))
        case Some(TIdent("else")) => next(); els = Some(parsePipe()); going = false
        case Some(TIdent("end")) => going = false
        case _ => fail("""expected "elif"/"else"/"end"""")
      }
      if (!atIdent("end")) fail("""expected "end"""")
      next()
      IfF(cases.toList, els)
    }
  }

  // -------------------------------------------------------------- eval
  private def typeName(n: JsonNode): String =
    if (n.isNull) "null" else if (n.isBoolean) "boolean"
    else if (n.isNumber) "number" else if (n.isTextual) "string"
    else if (n.isArray) "array" else "object"

  private def truthy(n: JsonNode): Boolean = !(n.isNull || (n.isBoolean && !n.asBoolean))

  /** jq total order: null < false < true < numbers < strings < arrays < objects. */
  private def cmp(a: JsonNode, b: JsonNode): Int = {
    def rank(n: JsonNode): Int =
      if (n.isNull) 0 else if (n.isBoolean && !n.asBoolean) 1 else if (n.isBoolean) 2
      else if (n.isNumber) 3 else if (n.isTextual) 4 else if (n.isArray) 5 else 6
    val ra = rank(a); val rb = rank(b)
    if (ra != rb) Integer.compare(ra, rb)
    else if (a.isNumber) a.decimalValue.compareTo(b.decimalValue)
    else if (a.isTextual) a.asText.compareTo(b.asText)
    else if (a.isArray) {
      val n = math.min(a.size, b.size)
      var i = 0
      while (i < n) {
        val c = cmp(a.get(i), b.get(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(a.size, b.size)
    } else if (a.isObject) {
      val ka = keysOf(a).sorted; val kb = keysOf(b).sorted
      val kc = cmp(strArray(ka), strArray(kb))
      if (kc != 0) kc
      else ka.iterator.map(k => cmp(a.get(k), b.get(k))).find(_ != 0).getOrElse(0)
    } else 0
  }

  private def strArray(ss: Seq[String]): ArrayNode = {
    val a = nf.arrayNode(); ss.foreach(a.add); a
  }

  private def keysOf(n: JsonNode): List[String] = {
    val it = n.fieldNames()
    val buf = ListBuffer.empty[String]
    while (it.hasNext) buf += it.next()
    buf.toList
  }

  private def compact(n: JsonNode): String = render(n)

  /** Compact render; object keys sorted (the reference's bytejson
    * normalizes key order — `{user, title: ...}` prints title first).
    * Integral doubles < 1e15 print without the fraction, matching
    * jq/gojq integer preservation.
    */
  private def render(n: JsonNode): String = {
    val sb = new StringBuilder
    def go(x: JsonNode): Unit =
      if (x.isArray) {
        sb += '['
        var first = true
        x.forEach { e => if (!first) sb += ','; first = false; go(e) }
        sb += ']'
      } else if (x.isObject) {
        sb += '{'
        var first = true
        keysOf(x).sorted.foreach { k =>
          if (!first) sb += ','
          first = false
          sb.append(mapper.writeValueAsString(nf.textNode(k))); sb += ':'
          go(x.get(k))
        }
        sb += '}'
      } else if (x.isDouble || x.isFloat) {
        val d = x.asDouble
        if (d == math.rint(d) && math.abs(d) < 1e15 && !d.isInfinite) sb.append(d.toLong.toString)
        else sb.append(d.toString)
      } else sb.append(mapper.writeValueAsString(x))
    go(n)
    sb.toString
  }

  private def numNode(d: Double): JsonNode =
    if (d == math.rint(d) && math.abs(d) < 1e15) nf.numberNode(d.toLong) else nf.numberNode(d)

  private def arith(op: String, a: JsonNode, b: JsonNode): JsonNode = op match {
    case "+" =>
      if (a.isNull) b
      else if (b.isNull) a
      else if (a.isNumber && b.isNumber)
        if (a.isIntegralNumber && b.isIntegralNumber) nf.numberNode(a.asLong + b.asLong)
        else numNode(a.asDouble + b.asDouble)
      else if (a.isTextual && b.isTextual) nf.textNode(a.asText + b.asText)
      else if (a.isArray && b.isArray) {
        val out = a.deepCopy[ArrayNode](); out.addAll(b.deepCopy[ArrayNode]()); out
      } else if (a.isObject && b.isObject) {
        val out = a.deepCopy[ObjectNode]()
        keysOf(b).foreach(k => out.set[ObjectNode](k, b.get(k).deepCopy[JsonNode]()))
        out
      } else fail(s"${typeName(a)} (${render(a)}) and ${typeName(b)} (${render(b)}) cannot be added")
    case "-" =>
      if (a.isNumber && b.isNumber)
        if (a.isIntegralNumber && b.isIntegralNumber) nf.numberNode(a.asLong - b.asLong)
        else numNode(a.asDouble - b.asDouble)
      else if (a.isArray && b.isArray) {
        val out = nf.arrayNode()
        a.forEach { e => if (!exists(b, e)) out.add(e.deepCopy[JsonNode]()) }
        out
      } else fail(s"${typeName(a)} and ${typeName(b)} cannot be subtracted")
    case "*" =>
      if (a.isNumber && b.isNumber)
        if (a.isIntegralNumber && b.isIntegralNumber) nf.numberNode(a.asLong * b.asLong)
        else numNode(a.asDouble * b.asDouble)
      else if (a.isObject && b.isObject) deepMerge(a, b)
      else fail(s"${typeName(a)} and ${typeName(b)} cannot be multiplied")
    case "/" =>
      if (a.isNumber && b.isNumber) {
        if (b.asDouble == 0) fail(s"${render(a)} and ${render(b)} cannot be divided because the divisor is zero")
        numNode(a.asDouble / b.asDouble)
      } else fail(s"${typeName(a)} and ${typeName(b)} cannot be divided")
    case "%" =>
      if (a.isNumber && b.isNumber) {
        if (b.asLong == 0) fail("cannot mod by zero")
        nf.numberNode(a.asLong % b.asLong)
      } else fail(s"${typeName(a)} and ${typeName(b)} cannot be divided")
  }

  private def exists(arr: JsonNode, v: JsonNode): Boolean = {
    var found = false
    arr.forEach { e => if (!found && cmp(e, v) == 0) found = true }
    found
  }

  private def deepMerge(a: JsonNode, b: JsonNode): JsonNode = {
    val out = a.deepCopy[ObjectNode]()
    keysOf(b).foreach { k =>
      val bv = b.get(k)
      if (out.has(k) && out.get(k).isObject && bv.isObject)
        out.set[ObjectNode](k, deepMerge(out.get(k), bv))
      else out.set[ObjectNode](k, bv.deepCopy[JsonNode]())
    }
    out
  }

  private def run(f: F, in: JsonNode): List[JsonNode] = f match {
    case Identity => List(in)
    case RecurseAll =>
      val buf = ListBuffer.empty[JsonNode]
      def walk(n: JsonNode): Unit = {
        buf += n
        if (n.isArray) n.forEach(walk)
        else if (n.isObject) keysOf(n).foreach(k => walk(n.get(k)))
      }
      walk(in)
      buf.toList
    case Field(name, opt) =>
      if (in.isNull) List(nf.nullNode())
      else if (in.isObject) List(Option(in.get(name)).getOrElse(nf.nullNode()))
      else if (opt) Nil
      else fail(s"expected an object but got: ${typeName(in)} (${render(in)})")
    case IndexF(idxF, opt) =>
      run(idxF, in).flatMap { idx =>
        if (idx.isTextual) run(Field(idx.asText, opt), in)
        else if (idx.isNumber) {
          if (in.isNull) List(nf.nullNode())
          else if (in.isArray) {
            val i0 = idx.asInt
            val i = if (i0 < 0) in.size + i0 else i0
            List(if (i >= 0 && i < in.size) in.get(i) else nf.nullNode())
          } else if (opt) Nil
          else fail(s"expected an array but got: ${typeName(in)} (${render(in)})")
        } else if (opt) Nil
        else fail(s"cannot index with ${typeName(idx)}")
      }
    case SliceF(fromF, toF, opt) =>
      if (in.isNull) List(nf.nullNode())
      else if (!in.isArray && !in.isTextual) {
        if (opt) Nil else fail(s"cannot slice ${typeName(in)}")
      } else {
        val len = if (in.isArray) in.size else in.asText.length
        def bound(of: Option[F], dflt: Int): List[Int] = of match {
          case None => List(dflt)
          case Some(g) => run(g, in).map { n =>
            if (!n.isNumber) fail("slice bound must be a number")
            val v = n.asInt
            val x = if (v < 0) len + v else v
            math.max(0, math.min(len, x))
          }
        }
        for { lo <- bound(fromF, 0); hi <- bound(toF, len) } yield {
          val h = math.max(lo, hi)
          if (in.isArray) {
            val out = nf.arrayNode()
            (lo until h).foreach(i => out.add(in.get(i)))
            out
          } else nf.textNode(in.asText.substring(lo, h))
        }
      }
    case Iterate(opt) =>
      if (in.isArray) {
        val buf = ListBuffer.empty[JsonNode]; in.forEach(buf += _); buf.toList
      } else if (in.isObject) keysOf(in).sorted.map(in.get)
      else if (opt) Nil
      else fail(s"cannot iterate over: ${typeName(in)} (${render(in)})")
    case Pipe(l, r) => run(l, in).flatMap(run(r, _))
    case CommaF(l, r) => run(l, in) ++ run(r, in)
    case Lit(v) => List(v)
    case ArrF(None) => List(nf.arrayNode())
    case ArrF(Some(inner)) =>
      val out = nf.arrayNode()
      run(inner, in).foreach(v => out.add(v.deepCopy[JsonNode]()))
      List(out)
    case ObjF(entries) =>
      // cartesian product over each entry's (key, value) output streams
      def expand(es: List[(Either[String, F], Option[F])]): List[List[(String, JsonNode)]] = es match {
        case Nil => List(Nil)
        case (keySpec, valF) :: rest =>
          val keys: List[String] = keySpec match {
            case Left(k) => List(k)
            case Right(kf) => run(kf, in).map { n =>
              if (!n.isTextual) fail(s"object key must be a string, got ${typeName(n)}")
              n.asText
            }
          }
          val restCombos = expand(rest)
          for {
            k <- keys
            v <- valF match {
              case Some(g) => run(g, in)
              case None => run(Field(k, opt = false), in)
            }
            tail <- restCombos
          } yield (k, v) :: tail
      }
      expand(entries).map { pairs =>
        val out = nf.objectNode()
        pairs.foreach { case (k, v) => out.set[ObjectNode](k, v.deepCopy[JsonNode]()) }
        out
      }
    case Neg(g) =>
      run(g, in).map { n =>
        if (!n.isNumber) fail(s"cannot negate ${typeName(n)}")
        if (n.isIntegralNumber) nf.numberNode(-n.asLong) else nf.numberNode(-n.asDouble)
      }
    case BinOp("and", l, r) =>
      run(l, in).flatMap(a => if (!truthy(a)) List(nf.booleanNode(false)) else run(r, in).map(b => nf.booleanNode(truthy(b))))
    case BinOp("or", l, r) =>
      run(l, in).flatMap(a => if (truthy(a)) List(nf.booleanNode(true)) else run(r, in).map(b => nf.booleanNode(truthy(b))))
    case BinOp(op, l, r) =>
      for { b <- run(r, in); a <- run(l, in) } yield op match {
        case "==" => nf.booleanNode(cmp(a, b) == 0)
        case "!=" => nf.booleanNode(cmp(a, b) != 0)
        case "<" => nf.booleanNode(cmp(a, b) < 0)
        case "<=" => nf.booleanNode(cmp(a, b) <= 0)
        case ">" => nf.booleanNode(cmp(a, b) > 0)
        case ">=" => nf.booleanNode(cmp(a, b) >= 0)
        case _ => arith(op, a, b)
      }
    case IfF(cases, els) =>
      def evalCases(cs: List[(F, F)]): List[JsonNode] = cs match {
        case Nil => els.map(run(_, in)).getOrElse(List(in))
        case (c, t) :: rest =>
          run(c, in).flatMap(cv => if (truthy(cv)) run(t, in) else evalCases(rest))
      }
      evalCases(cases)
    case TryF(body, catcher) =>
      try run(body, in)
      catch {
        case e: JqError =>
          catcher match {
            case Some(c) => run(c, nf.textNode(e.msg))
            case None => Nil
          }
      }
    case Assign(op, pathF, rhsF) =>
      val segs = pathSegments(pathF)
      val rhs = run(rhsF, in) match {
        case v :: _ => v
        case Nil => fail("assignment right-hand side produced no value")
      }
      val root = in.deepCopy[JsonNode]()
      val cur = getPath(root, segs)
      val nv = if (op == "=") rhs else arith(op.substring(0, 1), cur, rhs)
      List(setPath(root, segs, nv))
    case Call(name, args) => builtin(name, args, in)
    case VarF(name) =>
      varEnv.value.get(name) match {
        case Some(v) => List(v)
        case None => fail(s"$$$name is not defined")
      }
    case ReduceF(src, v, init, update) =>
      var acc = run(init, in).headOption.getOrElse(nf.nullNode(): JsonNode)
      run(src, in).foreach { item =>
        varEnv.withValue(varEnv.value + (v -> item)) {
          acc = run(update, acc).headOption.getOrElse(nf.nullNode(): JsonNode)
        }
      }
      List(acc)
    case ForeachF(src, v, init, update, extract) =>
      var acc = run(init, in).headOption.getOrElse(nf.nullNode(): JsonNode)
      run(src, in).flatMap { item =>
        varEnv.withValue(varEnv.value + (v -> item)) {
          acc = run(update, acc).headOption.getOrElse(nf.nullNode(): JsonNode)
          extract match {
            case Some(e) => run(e, acc)
            case None => List(acc)
          }
        }
      }
  }

  /** jq variable bindings for reduce/foreach — DynamicVariable keeps
    * the scope per evaluation thread (the UDF runs concurrently).
    */
  private val varEnv =
    new scala.util.DynamicVariable[Map[String, JsonNode]](Map.empty)

  /** Flatten a parsed `.a.b[0]` chain into concrete path segments for
    * assignment (`.a += 1`). Only literal field/index steps qualify.
    */
  private def pathSegments(f: F): List[Either[String, Int]] = f match {
    case Field(n, _) => List(Left(n))
    case IndexF(Lit(v), _) if v.isNumber => List(Right(v.asInt))
    case IndexF(Lit(v), _) if v.isTextual => List(Left(v.asText))
    case Pipe(l, r) => pathSegments(l) ++ pathSegments(r)
    case Identity => Nil
    case _ => fail("unsupported assignment path")
  }

  private def getPath(root: JsonNode, segs: List[Either[String, Int]]): JsonNode =
    segs.foldLeft(root) {
      case (n, Left(k)) => if (n != null && n.isObject && n.has(k)) n.get(k) else nf.nullNode()
      case (n, Right(i)) => if (n != null && n.isArray && i >= 0 && i < n.size) n.get(i) else nf.nullNode()
    }

  private def setPath(root: JsonNode, segs: List[Either[String, Int]], v: JsonNode): JsonNode =
    segs match {
      case Nil => v
      case Left(k) :: rest =>
        if (!root.isObject) fail(s"cannot set field of ${typeName(root)}")
        val o = root.asInstanceOf[ObjectNode]
        val child = if (o.has(k)) o.get(k) else nf.nullNode()
        o.set[ObjectNode](k, setPath(child, rest, v))
        o
      case Right(i) :: rest =>
        if (!root.isArray) fail(s"cannot set index of ${typeName(root)}")
        val a = root.asInstanceOf[ArrayNode]
        while (a.size <= i) a.add(nf.nullNode())
        a.set(i, setPath(a.get(i), rest, v))
        a
    }

  private def builtin(name: String, args: List[F], in: JsonNode): List[JsonNode] = (name, args) match {
    case ("empty", Nil) => Nil
    case ("not", Nil) => List(nf.booleanNode(!truthy(in)))
    case ("length", Nil) =>
      List(
        if (in.isNull) nf.numberNode(0L)
        else if (in.isTextual) nf.numberNode(in.asText.codePointCount(0, in.asText.length).toLong)
        else if (in.isArray || in.isObject) nf.numberNode(in.size.toLong)
        else if (in.isNumber) {
          if (in.isIntegralNumber) nf.numberNode(math.abs(in.asLong)) else nf.numberNode(math.abs(in.asDouble))
        } else fail(s"${typeName(in)} has no length"))
    case ("keys", Nil) | ("keys_unsorted", Nil) =>
      if (in.isObject) {
        val ks = if (name == "keys") keysOf(in).sorted else keysOf(in)
        List(strArray(ks))
      } else if (in.isArray) {
        val a = nf.arrayNode(); (0 until in.size).foreach(i => a.add(i.toLong)); List(a)
      } else fail(s"${typeName(in)} has no keys")
    case ("type", Nil) => List(nf.textNode(typeName(in)))
    case ("add", Nil) =>
      if (!in.isArray) fail("add requires an array")
      var acc: JsonNode = nf.nullNode()
      in.forEach(e => acc = arith("+", acc, e))
      List(acc)
    case ("select", List(p)) =>
      run(p, in).flatMap(v => if (truthy(v)) List(in) else Nil)
    case ("map", List(g)) => run(ArrF(Some(Pipe(Iterate(opt = false), g))), in)
    case ("has", List(k)) =>
      run(k, in).map { kn =>
        if (in.isObject && kn.isTextual) nf.booleanNode(in.has(kn.asText))
        else if (in.isArray && kn.isNumber) nf.booleanNode(kn.asInt >= 0 && kn.asInt < in.size)
        else fail("has() requires object+string or array+number")
      }
    case ("floor", Nil) => List(nf.numberNode(math.floor(asNum(in)).toLong))
    case ("ceil", Nil) => List(nf.numberNode(math.ceil(asNum(in)).toLong))
    case ("sqrt", Nil) => List(numNode(math.sqrt(asNum(in))))
    case ("fabs", Nil) => List(numNode(math.abs(asNum(in))))
    case ("tostring", Nil) =>
      List(nf.textNode(if (in.isTextual) in.asText else render(in)))
    case ("tonumber", Nil) =>
      if (in.isNumber) List(in)
      else if (in.isTextual)
        try {
          val s = in.asText
          if (s.contains('.') || s.contains('e') || s.contains('E')) List(nf.numberNode(s.toDouble))
          else List(nf.numberNode(s.toLong))
        } catch { case _: NumberFormatException => fail(s"cannot parse '${in.asText}' as number") }
      else fail(s"cannot convert ${typeName(in)} to number")
    case ("min", Nil) =>
      if (!in.isArray) fail("min requires an array")
      if (in.isEmpty) List(nf.nullNode())
      else {
        var best = in.get(0)
        in.forEach(e => if (cmp(e, best) < 0) best = e)
        List(best)
      }
    case ("max", Nil) =>
      if (!in.isArray) fail("max requires an array")
      if (in.isEmpty) List(nf.nullNode())
      else {
        var best = in.get(0)
        in.forEach(e => if (cmp(e, best) > 0) best = e)
        List(best)
      }
    case ("join", List(sepF)) =>
      run(sepF, in).map { sep =>
        if (!in.isArray || !sep.isTextual) fail("join requires array input and string sep")
        val parts = ListBuffer.empty[String]
        in.forEach { e =>
          parts += (if (e.isNull) "" else if (e.isTextual) e.asText else render(e))
        }
        nf.textNode(parts.mkString(sep.asText))
      }
    case ("error", Nil) => fail(if (in.isTextual) in.asText else render(in))
    case ("error", List(m)) =>
      run(m, in).foreach(v => fail(if (v.isTextual) v.asText else render(v)))
      Nil
    case (other, _) => fail(s"""unsupported function "$other"""")
  }

  private def asNum(n: JsonNode): Double =
    if (n.isNumber) n.asDouble else fail(s"${typeName(n)} is not a number")

  // ---------------------------------------------------------- public API
  /** Run a jq program; errors raise [[JqError]] (SQL `jq` semantics). */
  def jqEval(doc: String, program: String): String = {
    if (doc == null || program == null) return null
    val root =
      try mapper.readTree(doc)
      catch { case e: Exception => fail(e.getMessage) }
    if (root == null || root.isMissingNode) fail("unexpected end of JSON input")
    val ast = new Parser(tokenize(program)).parseProgram()
    run(ast, root).map(render).mkString
  }

  /** `try_jq`: any parse/eval error → NULL. */
  def tryJqEval(doc: String, program: String): String =
    try jqEval(doc, program) catch { case _: JqError | _: Exception => null }

  private val jqU = udf(jqEval _)
  private val tryJqU = udf(tryJqEval _)
  def jq(doc: Column, program: Column): Column = jqU(doc, program)
  def try_jq(doc: Column, program: Column): Column = tryJqU(doc, program)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    ft.udf("jq", udf(jqEval _))
    ft.udf("try_jq", udf(tryJqEval _))
  }
}
