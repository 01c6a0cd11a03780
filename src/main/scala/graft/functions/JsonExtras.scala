package graft.functions

import graft.GraftExtensions.Arity
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.Column

/** MySQL JSON inspection/containment functions beyond Spark's built-ins
  * (reference registry `list_builtIn.go` JSON family: `json_type
  * json_valid json_quote json_unquote json_contains json_depth
  * json_merge_preserve` — SURVEY §2.13). MySQL semantics, including the
  * places DuckDB diverges (e.g. MySQL's JSON_CONTAINS does NOT find a
  * bare scalar inside an object's values; DuckDB does).
  */
object JsonExtras {

  // FAIL_ON_TRAILING_TOKENS: MySQL treats '{"k":1}x' as invalid JSON;
  // Jackson's default readTree would silently stop at the first value
  @transient private lazy val mapper = {
    val m = new ObjectMapper()
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m
  }

  private def parse(s: String): Option[JsonNode] =
    if (s == null) None
    else try Some(mapper.readTree(s)) catch { case _: Exception => None }

  /** MySQL JSON_TYPE: OBJECT ARRAY BOOLEAN NULL INTEGER DOUBLE STRING. */
  def jsonType(doc: String): String =
    parse(doc).map { n =>
      if (n.isObject) "OBJECT"
      else if (n.isArray) "ARRAY"
      else if (n.isBoolean) "BOOLEAN"
      else if (n.isNull) "NULL"
      else if (n.isIntegralNumber) "INTEGER"
      else if (n.isNumber) "DOUBLE"
      else "STRING"
    }.orNull

  def jsonValid(doc: String): Option[Boolean] =
    // Jackson parses "" to a MissingNode without throwing — not valid JSON
    if (doc == null) None
    else Some(parse(doc).exists(n => !n.isMissingNode))

  /** JSON_QUOTE: wrap a raw string as a JSON string literal. */
  def jsonQuote(s: String): String =
    if (s == null) null
    else mapper.writeValueAsString(mapper.getNodeFactory.textNode(s))

  /** JSON_UNQUOTE: unwrap a JSON string literal; other values pass
    * through as their JSON text (MySQL behavior).
    */
  def jsonUnquote(doc: String): String =
    if (doc == null) null
    else parse(doc) match {
      case Some(n) if n.isTextual => n.asText()
      case _ => doc
    }

  /** Numeric-aware scalar equality (5 == 5.0, MySQL-style). */
  private def scalarEq(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) a.decimalValue().compareTo(b.decimalValue()) == 0
    else a == b

  /** MySQL JSON_CONTAINS (no path argument):
    *  - target array: candidate array → every candidate element is
    *    contained in target; otherwise → contained in SOME element.
    *  - target object: candidate must be an object and every candidate
    *    pair must be contained under the same key.
    *  - scalars: numeric-aware equality.
    */
  def containsNode(target: JsonNode, cand: JsonNode): Boolean =
    if (target.isArray) {
      val elems = (0 until target.size).map(target.get)
      if (cand.isArray) (0 until cand.size).forall(i =>
        elems.exists(e => containsNode(e, cand.get(i))))
      else elems.exists(e => containsNode(e, cand))
    } else if (target.isObject) {
      cand.isObject && {
        val it = cand.properties().iterator()
        var ok = true
        while (ok && it.hasNext) {
          val e = it.next()
          val tv = target.get(e.getKey)
          ok = tv != null && containsNode(tv, e.getValue)
        }
        ok
      }
    } else !cand.isContainerNode && scalarEq(target, cand)

  def jsonContains(target: String, cand: String): Option[Boolean] =
    for { t <- parse(target); c <- parse(cand) } yield containsNode(t, c)

  /** MySQL JSON_CONTAINS_PATH(doc, 'one'|'all', paths...): member paths
    * of the `$.a.b` form (array subscripts out of scope, as in
    * [[JsonMutation]]).
    */
  def jsonContainsPath(doc: String, mode: String, paths: Seq[String]): Option[Boolean] = {
    if (mode == null || paths == null) return None
    // full MySQL path grammar incl. wildcards/**, scalar autowrap
    // (func_json_contains_path.result: '$[0]' matches a scalar doc).
    // A NULL path only forces NULL when the non-null paths were not
    // already decisive ('one' + a hit → 1; 'all' + a miss → 0).
    parse(doc).flatMap { root =>
      val hits = paths.map(p =>
        if (p == null) None else Some(JsonTail.pathMatches(root, p)))
      if (mode.toLowerCase == "one") {
        if (hits.exists(_.contains(true))) Some(true)
        else if (hits.contains(None)) None
        else Some(false)
      } else {
        if (hits.exists(_.contains(false))) Some(false)
        else if (hits.contains(None)) None
        else Some(true)
      }
    }
  }

  /** MySQL JSON_DEPTH: scalar or empty container = 1, else 1 + max child. */
  def jsonDepth(doc: String): Option[Int] = {
    def depth(n: JsonNode): Int =
      if (!n.isContainerNode || n.isEmpty) 1
      else {
        var m = 0
        val it = n.elements()
        while (it.hasNext) m = math.max(m, depth(it.next()))
        // object values, not keys, drive depth; elements() covers both
        1 + m
      }
    parse(doc).map(depth)
  }

  /** MySQL JSON_MERGE_PRESERVE: arrays concatenate, objects merge with
    * same-key values merged recursively, scalars collect into arrays.
    */
  def mergePreserveNodes(a: JsonNode, b: JsonNode): JsonNode =
    if (a.isArray && b.isArray) {
      val out = a.deepCopy[ArrayNode]()
      out.addAll(b.deepCopy[ArrayNode]())
      out
    } else if (a.isArray) { val out = a.deepCopy[ArrayNode](); out.add(b.deepCopy[JsonNode]()); out }
    else if (b.isArray) {
      val out = mapper.createArrayNode()
      out.add(a.deepCopy[JsonNode]())
      out.addAll(b.deepCopy[ArrayNode]())
      out
    } else if (a.isObject && b.isObject) {
      val out = a.deepCopy[ObjectNode]()
      val it = b.properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (out.has(e.getKey))
          out.set[ObjectNode](e.getKey, mergePreserveNodes(out.get(e.getKey), e.getValue))
        else out.set[ObjectNode](e.getKey, e.getValue.deepCopy[JsonNode]())
      }
      out
    } else {
      val out = mapper.createArrayNode()
      out.add(a.deepCopy[JsonNode]())
      out.add(b.deepCopy[JsonNode]())
      out
    }

  def jsonMergePreserve(a: String, b: String): String =
    (for { x <- parse(a); y <- parse(b) }
      yield mapper.writeValueAsString(mergePreserveNodes(x, y))).orNull

  // ---------------------------------------------- Column API (native expr)
  import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}

  private def ex(fn: String, cols: Column*): Column =
    asCol(JsonScalarExpr(fn, cols.map(asExpr)))

  def json_type(doc: Column): Column = ex("json_type", doc)
  def json_valid(doc: Column): Column = ex("json_valid", doc)
  def json_quote(s: Column): Column = ex("json_quote", s)
  def json_unquote(doc: Column): Column = ex("json_unquote", doc)
  def json_contains(target: Column, cand: Column): Column = ex("json_contains", target, cand)
  def json_depth(doc: Column): Column = ex("json_depth", doc)
  def json_merge_preserve(a: Column, b: Column): Column = ex("json_merge_preserve", a, b)

  /** `paths` is an ARRAY column (`array(lit("$.a"), ...)`). */
  def json_contains_path(doc: Column, mode: Column, paths: Column): Column =
    ex("json_contains_path", doc, mode, paths)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    Seq("json_type" -> "json_type(doc)", "json_valid" -> "json_valid(doc)",
      "json_quote" -> "json_quote(s)", "json_unquote" -> "json_unquote(doc)",
      "json_contains" -> "json_contains(target, cand)", "json_depth" -> "json_depth(doc)",
      "json_merge_preserve" -> "json_merge_preserve(a, b)"
    ).foreach { case (name, usage) =>
      ft.native(name, usage, JsonScalarExpr.arity(name))(JsonScalarExpr(name, _))
    }
    // MySQL's variadic form: json_contains_path(doc, 'one'|'all', p, ...)
    ft.native("json_contains_path", "json_contains_path(doc, one_or_all, path, ...)",
      Arity.atLeast(3))(JsonScalarExpr.containsPath)
  }
}
