package graft.functions

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.Column

import scala.collection.mutable.ListBuffer

/** The MySQL JSON "long tail" beyond [[JsonExtras]]: JSON_VALUE,
  * JSON_LENGTH, JSON_KEYS, JSON_PRETTY, JSON_OVERLAPS,
  * JSON_SCHEMA_VALID and JSON_SCHEMA_VALIDATION_REPORT — reference
  * registry `pkg/sql/plan/function/function_id.go:1100-1111`, impls
  * `func_builtin_json.go` (JsonValue/JsonLength/JsonKeys/JsonPretty/
  * JsonSchemaValid) and `func_builtin_json_overlap.go`.
  *
  * Key reference behaviors mirrored here:
  *  - object keys come back in bytejson's sorted order (plain string
  *    `<`, `bytejson.go:1681`), so JSON_KEYS and JSON_PRETTY sort keys;
  *  - JSON_VALUE unquotes scalars and returns NULL for object/array
  *    results (`func_builtin_json.go:3064`);
  *  - JSON_LENGTH counts container elements, scalars are length 1, and
  *    a missing path yields NULL (`jsonValueLength`);
  *  - JSON_PRETTY uses 2-space indent and `"key": value` separators
  *    (`prettyPrintObject`);
  *  - schema validation is MySQL-flavored JSON Schema; the reference
  *    embeds gojsonschema, we evaluate the common-keyword subset and
  *    report the first failure in MySQL's report shape.
  */
object JsonTail {

  @transient private lazy val mapper = {
    val m = new ObjectMapper()
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m
  }
  private def nf = JsonNodeFactory.instance

  private def parse(s: String): Option[JsonNode] =
    if (s == null) None
    else try Some(mapper.readTree(s)) catch { case _: Exception => None }

  private def keysOf(n: JsonNode): List[String] = {
    val it = n.fieldNames()
    val buf = ListBuffer.empty[String]
    while (it.hasNext) buf += it.next()
    buf.toList
  }

  // ------------------------------------------------------------ JSON path
  /** Parse the simple-path subset the reference's JSON_VALUE accepts
    * (`path.IsSimple()`): `$`, `.member`, `."quoted member"`, `[n]` —
    * no wildcards or ranges.
    */
  private[functions] def parsePath(path: String): Option[List[Either[String, Int]]] = {
    if (path == null || path.isEmpty || path.charAt(0) != '$') return None
    val segs = ListBuffer.empty[Either[String, Int]]
    var i = 1
    val n = path.length
    while (i < n) {
      path.charAt(i) match {
        case '.' =>
          i += 1
          if (i < n && path.charAt(i) == '"') {
            val j = path.indexOf('"', i + 1)
            if (j < 0) return None
            segs += Left(path.substring(i + 1, j)); i = j + 1
          } else {
            val j0 = i
            while (i < n && path.charAt(i) != '.' && path.charAt(i) != '[') i += 1
            if (i == j0) return None
            segs += Left(path.substring(j0, i))
          }
        case '[' =>
          val j = path.indexOf(']', i)
          if (j < 0) return None
          val body = path.substring(i + 1, j).trim
          try segs += Right(body.toInt)
          catch { case _: NumberFormatException => return None }
          i = j + 1
        case _ => return None
      }
    }
    Some(segs.toList)
  }

  /** Query a parsed doc with a simple path; None = path missing. */
  private def query(root: JsonNode, segs: List[Either[String, Int]]): Option[JsonNode] = {
    var node = root
    for (s <- segs) s match {
      case Left(k) =>
        if (!node.isObject || !node.has(k)) return None
        node = node.get(k)
      case Right(i) =>
        if (!node.isArray || i < 0 || i >= node.size) return None
        node = node.get(i)
    }
    Some(node)
  }

  // ------------------------------------------ extended (wildcard) paths
  /** MySQL's full path grammar for JSON_EXTRACT (reference
    * `func_builtin_json.go` / BVT `function/func_json_extract.result`):
    * `.member`, `.*`, `[n]`, `[last]`, `[last-n]`, `[*]`,
    * `[a to b]`, and the `**` descent prefix. Wildcard segments make
    * the result an ARRAY of every match (a range always does, even
    * `[0 to 0]`); index access autowraps a non-array as `[value]`.
    */
  private[functions] sealed trait XSeg
  private case class XMember(k: String) extends XSeg
  private case object XMemberWild extends XSeg
  private case class XIdx(fromLast: Boolean, off: Int) extends XSeg
  private case object XIdxWild extends XSeg
  private case class XRange(lo: XIdx, hi: XIdx) extends XSeg
  private case object XDescend extends XSeg

  private[functions] def parsePathX(path: String): Option[List[XSeg]] = {
    if (path == null || path.isEmpty || path.charAt(0) != '$') return None
    val segs = ListBuffer.empty[XSeg]
    var i = 1
    val n = path.length
    def idxOf(body: String): Option[XIdx] = {
      val b = body.trim
      if (b == "last") Some(XIdx(fromLast = true, 0))
      else if (b.startsWith("last-"))
        b.drop(5).trim.toIntOption.map(XIdx(fromLast = true, _))
      else b.toIntOption.filter(_ >= 0).map(XIdx(fromLast = false, _))
    }
    while (i < n) {
      path.charAt(i) match {
        case '*' if i + 1 < n && path.charAt(i + 1) == '*' =>
          segs += XDescend; i += 2
        case '.' if i + 2 < n && path.charAt(i + 1) == '*' && path.charAt(i + 2) == '*' =>
          segs += XDescend; i += 3
        case '.' =>
          i += 1
          if (i < n && path.charAt(i) == '*') { segs += XMemberWild; i += 1 }
          else if (i < n && path.charAt(i) == '"') {
            val j = path.indexOf('"', i + 1)
            if (j < 0) return None
            segs += XMember(path.substring(i + 1, j)); i = j + 1
          } else {
            val j0 = i
            while (i < n && path.charAt(i) != '.' && path.charAt(i) != '[' &&
              path.charAt(i) != '*') i += 1
            if (i == j0) return None
            segs += XMember(path.substring(j0, i))
          }
        case '[' =>
          val j = path.indexOf(']', i)
          if (j < 0) return None
          val body = path.substring(i + 1, j).trim
          if (body == "*") segs += XIdxWild
          else if (body.contains(" to ")) {
            val parts = body.split(" to ")
            if (parts.length != 2) return None
            (idxOf(parts(0)), idxOf(parts(1))) match {
              case (Some(a), Some(b)) => segs += XRange(a, b)
              case _ => return None
            }
          } else idxOf(body) match {
            case Some(x) => segs += x
            case None => return None
          }
          i = j + 1
        case _ => return None
      }
    }
    // `**` must be followed by another segment (MySQL rejects trailing)
    if (segs.nonEmpty && segs.last == XDescend) None else Some(segs.toList)
  }

  private def hasWild(segs: List[XSeg]): Boolean = segs.exists {
    case XMemberWild | XIdxWild | XDescend | _: XRange => true
    case _ => false
  }

  private def descendants(n: JsonNode): List[JsonNode] = {
    val out = ListBuffer.empty[JsonNode]
    def walk(x: JsonNode): Unit = {
      out += x
      if (x.isArray) (0 until x.size).foreach(i => walk(x.get(i)))
      else if (x.isObject) keysOf(x).foreach(k => walk(x.get(k)))
    }
    walk(n)
    out.toList
  }

  private def queryX(node: JsonNode, segs: List[XSeg]): List[JsonNode] = segs match {
    case Nil => List(node)
    case XMember(k) :: rest =>
      if (node.isObject && node.has(k)) queryX(node.get(k), rest) else Nil
    case XMemberWild :: rest =>
      if (node.isObject) keysOf(node).flatMap(k => queryX(node.get(k), rest)) else Nil
    case XIdx(fromLast, off) :: rest =>
      if (node.isArray) {
        val i = if (fromLast) node.size - 1 - off else off
        if (i >= 0 && i < node.size) queryX(node.get(i), rest) else Nil
      } else if (!fromLast && off == 0) queryX(node, rest) // scalar autowrap
      else if (fromLast && off == 0) queryX(node, rest)
      else Nil
    case XIdxWild :: rest =>
      if (node.isArray) (0 until node.size).toList.flatMap(i => queryX(node.get(i), rest))
      else Nil
    case XRange(lo, hi) :: rest =>
      val size = if (node.isArray) node.size else 1
      def resolve(x: XIdx) = if (x.fromLast) size - 1 - x.off else x.off
      val (a, b) = (math.max(0, resolve(lo)), math.min(size - 1, resolve(hi)))
      if (node.isArray) (a to b).toList.flatMap(i => queryX(node.get(i), rest))
      else if (a <= 0 && b >= 0) queryX(node, rest) // scalar autowrap
      else Nil
    case XDescend :: rest =>
      descendants(node).flatMap(d => queryX(d, rest))
  }

  // ------------------------------------------------------------ functions
  /** MySQL JSON_EXTRACT: JSON text of the node(s) at path — strings stay
    * quoted, containers serialize; a wildcard/range path collects every
    * match into an array; missing → NULL (reference
    * `func_builtin_json.go` JsonExtract).
    */
  def jsonExtract(doc: String, path: String): String =
    (for { root <- parse(doc); segs <- parsePathX(path) } yield {
      val hits = queryX(root, segs)
      if (hasWild(segs)) {
        if (hits.isEmpty) null
        else {
          val arr = mapper.createArrayNode()
          hits.foreach(arr.add)
          mapper.writeValueAsString(arr)
        }
      } else hits.headOption.map(mapper.writeValueAsString).orNull
    }).flatMap(Option(_)).orNull

  /** MySQL JSON_EXTRACT with MULTIPLE paths: matches from every path
    * collect into one array (always an array with >1 path, even for a
    * single hit); paths with no match are skipped; no hits → NULL.
    */
  def jsonExtractMulti(doc: String, paths: Seq[String]): String =
    (for { root <- parse(doc) } yield {
      val hits = paths.flatMap(p => parsePathX(p).toList.flatMap(queryX(root, _)))
      if (hits.isEmpty) null
      else {
        val arr = mapper.createArrayNode()
        hits.foreach(arr.add)
        mapper.writeValueAsString(arr)
      }
    }).flatMap(Option(_)).orNull

  /** json_extract_float64: numeric node at path as double (reference
    * `func_builtin_json.go` JsonExtractFloat64 fast path).
    */
  def jsonExtractFloat64(doc: String, path: String): Option[Double] =
    for { root <- parse(doc); segs <- parsePathX(path)
          v <- queryX(root, segs).headOption // extended paths autowrap ($[0].a on an object)
          if v.isNumber } yield v.asDouble

  /** JSON_VALUE(doc, path): scalar at path unquoted; object/array or
    * missing path → NULL.
    */
  def jsonValue(doc: String, path: String): String =
    (for {
      root <- parse(doc)
      segs <- parsePath(path)
      v <- query(root, segs)
      if !v.isContainerNode && !v.isNull
    } yield if (v.isTextual) v.asText else mapper.writeValueAsString(v)).orNull

  private def nodeLength(n: JsonNode): Long =
    if (n.isObject || n.isArray) n.size.toLong else 1L

  /** JSON_LENGTH(doc[, path]) — the reference returns NULL for the JSON
    * null scalar (func_json_length.result), unlike MySQL's 1.
    */
  def jsonLength(doc: String): Option[Long] =
    parse(doc).filterNot(_.isNull).map(nodeLength)
  // wildcard paths count matches ('$.a.*' over {"x":1,"y":2} → 2,
  // func_json_length.result)
  /** Whether `path` (full grammar, wildcards allowed) selects anything
    * in the parsed `root` — shared with json_contains_path.
    */
  private[functions] def pathMatches(root: JsonNode, path: String): Boolean =
    parsePathX(path).exists(segs => queryX(root, segs).nonEmpty)

  def jsonLengthPath(doc: String, path: String): Option[Long] =
    for {
      root <- parse(doc); segs <- parsePathX(path)
      hits = queryX(root, segs) if hits.nonEmpty
    } yield if (hasWild(segs)) hits.size.toLong else nodeLength(hits.head)

  /** JSON_KEYS(doc[, path]): object keys as a JSON array in bytejson's
    * sorted order; non-object → NULL.
    */
  def jsonKeys(doc: String): String =
    parse(doc).filter(_.isObject).map { n =>
      keysOf(n).sorted.map(mapper.writeValueAsString(_: String)).mkString("[", ", ", "]")
    }.orNull
  def jsonKeysPath(doc: String, path: String): String =
    (for { root <- parse(doc); segs <- parsePath(path); v <- query(root, segs) }
      yield v).map(v => if (v.isObject)
        keysOf(v).sorted.map(mapper.writeValueAsString(_: String)).mkString("[", ", ", "]")
      else null).orNull

  /** JSON_PRETTY: 2-space indent, `"key": value`, sorted keys. */
  def jsonPretty(doc: String): String = parse(doc).map(prettyNode(_, 0)).orNull

  private def prettyNode(n: JsonNode, depth: Int): String = {
    val sb = new StringBuilder
    prettyTo(sb, n, depth)
    sb.toString
  }

  private def prettyTo(sb: StringBuilder, n: JsonNode, depth: Int): Unit =
    if (n.isObject) {
      if (n.isEmpty) { sb.append("{}"); return }
      val indent = "  " * (depth + 1)
      sb.append("{\n")
      val ks = keysOf(n).sorted
      var i = 0
      while (i < ks.size) {
        sb.append(indent).append(mapper.writeValueAsString(ks(i))).append(": ")
        prettyTo(sb, n.get(ks(i)), depth + 1)
        if (i < ks.size - 1) sb.append(",")
        sb.append("\n")
        i += 1
      }
      sb.append("  " * depth).append("}")
    } else if (n.isArray) {
      if (n.isEmpty) { sb.append("[]"); return }
      val indent = "  " * (depth + 1)
      sb.append("[\n")
      var i = 0
      while (i < n.size) {
        sb.append(indent)
        prettyTo(sb, n.get(i), depth + 1)
        if (i < n.size - 1) sb.append(",")
        sb.append("\n")
        i += 1
      }
      sb.append("  " * depth).append("]")
    } else sb.append(mapper.writeValueAsString(n))

  /** MySQL JSON_OVERLAPS:
    *  - two arrays: share ≥1 element;
    *  - two objects: share ≥1 key-value pair;
    *  - array vs non-array: the value is an element of the array;
    *  - otherwise: equal scalars.
    */
  def overlapsNodes(a: JsonNode, b: JsonNode): Boolean = {
    def eq(x: JsonNode, y: JsonNode): Boolean =
      if (x.isNumber && y.isNumber) x.decimalValue.compareTo(y.decimalValue) == 0
      else x == y
    def inArray(arr: JsonNode, v: JsonNode): Boolean = {
      var i = 0
      while (i < arr.size) { if (eq(arr.get(i), v)) return true; i += 1 }
      false
    }
    if (a.isArray && b.isArray) {
      var i = 0
      while (i < a.size) { if (inArray(b, a.get(i))) return true; i += 1 }
      false
    } else if (a.isObject && b.isObject) {
      keysOf(a).exists(k => b.has(k) && eq(a.get(k), b.get(k)))
    } else if (a.isArray) inArray(a, b)
    else if (b.isArray) inArray(b, a)
    else eq(a, b)
  }

  def jsonOverlaps(a: String, b: String): Option[Boolean] =
    for { x <- parse(a); y <- parse(b) } yield overlapsNodes(x, y)

  // ------------------------------------------------ JSON Schema (subset)
  private case class SchemaFailure(docLoc: String, schemaLoc: String, keyword: String, reason: String)

  /** Validate `doc` against the common-keyword JSON Schema subset:
    * type, enum, const, properties, required, additionalProperties
    * (boolean form), items (single schema), minimum/maximum/
    * exclusiveMinimum/exclusiveMaximum, minLength/maxLength, pattern,
    * minItems/maxItems, uniqueItems. Returns the first failure.
    */
  private def validate(schema: JsonNode, doc: JsonNode,
      docLoc: String, schemaLoc: String): Option[SchemaFailure] = {
    if (!schema.isObject) return None
    def fail(kw: String, reason: String) =
      Some(SchemaFailure(docLoc, schemaLoc, kw, reason))
    def typeName(n: JsonNode): String =
      if (n.isNull) "null" else if (n.isBoolean) "boolean"
      else if (n.isIntegralNumber) "integer" else if (n.isNumber) "number"
      else if (n.isTextual) "string" else if (n.isArray) "array" else "object"

    if (schema.has("type")) {
      val want = schema.get("type")
      val actual = typeName(doc)
      val ok =
        if (want.isArray) (0 until want.size).exists { i =>
          val t = want.get(i).asText
          t == actual || (t == "number" && actual == "integer")
        }
        else want.asText == actual || (want.asText == "number" && actual == "integer")
      if (!ok) return fail("type",
        s"Invalid type. Expected: ${if (want.isArray) want.toString else want.asText}, given: $actual")
    }
    if (schema.has("enum")) {
      val e = schema.get("enum")
      if (!(0 until e.size).exists(i => e.get(i) == doc ||
        (e.get(i).isNumber && doc.isNumber &&
          e.get(i).decimalValue.compareTo(doc.decimalValue) == 0)))
        return fail("enum", "value not in enum")
    }
    if (schema.has("const")) {
      val c = schema.get("const")
      val ok = c == doc ||
        (c.isNumber && doc.isNumber && c.decimalValue.compareTo(doc.decimalValue) == 0)
      if (!ok) return fail("const", "value does not match const")
    }
    if (doc.isNumber) {
      if (schema.has("minimum") && doc.decimalValue.compareTo(schema.get("minimum").decimalValue) < 0)
        return fail("minimum", s"Must be greater than or equal to ${schema.get("minimum").asText}")
      if (schema.has("maximum") && doc.decimalValue.compareTo(schema.get("maximum").decimalValue) > 0)
        return fail("maximum", s"Must be less than or equal to ${schema.get("maximum").asText}")
      if (schema.has("multipleOf")) {
        val m = schema.get("multipleOf").decimalValue
        if (m.signum != 0 &&
          doc.decimalValue.remainder(m).compareTo(java.math.BigDecimal.ZERO) != 0)
          return fail("multipleOf", s"Must be a multiple of ${schema.get("multipleOf").asText}")
      }
      if (schema.has("exclusiveMinimum") &&
        doc.decimalValue.compareTo(schema.get("exclusiveMinimum").decimalValue) <= 0)
        return fail("exclusiveMinimum", "value at or below exclusiveMinimum")
      if (schema.has("exclusiveMaximum") &&
        doc.decimalValue.compareTo(schema.get("exclusiveMaximum").decimalValue) >= 0)
        return fail("exclusiveMaximum", "value at or above exclusiveMaximum")
    }
    if (doc.isTextual) {
      val s = doc.asText
      if (schema.has("minLength") && s.length < schema.get("minLength").asInt)
        return fail("minLength", "string shorter than minLength")
      if (schema.has("maxLength") && s.length > schema.get("maxLength").asInt)
        return fail("maxLength", "string longer than maxLength")
      if (schema.has("pattern") && !java.util.regex.Pattern.compile(schema.get("pattern").asText).matcher(s).find())
        return fail("pattern", "string does not match pattern")
    }
    if (doc.isArray) {
      if (schema.has("minItems") && doc.size < schema.get("minItems").asInt)
        return fail("minItems", "array has fewer than minItems elements")
      if (schema.has("maxItems") && doc.size > schema.get("maxItems").asInt)
        return fail("maxItems", "array has more than maxItems elements")
      if (schema.has("uniqueItems") && schema.get("uniqueItems").asBoolean) {
        val seen = scala.collection.mutable.HashSet.empty[JsonNode]
        var i = 0
        while (i < doc.size) {
          if (!seen.add(doc.get(i))) return fail("uniqueItems", "array elements are not unique")
          i += 1
        }
      }
      if (schema.has("items") && schema.get("items").isObject) {
        var i = 0
        while (i < doc.size) {
          val r = validate(schema.get("items"), doc.get(i), s"$docLoc[$i]", s"$schemaLoc/items")
          if (r.isDefined) return r
          i += 1
        }
      }
    }
    if (doc.isObject) {
      if (schema.has("required")) {
        val req = schema.get("required")
        var i = 0
        while (i < req.size) {
          val k = req.get(i).asText
          if (!doc.has(k))
            return fail("required", s"$k is required")
          i += 1
        }
      }
      val props = if (schema.has("properties")) schema.get("properties") else null
      if (props != null) {
        for (k <- keysOf(props)) {
          if (doc.has(k)) {
            val r = validate(props.get(k), doc.get(k), s"$docLoc.$k", s"$schemaLoc/properties/$k")
            if (r.isDefined) return r
          }
        }
      }
      if (schema.has("additionalProperties") && schema.get("additionalProperties").isBoolean &&
        !schema.get("additionalProperties").asBoolean && props != null) {
        for (k <- keysOf(doc))
          if (!props.has(k))
            return Some(SchemaFailure(s"$docLoc.$k", schemaLoc, "additionalProperties",
              s"Additional property $k is not allowed"))
      }
    }
    None
  }

  def jsonSchemaValid(schema: String, doc: String): Option[Boolean] =
    for { s <- parse(schema); d <- parse(doc) } yield validate(s, d, "$", "#").isEmpty

  /** MySQL report shape: `{"valid": true}` or `{"valid": false,
    * "reason": ..., "schema-location": ..., "document-location": ...,
    * "schema-failed-keyword": ...}` (cf. `buildSchemaValidationReport`,
    * `func_builtin_json.go:2815`).
    */
  def jsonSchemaValidationReport(schema: String, doc: String): String =
    (for { s <- parse(schema); d <- parse(doc) } yield {
      val out = mapper.createObjectNode()
      validate(s, d, "$", "#") match {
        case None => out.put("valid", true)
        case Some(f) =>
          // MO's gojsonschema rendering: document locations are $-paths
          // and schema-location is '#/<keyword>' (func_json_schema
          // .result: '{"document-location": "$.x", "reason": "Invalid
          // type. …", "schema-failed-keyword": "type", …}')
          out.put("valid", false)
          out.put("reason", f.reason)
          out.put("schema-location", s"#/${f.keyword}")
          out.put("document-location", f.docLoc)
          out.put("schema-failed-keyword", f.keyword)
      }
      mapper.writeValueAsString(out)
    }).orNull

  // ---------------------------------------------- Column API (native expr)
  // Each builds a [[JsonScalarExpr]] — no Scala-UDF encoder round trip;
  // the scalar functions above remain the spec-level reference semantics.
  import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}

  private def ex(fn: String, cols: Column*): Column =
    asCol(JsonScalarExpr(fn, cols.map(asExpr)))

  def json_value(doc: Column, path: Column): Column = ex("json_value", doc, path)
  def json_length(doc: Column): Column = ex("json_length", doc)
  def json_length(doc: Column, path: Column): Column = ex("json_length", doc, path)
  def json_keys(doc: Column): Column = ex("json_keys", doc)
  def json_keys(doc: Column, path: Column): Column = ex("json_keys", doc, path)
  def json_pretty(doc: Column): Column = ex("json_pretty", doc)
  def json_overlaps(a: Column, b: Column): Column = ex("json_overlaps", a, b)
  def json_schema_valid(schema: Column, doc: Column): Column =
    ex("json_schema_valid", schema, doc)
  def json_schema_validation_report(schema: Column, doc: Column): Column =
    ex("json_schema_validation_report", schema, doc)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    Seq("json_extract" -> "json_extract(doc, path)",
      "json_extract_string" -> "json_extract_string(doc, path)",
      "json_extract_float64" -> "json_extract_float64(doc, path)",
      "json_value" -> "json_value(doc, path)", "json_length" -> "json_length(doc[, path])",
      "json_keys" -> "json_keys(doc[, path])", "json_pretty" -> "json_pretty(doc)",
      "json_overlaps" -> "json_overlaps(a, b)",
      "json_schema_valid" -> "json_schema_valid(schema, doc)",
      "json_schema_validation_report" -> "json_schema_validation_report(schema, doc)"
    ).foreach { case (name, usage) => ft.native(name, usage)(JsonScalarExpr(name, _)) }
    // legacy 2-arg aliases kept for SQL callers of the round-2 names
    ft.native("json_length_path", "json_length_path(doc, path)")(JsonScalarExpr("json_length", _))
    ft.native("json_keys_path", "json_keys_path(doc, path)")(JsonScalarExpr("json_keys", _))
  }
}
