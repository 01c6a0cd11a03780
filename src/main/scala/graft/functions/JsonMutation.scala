package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** MySQL JSON mutation functions the reference supports but Spark lacks
  * (SURVEY §2.13: `json_insert json_replace json_set json_remove
  * json_merge_patch` — reference registry `list_builtIn.go`).
  *
  * Implemented over Jackson (already on Spark's classpath). Paths are the
  * common `$.a.b` object-member form (array subscripts out of scope,
  * documented). UDF-based first pass — mutation functions are rarely in
  * the scan-heavy hot path; promote to native expressions if profiling
  * says otherwise.
  */
object JsonMutation {

  @transient private[functions] lazy val mapper = {
    val m = new ObjectMapper()
    // '123 Main St' must stay a STRING value, not parse as 123 + junk
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)
    m
  }

  // ------------------------------------------------- MySQL mutation paths
  // `$`, `.member`, `."quoted member"`, `[n]`, `[last]`, `[last-n]` —
  // wildcards are rejected for mutations (MySQL errors on them).
  private[functions] sealed trait MSeg
  private[functions] case class MKey(k: String) extends MSeg
  private[functions] case class MIdx(fromLast: Boolean, off: Int) extends MSeg

  private[functions] def parseMutPath(path: String): Option[List[MSeg]] = {
    if (path == null || path.isEmpty || path.charAt(0) != '$') return None
    val segs = scala.collection.mutable.ListBuffer.empty[MSeg]
    var i = 1
    val n = path.length
    while (i < n) {
      path.charAt(i) match {
        case '.' =>
          i += 1
          if (i < n && path.charAt(i) == '"') {
            val j = path.indexOf('"', i + 1)
            if (j < 0) return None
            segs += MKey(path.substring(i + 1, j)); i = j + 1
          } else {
            val j0 = i
            while (i < n && path.charAt(i) != '.' && path.charAt(i) != '[') i += 1
            if (i == j0) return None
            segs += MKey(path.substring(j0, i))
          }
        case '[' =>
          val j = path.indexOf(']', i)
          if (j < 0) return None
          val body = path.substring(i + 1, j).trim
          if (body == "last") segs += MIdx(fromLast = true, 0)
          else if (body.startsWith("last-"))
            body.drop(5).trim.toIntOption match {
              case Some(o) => segs += MIdx(fromLast = true, o)
              case None => return None
            }
          else body.toIntOption.filter(_ >= 0) match {
            case Some(o) => segs += MIdx(fromLast = false, o)
            case None => return None
          }
          i = j + 1
        case _ => return None
      }
    }
    Some(segs.toList)
  }

  /** Apply one mutation op at a parsed path, returning the (possibly
    * replaced) root. MySQL semantics transcribed from the reference
    * goldens (`function/func_json_remove.result` etc.):
    *  - an index on a NON-array is the identity when it resolves to 0
    *    (scalar autowrap: `$.a[0]` ≡ `$.a`, `$[0].a` ≡ `$.a`);
    *  - insert/set with an index ≥ the array length APPENDS;
    *  - insert/set with an index > 0 on a non-array wraps it into
    *    `[old, value]`;
    *  - a missing parent path is a no-op; the root itself can never be
    *    removed.
    */
  private[functions] def applyMutOp(root0: JsonNode, op: String,
      segs: List[MSeg], value: => JsonNode): JsonNode = {
    import com.fasterxml.jackson.databind.node.ArrayNode
    val root = root0
    if (segs.isEmpty)
      return if (op == "set" || op == "replace") value else root
    // walk tracking the container that OWNS `current` (null = root)
    var parent: JsonNode = null
    var key: String = null
    var idx: Int = -1
    var current = root
    def assign(v: JsonNode): JsonNode =
      if (parent == null) v
      else {
        parent match {
          case o: ObjectNode => o.set[ObjectNode](key, v)
          case a: ArrayNode => a.set(idx, v)
          case _ =>
        }
        root
      }
    var i = 0
    val n = segs.length
    while (i < n) {
      val last = i == n - 1
      segs(i) match {
        case MKey(k) =>
          current match {
            case o: ObjectNode if o.has(k) =>
              parent = o; key = k; idx = -1; current = o.get(k)
            case o: ObjectNode if last =>
              if (op == "insert" || op == "set") o.set[ObjectNode](k, value)
              return root
            case _ => return root
          }
        case MIdx(fromLast, off) =>
          current match {
            case a: ArrayNode =>
              val j = if (fromLast) a.size - 1 - off else off
              if (j >= 0 && j < a.size) {
                parent = a; key = null; idx = j; current = a.get(j)
              } else if (last && !fromLast) {
                if (op == "insert" || op == "set") a.add(value)
                return root
              } else return root
            case other =>
              val eff = if (fromLast) -off else off
              if (eff == 0) () // autowrap identity: parent/accessor keep
              else if (last && (op == "insert" || op == "set")) {
                val arr = mapper.createArrayNode()
                arr.add(other.deepCopy[JsonNode]())
                arr.add(value)
                return assign(arr)
              } else return root
          }
      }
      i += 1
    }
    op match {
      case "remove" =>
        if (parent == null) root // cannot remove the root itself
        else {
          parent match {
            case o: ObjectNode => o.remove(key)
            case a: ArrayNode => a.remove(idx)
            case _ =>
          }
          root
        }
      case "insert" => root // target exists: no-op
      case _ => assign(value) // replace / set
    }
  }

  /** Parse `value` as JSON when possible, else treat as a JSON string. */
  private def valueNode(value: String): JsonNode =
    if (value == null) mapper.getNodeFactory.nullNode()
    else try mapper.readTree(value)
    catch { case _: Exception => mapper.getNodeFactory.textNode(value) }

  private def mutate(doc: String, path: String, value: String, op: String): String = {
    if (doc == null || path == null) return null
    val root = mapper.readTree(doc)
    parseMutPath(path) match {
      case Some(segs) =>
        mapper.writeValueAsString(applyMutOp(root, op, segs, valueNode(value)))
      case None => doc
    }
  }

  def jsonSet(doc: String, path: String, value: String): String =
    mutate(doc, path, value, "set")

  def jsonRemove(doc: String, path: String): String = {
    if (doc == null || path == null) return null
    val root = mapper.readTree(doc)
    parseMutPath(path) match {
      case Some(segs) =>
        mapper.writeValueAsString(applyMutOp(root, "remove", segs, null))
      case None => doc
    }
  }

  /** RFC 7396 merge patch (MySQL `json_merge_patch`). A NULL target
    * with a NON-object patch still yields the patch
    * (func_json_merge.result: json_merge_patch(NULL, '[1,2]') = [1,2]).
    */
  def jsonMergePatch(target: String, patch: String): String = {
    if (patch == null) return null
    if (target == null) {
      val p = mapper.readTree(patch)
      return if (p.isObject) null else mapper.writeValueAsString(p)
    }
    def merge(t: com.fasterxml.jackson.databind.JsonNode,
        p: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
      if (!p.isObject) p.deepCopy()
      else {
        val out = if (t.isObject) t.deepCopy[ObjectNode]() else mapper.createObjectNode()
        val it = p.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNull) out.remove(e.getKey)
          else out.set[ObjectNode](e.getKey, merge(out.path(e.getKey), e.getValue))
        }
        out
      }
    mapper.writeValueAsString(merge(mapper.readTree(target), mapper.readTree(patch)))
  }

  // Column API — native single-pass [[JsonMutateExpr]]: chained
  // mutations fuse into one parse + one serialize (the functions above
  // remain as the driver-side scalar reference used by specs)
  import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}

  def json_insert(doc: Column, path: Column, value: Column): Column =
    asCol(JsonMutateExpr.insert(asExpr(doc), asExpr(path), asExpr(value)))
  def json_replace(doc: Column, path: Column, value: Column): Column =
    asCol(JsonMutateExpr.replace(asExpr(doc), asExpr(path), asExpr(value)))
  def json_set(doc: Column, path: Column, value: Column): Column =
    asCol(JsonMutateExpr.set(asExpr(doc), asExpr(path), asExpr(value)))
  def json_remove(doc: Column, path: Column): Column =
    asCol(JsonMutateExpr.remove(asExpr(doc), asExpr(path)))
  def json_merge_patch(a: Column, b: Column): Column =
    asCol(JsonMutateExpr.mergePatch(asExpr(a), asExpr(b)))
}
