package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ListBuffer

/** `unnest(json, path[, outer])` — the reference's generic JSON-unnest
  * table function (`pkg/sql/colexec/table_function/unnest.go`, kernel
  * `pkg/container/bytejson/bytejson.go:1273-1361`) with its output
  * shape: `index` (array element ordinal, NULL for objects), `key`
  * (object member name, NULL for arrays), `path` (the element's full
  * `$…` path), `value` (element as compact JSON), `this` (the
  * container being unnested). Scalars at the path produce no rows;
  * `outer=true` emits one path+this row per matched target when the
  * unnest is empty — both exactly as the reference.
  *
  * Paths support the member/index subset plus wildcards (`$.a[*].b`,
  * `$.*`), matching `queryWithSubPath`'s expansion of multi-target
  * paths.
  */
object JsonUnnest {

  /** `this` is a Scala keyword, so the struct field is `this_json` and
    * is aliased back to `this` in [[unnest]].
    */
  case class Entry(index: java.lang.Integer, key: String, path: String,
      value: String, this_json: String)

  @transient private lazy val mapper = new ObjectMapper()

  private sealed trait Seg
  private case class Key(k: String) extends Seg
  private case class Idx(i: Int) extends Seg
  private case object KeyStar extends Seg
  private case object IdxStar extends Seg

  private def parsePath(path: String): Option[List[Seg]] = {
    if (path == null || path.isEmpty || path.charAt(0) != '$') return None
    val segs = ListBuffer.empty[Seg]
    var i = 1
    val n = path.length
    while (i < n) {
      path.charAt(i) match {
        case '.' =>
          i += 1
          if (i < n && path.charAt(i) == '*') { segs += KeyStar; i += 1 }
          else if (i < n && path.charAt(i) == '"') {
            val j = path.indexOf('"', i + 1)
            if (j < 0) return None
            segs += Key(path.substring(i + 1, j)); i = j + 1
          } else {
            val j0 = i
            while (i < n && path.charAt(i) != '.' && path.charAt(i) != '[') i += 1
            if (i == j0) return None
            segs += Key(path.substring(j0, i))
          }
        case '[' =>
          val j = path.indexOf(']', i)
          if (j < 0) return None
          val body = path.substring(i + 1, j).trim
          if (body == "*") segs += IdxStar
          else
            try segs += Idx(body.toInt)
            catch { case _: NumberFormatException => return None }
          i = j + 1
        case _ => return None
      }
    }
    Some(segs.toList)
  }

  /** Expand the path against the doc: every matched (pathString, node)
    * target (wildcards multiply, like `queryWithSubPath`).
    */
  private def targets(root: JsonNode, segs: List[Seg]): Seq[(String, JsonNode)] = {
    var cur: Seq[(String, JsonNode)] = Seq(("$", root))
    for (s <- segs) {
      cur = cur.flatMap { case (p, n) =>
        s match {
          case Key(k) =>
            if (n.isObject && n.has(k)) Seq((s"$p.$k", n.get(k))) else Nil
          case Idx(i) =>
            if (n.isArray && i >= 0 && i < n.size) Seq((s"$p[$i]", n.get(i))) else Nil
          case KeyStar =>
            if (n.isObject) {
              val it = n.properties().iterator()
              val buf = ListBuffer.empty[(String, JsonNode)]
              while (it.hasNext) { val e = it.next(); buf += ((s"$p.${e.getKey}", e.getValue)) }
              buf.toSeq
            } else Nil
          case IdxStar =>
            if (n.isArray) (0 until n.size).map(i => (s"$p[$i]", n.get(i))) else Nil
        }
      }
    }
    cur
  }

  private def compact(n: JsonNode): String = mapper.writeValueAsString(n)

  /** Core kernel, mirroring `bytejson.unnest` (mode="both",
    * non-recursive by default like the TF registration).
    */
  def unnestSeq(doc: String, path: String, outer: Boolean,
      recursive: Boolean = false): Seq[Entry] = {
    if (doc == null || path == null) return Nil
    val root = try mapper.readTree(doc) catch { case _: Exception => return Nil }
    val segs = parsePath(path).getOrElse(return Nil)
    val found = targets(root, segs)
    val out = ListBuffer.empty[Entry]

    def emit(container: JsonNode, pathStr: String): Unit = {
      val thisJson = compact(container)
      if (container.isObject) {
        val it = container.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val np = s"$pathStr.${e.getKey}"
          out += Entry(null, e.getKey, np, compact(e.getValue), thisJson)
          if (recursive && (e.getValue.isObject || e.getValue.isArray))
            emit(e.getValue, np)
        }
      } else if (container.isArray) {
        var i = 0
        while (i < container.size) {
          val np = s"$pathStr[$i]"
          out += Entry(i, null, np, compact(container.get(i)), thisJson)
          if (recursive && (container.get(i).isObject || container.get(i).isArray))
            emit(container.get(i), np)
          i += 1
        }
      }
    }

    found.foreach { case (p, n) => if (n.isObject || n.isArray) emit(n, p) }
    if (out.isEmpty && outer)
      found.foreach { case (p, n) => out += Entry(null, null, p, null, compact(n)) }
    out.toSeq
  }

  private val unnestU = udf((doc: String, path: String, outer: Boolean) =>
    unnestSeq(doc, path, outer))

  /** Lateral-unnest a JSON column: keeps `keep` columns and appends the
    * reference's index/key/path/value/this columns, one row per
    * unnested element.
    */
  def unnest(df: DataFrame, doc: Column, path: String, outer: Boolean = false,
      keep: Seq[Column] = Nil): DataFrame = {
    val keepCols = if (keep.isEmpty) df.columns.toSeq.map(col) else keep
    df.select(keepCols :+ explode(unnestU(doc, lit(path), lit(outer))).as("_u"): _*)
      .select(keepCols ++ Seq(
        col("_u.index").as("index"), col("_u.key").as("key"),
        col("_u.path").as("path"), col("_u.value").as("value"),
        col("_u.this_json").as("this")): _*)
  }

  /** Full table-function row shape (reference TF output order:
    * `col seq key path index value this`, unnest.go's result schema).
    */
  case class TfRow(col: String, seq: Int, key: String, path: String,
      index: java.lang.Integer, value: String, this_json: String)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    ft.udf("unnest_json",
      udf((doc: String, path: String, outer: Boolean) => unnestSeq(doc, path, outer)))
    // backing UDF for the SQL `FROM unnest(...)` surface
    // (MySqlCompat.unnestTvf rewrites to `inline(unnest_table(...))`)
    ft.udf("unnest_table",
      udf((label: String, doc: String, path: String, outer: Boolean) =>
        unnestSeq(doc, path, outer).zipWithIndex.map { case (e, i) =>
          TfRow(label, i, e.key, e.path, e.index, e.value, e.this_json)
        }))
  }
}
