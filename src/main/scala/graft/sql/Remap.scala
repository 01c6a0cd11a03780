package graft.sql

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Table-remap hints — the reference's `remap_rewrites` session variable
  * and inline `{json}` statement hints (BVT `hint/` category;
  * reference: the frontend remap gate behind `enable_remap_hint`).
  * Two rule kinds:
  *   - `rewrites`: `db.table` → a SELECT-like statement that replaces
  *     every scan of that table (also the TOP-LEVEL direct form
  *     `{"db.t": "select ..."}`),
  *   - `remapdb`: database name substitution in qualified references.
  * Validation mirrors the reference's error texts; rules are validated
  * at SET time and the previous value is kept on error.
  */
object Remap {

  final case class Rules(
      rewrites: Map[(String, String), String],
      remapdb: Map[String, String]) {
    def isEmpty: Boolean = rewrites.isEmpty && remapdb.isEmpty
  }
  val Empty: Rules = Rules(Map.empty, Map.empty)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def invalid(json: String, why: String): Nothing =
    throw new IllegalArgumentException(
      s"""invalid input: invalid remap_rewrites value "$json": $why""")

  private def isSystemDb(n: String): Boolean =
    MoCatalog.SystemDbs.contains(n.toLowerCase) || n.toLowerCase.startsWith("mo_")

  /** Parse + validate; throws the reference's error shapes. */
  def parse(spark: SparkSession, json0: String): Rules = {
    val json = json0.trim
    if (json.isEmpty || json == "{}") return Empty
    val node =
      try mapper.readTree(json)
      catch { case e: Exception => invalid(json0, e.getMessage) }
    if (node == null || !node.isObject)
      invalid(json0,
        "json: cannot unmarshal value into Go value of type map[string]json.RawMessage")
    var rewrites = Map.empty[(String, String), String]
    var remapdb = Map.empty[String, String]
    def addRewrite(key: String, v: com.fasterxml.jackson.databind.JsonNode): Unit = {
      if (!v.isTextual)
        invalid(json0,
          s"""rewrite for "$key" must be a single SQL string, not an array or object""")
      val k = key.trim
      if (k.isEmpty)
        throw new IllegalArgumentException(
          "invalid input: remap_rewrites: table key must not be empty")
      val parts = k.split("\\.", -1)
      if (parts.length != 2 || parts.exists(_.trim.isEmpty))
        throw new IllegalArgumentException(
          s"""invalid input: remap_rewrites: rewrite table "$k" must be qualified as database.table""")
      val sql = v.asText
      val low = sql.trim.toLowerCase
      // Spark's parser reads `select from` as Project('from) — MySQL's
      // rejects it; pre-check the goldens' syntax shape
      if (low.matches("(?s)^\\s*select\\s+from\\b.*"))
        throw new IllegalArgumentException(
          s"""invalid input: invalid rewrite rule SQL "$sql": syntax error near " from"""")
      if (!(low.startsWith("select") || low.startsWith("with") || low.startsWith("(")))
        throw new IllegalArgumentException(
          s"""invalid input: invalid rewrite rule SQL "$sql": only accept SELECT-like statements as rewrites""")
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"""invalid input: invalid rewrite rule SQL "$sql": ${e.getMessage.take(200)}""")
      }
      rewrites += ((parts(0).trim.toLowerCase, parts(1).trim.toLowerCase) -> sql)
    }
    node.fields().asScala.foreach { e =>
      (e.getKey, e.getValue) match {
        case ("rewrites", v) if v.isObject =>
          v.fields().asScala.foreach(f => addRewrite(f.getKey, f.getValue))
        case ("remapdb", v) if v.isObject =>
          v.fields().asScala.foreach { f =>
            val (src, dst) = (f.getKey, if (f.getValue.isTextual) f.getValue.asText else "\u0000")
            if (!src.matches("\\w+") || !dst.matches("\\w+"))
              throw new IllegalArgumentException(
                s"""invalid input: remapdb names must be valid identifiers, got "$src" -> "$dst"""")
            remapdb += (src.toLowerCase -> dst.toLowerCase)
          }
          // chaining: a destination may not also be a source (or itself)
          remapdb.foreach { case (src, dst) =>
            if (remapdb.contains(dst))
              throw new IllegalArgumentException(
                s"""invalid input: remapdb: database "$dst" must not be both a source and a destination (chaining is not allowed)""")
          }
          remapdb.foreach { case (src, dst) =>
            if (isSystemDb(src) || isSystemDb(dst))
              throw new IllegalArgumentException(
                s"""invalid input: remapdb must not remap a system database, got "$src" -> "$dst"""")
          }
        case ("rewrites", _) | ("remapdb", _) =>
          invalid(json0, "rewrites/remapdb must be JSON objects")
        case (k, v) => addRewrite(k, v)
      }
    }
    Rules(rewrites, remapdb)
  }

  private val phSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // materializing a rewrite's SELECT re-enters GraftSql.sql — the rules
  // must not re-apply to their own bodies
  private val inApply = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  def applying: Boolean = inApply.get()

  /** Apply the rules to SELECT-like statement text. `rewrites` entries
    * matching the CURRENT db (or referenced fully qualified) register
    * their SELECT as a temp view resolved NOW against the real tables —
    * no recursion when a rewrite references the table it replaces —
    * and the outer text swaps relation references for the view.
    */
  def applyText(spark: SparkSession, q0: String, rules: Rules,
      innerRules: Rules = Empty): String = {
    if (rules.isEmpty) return q0
    val low = q0.trim.toLowerCase
    // remapdb applies to TABLE-LEVEL references in ANY statement (the
    // reference remaps DML and table DDL too, remap_db.sql:53-68) —
    // the dot lookahead keeps USE / database DDL untouched; `rewrites`
    // below stay SELECT-shaped only
    var q = q0
    // remapdb: qualified `src.x` references become `dst.x`. Matched and
    // spliced via the literal-MASKED copy so data like 'c@test.com'
    // (src=test) can never be rewritten.
    rules.remapdb.foreach { case (src, dst) =>
      if (q.toLowerCase.contains(src) &&
        !"""(?is)^(use|create\s+database|drop\s+database|alter\s+database)\b""".r
          .findFirstIn(low).isDefined)
        q = SqlText.replaceOutside(q,
          s"(?i)(?<![\\w`$$@])$src(?=\\s*\\.)".r, _ => dst)
    }
    val isAnalyze = low.startsWith("analyze")
    if (!(low.startsWith("select") || low.startsWith("with") ||
      low.startsWith("(") || isAnalyze))
      return q
    // CTE names defined by the statement SHADOW remap rules (hint_cte)
    val cteNames = """(?i)(?:\bwith\s+(?:recursive\s+)?|,\s*)`?(\w+)`?\s*(?:\([^)]*\)\s*)?as\s*\(""".r
      .findAllMatchIn(SqlText.mask(q0)).map(_.group(1).toLowerCase).toSet
    // an unqualified name while the CURRENT db is a remapdb SOURCE
    // resolves in the destination (remap_db.sql:70-85) — map cur first
    val cur = MoCatalog.currentDb(spark).map(_.toLowerCase)
      .map(c => rules.remapdb.getOrElse(c, c))
    rules.rewrites.foreach { case ((db, tbl), sql0) =>
      // an inline hint rule's BODY still sees the session rules
      // (remap_rewrites_session: the hint's `from t1` is itself remapped)
      val sql = applyText(spark, sql0, innerRules, Empty)
      if (cteNames.contains(tbl)) ()
      else {
      // `analyze table t(...)` anchors on the `table` keyword
      val qualRe = s"(?i)(\\bfrom\\s+|\\bjoin\\s+|\\btable\\s+|,\\s*)`?$db`?\\s*\\.\\s*`?$tbl`?(?![\\w$$.])"
      val bareRe = s"(?i)(\\bfrom\\s+|\\bjoin\\s+|\\btable\\s+|,\\s*)`?$tbl`?(?![\\w$$.])"
      // probe against the masked copy: table words inside string data
      // must neither trigger nor receive a substitution
      val qm = SqlText.mask(q)
      val applies = cur.contains(db) || qualRe.r.findFirstIn(qm).isDefined
      if (applies && (qualRe.r.findFirstIn(qm).isDefined ||
        (cur.contains(db) && bareRe.r.findFirstIn(qm).isDefined))) {
        val ph = s"__graft_remap_${phSeq.incrementAndGet()}"
        inApply.set(true)
        try GraftSql.sql(spark, sql).createOrReplaceTempView(ph)
        finally inApply.set(false)
        def subst(re: String): Unit =
          q = SqlText.replaceOutside(q, re.r, m => {
            // keep an explicit alias; otherwise alias back to the
            // original table name so qualified column refs still resolve
            val after = q.substring(m.end)
            val aliasNext = "^\\s+(?:as\\s+)?(`?\\w+`?)".r.findFirstMatchIn(after)
              .exists(a => !Set("where", "on", "group", "order", "limit",
                "having", "join", "left", "right", "inner", "cross", "full",
                "union", "intersect", "except", "for", "using")
                .contains(a.group(1).replace("`", "").toLowerCase))
            if (isAnalyze) s"${m.group(1)}$ph"
            else if (aliasNext) s"${m.group(1)}$ph "
            else s"${m.group(1)}$ph AS $tbl "
          })
        subst(qualRe)
        if (cur.contains(db)) subst(bareRe)
      }
      }
    }
    q
  }
}
