package graft.sql

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** MySQL ENUM / SET column semantics over STRING storage.
  *
  * The reference types enum/set natively (`pkg/container/types`, enum
  * convert errors in the insert path); Spark has neither, so columns
  * store the canonical LABEL text and this module supplies the
  * semantics at the statement level:
  *  - CREATE registers the member list and emits STRING storage
  *    (non-string labels are a DDL error, dtype/enum abnormal case);
  *  - INSERT/UPDATE literals validate membership — a number is the
  *    1-based ORDINAL (`enum05`: b enum('4','3','2','1'), insert 1
  *    stores '4') and a non-member throws the reference's exact
  *    "convert to MySQL enum failed" text;
  *  - numeric READ contexts rewrite through the ordinal
  *    (`status + 0`, `status = 3`, `status in (1, 4)`).
  *
  * SET columns normalize a comma-list to member order and accept a
  * numeric BITMASK (bit i = member i+1).
  */
object EnumSet {

  final case class Col(name: String, labels: Vector[String], isSet: Boolean)

  // physicalTableLower → enum/set columns
  private val cols = new graft.SessionScoped(() => TrieMap[String, Vector[Col]]())

  def colsOf(spark: SparkSession, table: String): Vector[Col] =
    cols(spark).getOrElse(table.toLowerCase, Vector.empty)

  def forget(spark: SparkSession, table: String): Unit =
    cols(spark).remove(table.toLowerCase)

  /** CREATE TABLE: register enum/set columns, emit STRING storage. */
  def ddlRewrite(spark: SparkSession, q: String): String = {
    val low = q.toLowerCase
    if (!low.startsWith("create table") &&
      !low.startsWith("create external table")) return q
    if (!low.contains("enum") && !low.contains("set")) return q
    val tm = """(?is)^create\s+(?:external\s+)?table\s+(?:if\s+not\s+exists\s+)?`?([\w$]+)`?\s*\(""".r
      .findFirstMatchIn(q).getOrElse(return q)
    val open = q.indexOf('(', tm.end - 1)
    val (body, closeEnd) = SqlText.balancedSpan(q, open).getOrElse(return q)
    val items = SqlText.splitTop(body)
    var registered = Vector.empty[Col]
    val items2 = items.map { item =>
      // the member list ends at its balanced `)`, so a `)` inside a
      // quoted member does not end it
      """(?is)^(\s*`?([\w$-￿]+)`?\s+)(enum|set)\s*\(""".r.findFirstMatchIn(item)
        .flatMap(m => SqlText.balancedSpan(item, m.end - 1).map(m -> _)) match {
        case Some((m, (members, after))) =>
          val raw = SqlText.splitTop(members).map(_.trim)
          if (raw.exists(l => !(l.startsWith("'") && l.endsWith("'") &&
              l.length >= 2)))
            throw new IllegalArgumentException(
              s"internal error: the ${m.group(3).toLowerCase} " +
                "type's members must be string")
          val labels = raw.map(_.stripPrefix("'").stripSuffix("'")).toVector
          registered :+= Col(m.group(2), labels,
            m.group(3).equalsIgnoreCase("set"))
          // DEFAULT resolves text-first, then as the 1-based ordinal
          // (dtype/enum default02: enum('T','E') default '1' stores 'T')
          val rest = """(?i)\bdefault\s+('[^']*'|\d+)""".r
            .replaceAllIn(item.substring(after), dm => {
              val v0 = dm.group(1)
              val v = v0.stripPrefix("'").stripSuffix("'")
              val label = labels.find(_ == v)
                .orElse("""^\d+$""".r.findFirstIn(v).flatMap { _ =>
                  val n = v.toInt
                  if (n >= 1 && n <= labels.length) Some(labels(n - 1))
                  else None
                })
                .getOrElse(throw new IllegalArgumentException(
                  s"internal error: convert to MySQL enum failed: " +
                    s"item $v is not in enum [${labels.mkString(" ")}]"))
              java.util.regex.Matcher.quoteReplacement(
                "DEFAULT '" + label.replace("'", "\\'") + "'")
            })
          m.group(1) + "STRING" + rest
        case None => item
      }
    }
    if (registered.isEmpty) q
    else {
      cols(spark).put(tm.group(1).toLowerCase, registered)
      q.substring(0, open + 1) + items2.mkString(", ") +
        q.substring(closeEnd - 1)
    }
  }

  private def enumErr(v: String, labels: Vector[String]): Nothing =
    throw new IllegalArgumentException(
      s"internal error: convert to MySQL enum failed: item $v is not in " +
        s"enum [${labels.mkString(" ")}]")
  private def setErr(v: String, labels: Vector[String]): Nothing =
    throw new IllegalArgumentException(
      s"internal error: convert to MySQL set failed: item $v is not in " +
        s"set [${labels.mkString(" ")}]")

  /** Canonical stored literal for one enum/set value expression, or
    * None when the expression is not a literal we can map (left as-is:
    * INSERT..SELECT label flows stay valid by construction).
    */
  private def mapLiteral(c: Col, it0: String): Option[String] = {
    val it = it0.trim
    if (it.equalsIgnoreCase("null")) return Some("NULL")
    def quote(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val strLit = """(?s)^'(.*)'$""".r.findFirstMatchIn(it).map(_.group(1))
    val numLit = """^-?\d+$""".r.findFirstIn(it).map(_.toLong)
    (strLit, numLit) match {
      case (Some(s), _) if !c.isSet =>
        // MySQL matches member text with trailing-space insensitivity;
        // a label that LOOKS numeric still matches by text first
        c.labels.find(_ == s.stripSuffix(" "))
          .orElse(c.labels.find(_.equalsIgnoreCase(s.trim)))
          .map(quote)
          .orElse(enumErr(s, c.labels))
      case (None, Some(n)) if !c.isSet =>
        if (n >= 1 && n <= c.labels.length) Some(quote(c.labels(n.toInt - 1)))
        else enumErr(n.toString, c.labels)
      case (Some(s), _) if c.isSet =>
        if (s.isEmpty) Some("''")
        else {
          val parts = s.split(",", -1).map(_.trim)
          parts.find(p => !c.labels.exists(_.equalsIgnoreCase(p)))
            .foreach(p => setErr(p, c.labels))
          val idxs = parts.map(p =>
            c.labels.indexWhere(_.equalsIgnoreCase(p))).distinct.sorted
          Some(quote(idxs.map(c.labels).mkString(",")))
        }
      case (None, Some(n)) if c.isSet =>
        if (n < 0 || n >= (1L << c.labels.length)) setErr(n.toString, c.labels)
        else Some(quote(c.labels.zipWithIndex
          .collect { case (l, i) if (n & (1L << i)) != 0 => l }
          .mkString(",")))
      case _ => None
    }
  }

  /** INSERT/REPLACE VALUES + UPDATE SET literal mapping/validation. */
  def dmlRewrite(spark: SparkSession, q0: String): String = {
    if (cols(spark).isEmpty) return q0
    val im = """(?is)^((?:insert|replace)\s+(?:ignore\s+)?into\s+)`?([\w$]+)`?\s*(\([^)]*\))?\s*(values\s*)(.+)$""".r
      .findFirstMatchIn(q0)
    im.foreach { m =>
      val ecols = colsOf(spark, m.group(2))
      if (ecols.nonEmpty) {
        val ignore = m.group(1).toLowerCase.contains("ignore")
        val tableCols: Seq[String] = Option(m.group(3)) match {
          case Some(list) => list.stripPrefix("(").stripSuffix(")")
            .split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
          case None =>
            try spark.table(m.group(2)).columns.toSeq
            catch { case _: Exception => Seq.empty }
        }
        val posOf = ecols.flatMap { c =>
          val i = tableCols.indexWhere(_.equalsIgnoreCase(c.name))
          if (i >= 0) Some(i -> c) else None
        }.toMap
        if (posOf.nonEmpty) {
          var rowsOut = Vector.empty[String]
          var dropped = false
          SqlText.splitTop(m.group(5)).foreach { r0 =>
            val r = r0.trim
            if (!r.startsWith("(") || !r.endsWith(")")) rowsOut :+= r
            else {
              val items = SqlText.splitTop(
                r.stripPrefix("(").stripSuffix(")"))
              try {
                rowsOut :+= items.zipWithIndex.map { case (it, i) =>
                  posOf.get(i) match {
                    case Some(c) =>
                      // the declared NOT NULL survived only in the
                      // catalog (Spark storage dropped it) — reject
                      // nulls with the reference's text
                      if (it.trim.equalsIgnoreCase("null") &&
                        MoCatalog.declaredNotNull(spark, m.group(2), c.name))
                        throw new IllegalArgumentException(
                          s"constraint violation: Column '${c.name}' " +
                            "cannot be null")
                      mapLiteral(c, it).getOrElse(it)
                    case None => it
                  }
                }.mkString("(", ", ", ")")
              } catch {
                // INSERT IGNORE skips the offending row (MySQL demotes
                // the conversion error to a warning)
                case e: IllegalArgumentException if ignore => dropped = true
              }
            }
          }
          if (rowsOut.isEmpty && dropped)
            return s"SELECT 1 WHERE FALSE" // every row ignored: no-op
          return m.group(1) + "`" + m.group(2) + "` " +
            Option(m.group(3)).map(_ + " ").getOrElse("") +
            m.group(4) + rowsOut.mkString(", ")
        }
      }
    }
    val um = """(?is)^(update\s+(?:ignore\s+)?)`?([\w$]+)`?(\s+set\s+)(.+?)((?:\s+where\b.*)?)$""".r
      .findFirstMatchIn(q0)
    um.foreach { m =>
      val ecols = colsOf(spark, m.group(2))
      if (ecols.nonEmpty) {
        val assigns = SqlText.splitTop(m.group(4)).map { a =>
          """(?is)^\s*`?([\w$-￿]+)`?\s*=\s*(.+)$""".r
            .findFirstMatchIn(a) match {
            case Some(am) =>
              ecols.find(_.name.equalsIgnoreCase(am.group(1))) match {
                case Some(c) => mapLiteral(c, am.group(2))
                  .map(v => s"`${am.group(1)}` = $v").getOrElse(a)
                case None => a
              }
            case None => a
          }
        }
        return m.group(1) + "`" + m.group(2) + "`" + m.group(3) +
          assigns.mkString(", ") + m.group(5)
      }
    }
    q0
  }

  /** SQL expression canonicalizing one enum/set value from an arbitrary
    * row source (INSERT..SELECT, LOAD DATA): text-first member match,
    * then the numeric path (enum: 1-based ordinal; set: member bitmap),
    * else the reference's conversion error. `v` is the source column
    * reference.
    */
  def storeSql(c: Col, v: String): String = {
    def q(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val labels = c.labels.map(q).mkString(",")
    val arr = s"array($labels)"
    val s = s"CAST($v AS STRING)"
    val bare = c.labels.mkString(" ")
    if (!c.isSet) {
      val err = s"raise_error(concat('internal error: convert to MySQL " +
        s"enum failed: item ', $s, ' is not in enum [${bare.replace("'", "\\'")}]'))"
      s"CASE WHEN $v IS NULL THEN NULL " +
        s"WHEN array_contains($arr, rtrim($s)) THEN rtrim($s) " +
        s"WHEN $s RLIKE '^[0-9]+$$' AND CAST($s AS INT) " +
        s"BETWEEN 1 AND ${c.labels.length} THEN elt(CAST($s AS INT), $labels) " +
        s"ELSE $err END"
    } else {
      val err = s"raise_error(concat('internal error: convert to MySQL " +
        s"set failed: item ', $s, ' is not in set [${bare.replace("'", "\\'")}]'))"
      // member bitmap (bit i = member i+1) for a numeric source; a
      // comma list normalizes to member order, unknown members error
      s"CASE WHEN $v IS NULL THEN NULL " +
        s"WHEN $s = '' THEN '' " +
        s"WHEN $s RLIKE '^[0-9]+$$' THEN " +
        s"(CASE WHEN CAST($s AS BIGINT) >= ${1L << c.labels.length} THEN $err " +
        s"ELSE concat_ws(',', filter($arr, " +
        s"(m, i) -> (shiftright(CAST($s AS BIGINT), i) % 2) = 1)) END) " +
        s"WHEN exists(split($s, ','), x -> NOT array_contains($arr, trim(x))) " +
        s"THEN $err " +
        s"ELSE concat_ws(',', filter($arr, " +
        s"m -> array_contains(transform(split($s, ','), x -> trim(x)), m))) END"
    }
  }

  /** Canonicalize a row-source DataFrame headed for `table`: positions
    * holding enum/set columns take [[storeSql]]; everything else passes
    * through. `targetCols` is the insert's column list (the table's
    * full column order when none was written).
    */
  def canonicalizeDf(spark: SparkSession, table: String,
      targetCols: Seq[String], df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val ecols = colsOf(spark, table)
    if (ecols.isEmpty) return df
    val mapped = df.columns.toSeq.zipWithIndex.map { case (n, i) =>
      ecols.find(c => i < targetCols.length &&
          c.name.equalsIgnoreCase(targetCols(i))) match {
        case Some(c) => expr(storeSql(c, s"`$n`")).as(n)
        case None => col(n)
      }
    }
    df.select(mapped: _*)
  }

  /** Numeric READ contexts on enum columns of a single-table SELECT:
    * `col + 0` → ordinal, `col <op> <number>` and numeric IN-list items
    * → ordinal→label mapping.
    */
  def exprRewrite(spark: SparkSession, q0: String): String = {
    if (cols(spark).isEmpty) return q0
    val low = q0.toLowerCase
    val tableRe =
      if (low.startsWith("select") || low.startsWith("with"))
        Some("""(?is)\bfrom\s+`?([\w$]+)`?(?![\w$.(])""".r)
      else if (low.startsWith("delete"))
        Some("""(?is)^delete\s+from\s+`?([\w$]+)`?(?![\w$.(])""".r)
      else if (low.startsWith("update"))
        Some("""(?is)^update\s+(?:ignore\s+)?`?([\w$]+)`?(?![\w$.(])""".r)
      else None
    val fm = tableRe.flatMap(_.findFirstMatchIn(SqlText.mask(q0)))
      .getOrElse(return q0)
    val allCols = colsOf(spark, fm.group(1))
    val ecols = allCols.filterNot(_.isSet)
    val scols = allCols.filter(_.isSet)
    if (allCols.isEmpty) return q0
    var q = q0
    def ordOrMaskExpr(c: Col): String =
      if (c.isSet) {
        val cases = c.labels.zipWithIndex
          .map { case (l, i) =>
            s"WHEN '${l.replace("'", "\\'")}' THEN ${1L << i}" }
          .mkString(" ")
        s"(CASE WHEN `${c.name}` IS NULL THEN CAST(NULL AS BIGINT) " +
          s"ELSE aggregate(filter(split(`${c.name}`, ','), x -> x != ''), " +
          s"CAST(0 AS BIGINT), (acc, x) -> acc + CASE x $cases ELSE 0 END) END)"
      } else
        "array_position(array(" +
          c.labels.map(l => "'" + l.replace("'", "\\'") + "'").mkString(",") +
          s"), `${c.name}`)"
    // row constructors against a subquery — `(e, i) [NOT] IN (SELECT …)`,
    // `(e, i) = ANY (SELECT …)` — compare their enum/set members in
    // ordinal/bitmap space (numeric operand contract); runs FIRST so the
    // single-column rules below see the rewritten tuple members as
    // opaque expressions, not bare columns
    q = SqlText.replaceOutside(q,
      """(?i)(?<![\w$`])\(((?:'(?:[^'\\]|\\.)*'|[^()'])+)\)(\s*(?:not\s+)?in\s*\(\s*select\b|\s*=\s*any\s*\(\s*select\b)""".r,
      m => {
        var tup = m.group(1)
        allCols.foreach { c =>
          val qn = java.util.regex.Pattern.quote(c.name)
          tup = tup.replaceAll(
            s"(?i)(?<![\\w$$.`'])`?$qn`?(?![\\w$$'])",
            java.util.regex.Matcher.quoteReplacement(ordOrMaskExpr(c)))
        }
        "(" + tup + ")" + m.group(2)
      })
    // SET columns evaluate from their member BITMAP in numeric /
    // bitwise / ORDER BY contexts (dtype/set: colors + 0, colors & 1,
    // order by colors) while string comparisons keep the normalized
    // comma-display
    scols.foreach { c =>
      val qn = java.util.regex.Pattern.quote(c.name)
      val cases = c.labels.zipWithIndex
        .map { case (l, i) =>
          s"WHEN '${l.replace("'", "\\'")}' THEN ${1L << i}" }
        .mkString(" ")
      val mask = s"(CASE WHEN `${c.name}` IS NULL THEN CAST(NULL AS BIGINT) " +
        s"ELSE aggregate(filter(split(`${c.name}`, ','), x -> x != ''), " +
        s"CAST(0 AS BIGINT), (acc, x) -> acc + CASE x $cases ELSE 0 END) END)"
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?\\s*\\+\\s*0(?![\\w$$.])".r, _ => mask)
      // `WHERE colors & 1` is truthiness; in a projection the bitwise
      // AND keeps its numeric value
      q = SqlText.replaceOutside(q,
        s"(?i)\\b(where\\s+)`?$qn`?\\s*&\\s*(\\d+)(?![\\w$$.])".r,
        m => s"${m.group(1)}($mask & ${m.group(2)}) != 0")
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?\\s*&\\s*(\\d+)(?![\\w$$.])".r,
        m => s"($mask & ${m.group(1)})")
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?\\s*(=|!=|<>|>=|<=|>|<)\\s*\\+?(\\d+)(?![\\w$$.])".r,
        m => s"$mask ${m.group(1)} ${m.group(2)}")
      q = SqlText.replaceOutside(q,
        s"(?i)\\b(order\\s+by\\s+)`?$qn`?(?![\\w$$])".r,
        m => m.group(1) + mask)
      // numeric subquery operand contract (mysql_compat_enum_set_numeric):
      // `s [NOT] IN (SELECT <barecol> …)` / `s = ANY (SELECT <barecol> …)`
      // compares the member BITMAP whenever the projected item is a bare
      // column (an enum/set inner projection is rewritten to its own
      // bitmap/ordinal by the rules below, so both sides stay numeric); a
      // DISTINCT/ALL keyword means the projection starts elsewhere —
      // leave those untouched
      q = SqlText.replaceOutside(q,
        (s"(?i)(?<![\\w$$.`])`?$qn`?(\\s+(?:not\\s+)?in\\s*\\(\\s*select\\s+" +
          s"|\\s*=\\s*any\\s*\\(\\s*select\\s+)(`?[\\w$$]+`?)(\\s+from)").r,
        m => {
          val inner = m.group(2).replace("`", "")
          if (inner.matches("(?i)distinct|all")) m.matched
          else mask + m.group(1) + m.group(2) + m.group(3)
        })
      // … and a SUBQUERY projecting the set column under a numeric left
      // operand yields bitmaps (`i IN (SELECT s …)`)
      q = SqlText.replaceOutside(q,
        s"(?i)\\b((?:in|any)\\s*\\(\\s*select\\s+)`?$qn`?(\\s+from)".r,
        m => m.group(1) + mask + m.group(2))
    }
    ecols.foreach { c =>
      val qn = java.util.regex.Pattern.quote(c.name)
      val ord = "array_position(array(" +
        c.labels.map(l => "'" + l.replace("'", "\\'") + "'").mkString(",") +
        s"), `${c.name}`)"
      // numeric subquery operand contract — see the SET analog above:
      // ordinal space when the subquery projects a bare column
      q = SqlText.replaceOutside(q,
        (s"(?i)(?<![\\w$$.`])`?$qn`?(\\s+(?:not\\s+)?in\\s*\\(\\s*select\\s+" +
          s"|\\s*=\\s*any\\s*\\(\\s*select\\s+)(`?[\\w$$]+`?)(\\s+from)").r,
        m => {
          val inner = m.group(2).replace("`", "")
          if (inner.matches("(?i)distinct|all")) m.matched
          else ord + m.group(1) + m.group(2) + m.group(3)
        })
      q = SqlText.replaceOutside(q,
        s"(?i)\\b((?:in|any)\\s*\\(\\s*select\\s+)`?$qn`?(\\s+from)".r,
        m => m.group(1) + ord + m.group(2))
      // col + 0 → 1-based ordinal
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?\\s*\\+\\s*0(?![\\w$$.])".r, _ => ord)
      // ORDER BY an enum column sorts by member ordinal (MySQL) — in
      // window OVER clauses and aggregate inner sorts too
      q = SqlText.replaceOutside(q,
        s"(?i)\\b(order\\s+by\\s+)`?$qn`?(?![\\w$$])".r,
        m => m.group(1) + ord)
      // abs(col) → ordinal (numeric context)
      q = SqlText.replaceOutside(q,
        s"(?i)\\babs\\s*\\(\\s*`?$qn`?\\s*\\)".r, _ => s"abs($ord)")
      // col <cmp> <number | bare column> → ordinal comparison (string
      // literals keep LABEL semantics; a dotted/parenthesized RHS is
      // someone else's reference)
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?\\s*(=|!=|<>|>=|<=|>|<)\\s*\\+?(\\d+|`?[\\w$$]+`?)(?![\\w$$.(])".r,
        m => s"$ord ${m.group(1)} ${m.group(2)}")
      // col BETWEEN a AND b (numeric/column bounds) → ordinal range
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?\\s+between\\s+(\\d+|`?[\\w$$]+`?)\\s+and\\s+(\\d+|`?[\\w$$]+`?)(?![\\w$$.(])".r,
        m => s"$ord BETWEEN ${m.group(1)} AND ${m.group(2)}")
      // IN list: numeric items map to their labels; a bare-column item
      // switches the whole predicate to ordinal space
      q = SqlText.replaceOutside(q,
        s"(?i)(?<![\\w$$.`])`?$qn`?(\\s+in\\s*\\()((?:'(?:[^'\\\\]|\\\\.)*'|[^)'])*)(\\))".r,
        m => {
          val items = SqlText.splitTop(m.group(2)).map(_.trim)
          val hasColRef = items.exists(_.matches("`?[A-Za-z_][\\w$]*`?"))
          val hasStr = items.exists(_.startsWith("'"))
          val hasNum = items.exists(_.matches("\\d+"))
          if (hasColRef)
            ord + m.group(1) + items.mkString(", ") + m.group(3)
          else if (hasStr && hasNum)
            // MIXED string+number list: the reference string-compares
            // every item — a bare number matches no member label
            // (dtype/enum block 145: in ('Pending', 4) hits only
            // 'Pending') — unless the number IS a label's text
            s"`${c.name}`" + m.group(1) + items.map { it =>
              if (it.matches("\\d+") && !c.labels.contains(it)) "NULL" else it
            }.mkString(", ") + m.group(3)
          else {
            val mapped = items.map { it =>
              """^(\d+)$""".r.findFirstMatchIn(it) match {
                case Some(nm) =>
                  val n = nm.group(1).toInt
                  if (n >= 1 && n <= c.labels.length)
                    "'" + c.labels(n - 1).replace("'", "\\'") + "'"
                  else "NULL"
                case None => it
              }
            }
            s"`${c.name}`" + m.group(1) + mapped.mkString(", ") + m.group(3)
          }
        })
    }
    q
  }
}
