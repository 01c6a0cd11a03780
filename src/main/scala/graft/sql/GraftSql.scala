package graft.sql

import graft.fulltext.Bm25
import graft.operators.TimeWindow
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** The reference's MySQL-dialect SQL surface for its NON-standard syntax,
  * accepted as raw strings and rewritten onto the existing operators —
  * the "thin SQL-rewrite layer only where needed" of SURVEY §1.1. No
  * Catalyst parser fork: each construct is recognized pre-parse, mapped
  * to standard Spark SQL plus a DataFrame post-stage, and everything
  * else passes through to `spark.sql` untouched.
  *
  * Covered constructs (reference grammar + tests cited per method):
  *  - `SELECT _wstart, _wend, aggs FROM t [WHERE ...]
  *     interval(ts, N, unit) [sliding(M, unit)] [fill(...)]`
  *    (`pkg/sql/colexec/timewin/types.go:199`,
  *    `test/distributed/cases/window/time_window.sql:13,23`)
  *  - scored `MATCH(col) AGAINST('q' [IN BOOLEAN MODE|IN NATURAL
  *    LANGUAGE MODE])` in projection and/or WHERE
  *    (`pkg/fulltext/fulltext.go:731`,
  *    `test/distributed/cases/fulltext/fulltext.sql:353-355`)
  *  - `sample(expr, N rows | K percent)` in the select list, with
  *    optional GROUP BY (`pkg/sql/colexec/sample/types.go:31-32`,
  *    `test/distributed/cases/sample/sample.sql:16`)
  *
  * Scale note: the rewrites only ever produce the operators' own plans
  * (windowed agg + bucketed gap fill, postings-table probe join, one
  * window pass per group) — the SQL layer adds no collect, no extra
  * shuffle, no driver loop.
  */
object GraftSql {

  /** GraftSql's per-session state (the scope and its release are
    * [[graft.SessionScoped]]'s). Table-keyed maps use the lowercase
    * physical table name.
    */
  private final class State {
    /** table → unique-id column used to join fulltext scores back.
      * The reference requires a PK for a fulltext index
      * (`pkg/sql/plan/build_constraint_util.go` fulltext checks); here
      * the registry defaults to the table's first column when
      * unregistered.
      */
    val primaryKeys = TrieMap[String, String]("documents" -> "doc_id")
    /** table → (index name, covered columns) for UNIQUE secondary keys —
      * REPLACE INTO / INSERT ... ON DUPLICATE KEY dedup against these as
      * well as the pk (the reference's dedup join keys on every unique
      * index, `pkg/sql/colexec/dedupjoin/`).
      */
    val uniqueKeys = TrieMap[String, Vector[(String, Seq[String])]]()
    /** child table → FOREIGN KEY constraints, composite keys included;
      * deleting/replacing a referenced parent row cascades, nulls, or
      * rejects per the action (MySQL semantics, replace.result fk
      * blocks).
      */
    val foreignKeys = TrieMap[String, Vector[FkRef]]()
    @volatile var lastRowCount = 0L
    // affected-rows records so far: a statement that made none gets the
    // ROW_COUNT() default (see `sql`)
    @volatile var rowCountWrites = 0L
    /** "scope#name" → SQL literal of SET system variables. */
    val sysVars = TrieMap[String, String]()
    /** MO cluster tables (see [[clusterDdl]]). */
    val clusterTables = TrieMap[String, Unit]()
    /** (table, column) → declared datetime/timestamp fractional-second
      * precision, recorded by the harness from the MySQL DDL.
      */
    val tsFsp = TrieMap[(String, String), Int]()
    /** table → last LOAD source path, backing the reference's
      * `__mo_filepath` load-metadata column (`pkg/sql/colexec/external/`).
      * Substituted as a literal per referencing table — exact while a
      * table is fed from one file (the external-table shape); a
      * multi-file union would need a real per-row metadata column
      * (Spark's `_metadata.file_path`) on a direct file-source scan.
      */
    val loadPaths = TrieMap[String, String]()
    /** table → registered fulltext indexes (name, columns, parser). */
    val ftIndexCols = TrieMap[String, Vector[(String, Set[String], String)]]()
    /** lowercase name → body of PREPARE'd statements. */
    val preparedStmts = TrieMap[String, String]()
    /** lowercase name → SQL literal of `@name` user variables. */
    val userVars = TrieMap[String, String]()
    /** Relevancy algorithm for MATCH scoring — the reference's
      * `SET ft_relevancy_algorithm = "TF-IDF"|"BM25"`
      * (`test/distributed/cases/fulltext/fulltext.sql:7`).
      */
    @volatile var ftAlgo = "bm25"
    /** table → (colName, kind, dim) for declared narrow vector columns. */
    val vecCols = TrieMap[String, Vector[(String, String, Int)]]()
    /** table → (auto-increment column, next value) — the reference's
      * implicit id allocation (`pkg/incrservice/`), needed at LOAD time
      * when the file carries NULL for the id column.
      */
    val autoIncCols = TrieMap[String, Vector[(String, Long)]]()
    /** table → accumulated stat patches — successive `table_stats`
      * 'patch' calls merge (associative.sql patches table_cnt first,
      * then ndv_map, and the later SELECT sees both).
      */
    val statPatches = TrieMap[String, scala.collection.mutable.LinkedHashMap[String,
      com.fasterxml.jackson.databind.JsonNode]]()
  }
  private val state = new graft.SessionScoped(() => new State)

  def registerPrimaryKey(spark: SparkSession, table: String, pk: String): Unit =
    state(spark).primaryKeys.put(table, pk)
  def clearPrimaryKey(spark: SparkSession, table: String): Unit =
    state(spark).primaryKeys.remove(table.toLowerCase)

  def registerUniqueKey(spark: SparkSession, table: String, name: String,
      cols: Seq[String]): Unit =
    state(spark).uniqueKeys.updateWith(table.toLowerCase) {
      case Some(v) => Some(v.filterNot(_._1.equalsIgnoreCase(name)) :+ (name, cols))
      case None => Some(Vector((name, cols)))
    }
  def dropUniqueKey(spark: SparkSession, table: String, name: String): Unit =
    state(spark).uniqueKeys.updateWith(table.toLowerCase)(
      _.map(_.filterNot(_._1.equalsIgnoreCase(name))))
  def clearUniqueKeys(spark: SparkSession, table: String): Unit =
    state(spark).uniqueKeys.remove(table.toLowerCase)
  def uniqueKeysOf(spark: SparkSession, table: String): Vector[(String, Seq[String])] =
    state(spark).uniqueKeys.getOrElse(table.toLowerCase, Vector.empty)

  /** One FOREIGN KEY constraint on a child table. `onDelete`/`onUpdate`
    * hold the normalized action ("no action" when unspecified);
    * `delExplicit`/`updExplicit` remember whether the DDL spelled the
    * action out (mo_foreign_keys' ACTION_ORIGIN_* column).
    */
  final case class FkRef(name: String, childCols: Seq[String],
    parent: String, parentCols: Seq[String],
    onDelete: String, onUpdate: String,
    delExplicit: Boolean, updExplicit: Boolean, db: String)

  private val fkNameSeq = new AtomicLong(0L)

  def registerForeignKeyFull(spark: SparkSession, child: String,
      name0: String, childCols: Seq[String], parent: String,
      parentCols: Seq[String], onDelete0: String, onUpdate0: String,
      updExplicit: Boolean): Unit = {
    val onDelete = Option(onDelete0).map(_.toLowerCase.trim)
      .filter(_.nonEmpty)
    val onUpdate = Option(onUpdate0).map(_.toLowerCase.trim)
      .filter(_.nonEmpty)
    val name = Option(name0).filter(_.nonEmpty)
      .getOrElse(s"__fk_${child.toLowerCase}_${fkNameSeq.incrementAndGet()}")
    val db = MoCatalog.currentDb(spark).getOrElse("default")
    val ref = FkRef(name, childCols, parent.toLowerCase, parentCols,
      onDelete.getOrElse("no action"), onUpdate.getOrElse("no action"),
      delExplicit = onDelete.isDefined, updExplicit = onUpdate.isDefined,
      db = db.toLowerCase)
    state(spark).foreignKeys.updateWith(child.toLowerCase) {
      case Some(v) => Some(v.filterNot(_.name.equalsIgnoreCase(name)) :+ ref)
      case None => Some(Vector(ref))
    }
  }

  /** `ALTER TABLE ... CHANGE old new ...` renames the FK catalog's
    * declared-case spellings — on the child side AND on every child
    * referencing `table` as parent (foreign_key/issue_26465: a
    * case-only CHANGE is a real rename for the catalog even though
    * identifiers compare equal under lower_case_table_names).
    */
  def renameFkColumn(spark: SparkSession, table: String, old: String,
      nw: String): Unit = {
    val fks = state(spark).foreignKeys
    fks.updateWith(table.toLowerCase)(_.map(_.map(r =>
      r.copy(childCols = r.childCols.map(c =>
        if (c.equalsIgnoreCase(old)) nw else c)))))
    fks.toSeq.foreach { case (child, refs) =>
      if (refs.exists(_.parent == table.toLowerCase))
        fks.put(child, refs.map(r =>
          if (r.parent == table.toLowerCase)
            r.copy(parentCols = r.parentCols.map(c =>
              if (c.equalsIgnoreCase(old)) nw else c))
          else r))
    }
  }

  def dropForeignKey(spark: SparkSession, child: String, name: String): Unit =
    state(spark).foreignKeys.updateWith(child.toLowerCase)(
      _.map(_.filterNot(_.name.equalsIgnoreCase(name))))
  def clearForeignKeys(spark: SparkSession, child: String): Unit =
    state(spark).foreignKeys.remove(child.toLowerCase)
  def foreignKeyRefs(spark: SparkSession): Seq[(String, FkRef)] =
    state(spark).foreignKeys.toSeq.flatMap { case (child, refs) => refs.map(child -> _) }
  private def childRefsOf(spark: SparkSession,
      parent: String): Seq[(String, Seq[String], Seq[String], String)] =
    state(spark).foreignKeys.toSeq.flatMap { case (child, refs) =>
      refs.filter(_.parent == parent.toLowerCase)
        .map(r => (child, r.childCols, r.parentCols, r.onDelete))
    }
  private def fkChecksOn(spark: SparkSession): Boolean =
    sysVarValue(spark, "session", "foreign_key_checks").trim != "0"

  /** A table that another existing table's foreign key references can
    * be neither dropped nor truncated (`verb`): the bulk removal cannot
    * fire referential actions. The table's own self-reference never
    * blocks.
    */
  private def checkUnreferenced(spark: SparkSession, table: String, verb: String): Unit =
    if (fkChecksOn(spark) && childRefsOf(spark, table)
        .exists(r => !r._1.equalsIgnoreCase(table) && tableExists(spark, r._1)))
      throw new IllegalStateException(s"internal error: can not $verb table " +
        s"'$table' referenced by some foreign key constraint")

  /** `spark.catalog.tableExists`, false where the name cannot even be
    * looked up (a malformed or unresolvable qualifier).
    */
  private def tableExists(spark: SparkSession, table: String): Boolean =
    try spark.catalog.tableExists(table) catch { case _: Exception => false }

  /** Per-column FK introspection rows for information_schema.
    * key_column_usage / referential_constraints and mo_foreign_keys:
    * (constraintName, db, child, childCol, ordinal, parent, parentCol,
    * deleteRule, updateRule, referencedIndexName, delOrigin, updOrigin).
    */
  def fkIntrospection(spark: SparkSession): Seq[(String, String, String,
      String, Int, String, String, String, String, String, String, String)] =
    foreignKeyRefs(spark).flatMap { case (child, r) =>
      val refIdx = referencedIndex(spark, r)
      def rule(a: String, exp: Boolean) =
        if (!exp) "NO ACTION" else a.toUpperCase
      def origin(exp: Boolean) =
        if (exp) "ACTION_ORIGIN_EXPLICIT" else "ACTION_ORIGIN_DEFAULT"
      r.childCols.zip(r.parentCols).zipWithIndex.map { case ((cc, pc), i) =>
        (r.name, r.db, child, cc, i + 1, r.parent, pc,
          rule(r.onDelete, r.delExplicit), rule(r.onUpdate, r.updExplicit),
          refIdx, origin(r.delExplicit), origin(r.updExplicit))
      }
    }

  /** Parent-side index names every FK depends on — dropping one is
    * rejected ("needed in a foreign key constraint").
    */
  def fkNeededIndexNames(spark: SparkSession, parent: String): Set[String] =
    foreignKeyRefs(spark).filter(_._2.parent == parent.toLowerCase)
      .map { case (_, r) => referencedIndex(spark, r) }.toSet

  /** The parent index an FK references: PRIMARY when its columns are the
    * pk, else the matching unique key (PRIMARY when none matches).
    */
  private def referencedIndex(spark: SparkSession, r: FkRef): String = {
    val want = r.parentCols.map(_.toLowerCase)
    if (state(spark).primaryKeys.get(r.parent)
        .map(_.split(",").map(_.trim.toLowerCase).toSeq).contains(want))
      "PRIMARY"
    else uniqueKeysOf(spark, r.parent)
      .find(_._2.map(_.toLowerCase) == want).map(_._1).getOrElse("PRIMARY")
  }

  /** Apply FK ON UPDATE actions after `table`'s key columns changed.
    * `oldNewAll` carries one row per updated row with `old_<c>` /
    * `new_<c>` for every column. Cascades recurse (a cascaded child is
    * itself a parent update — update_modern_fk's second-level cascade);
    * `visited` breaks reference cycles. Restrict/no-action reject while
    * any child still references a CHANGED old key. Each step is one
    * broadcast join of the (batch-sized) changed-key mapping against the
    * child — the same distributed shape as fkOnDelete.
    */
  private def fkAfterUpdate(spark: SparkSession, table: String,
      oldNewAll: DataFrame, visited: Set[String],
      restrictOnly: Boolean = false): Unit = {
    if (!fkChecksOn(spark)) return
    foreignKeyRefs(spark).filter(_._2.parent == table.toLowerCase).foreach {
      case (child, ref) =>
        val selfRef = child.equalsIgnoreCase(table)
        // SELF-referencing RESTRICT/NO ACTION: check the POST-update
        // state — old keys leave the key set, new keys join it, and
        // updated rows carry their NEW reference values. Runs in the
        // pre-mutation (restrictOnly) pass only; self-ref CASCADE /
        // SET NULL stays out of scope (MySQL itself rejects most
        // self-referential ON UPDATE CASCADE definitions).
        if (selfRef && restrictOnly && !visited.contains(child.toLowerCase) &&
          ref.onUpdate != "cascade" && ref.onUpdate != "set null" &&
          tableExists(spark, child)) {
          val n = ref.parentCols.length
          val changed = oldNewAll.select(
            (ref.parentCols.zipWithIndex.map { case (p, i) =>
              col(s"`old_$p`").as(s"__old$i") } ++
              ref.parentCols.zipWithIndex.map { case (p, i) =>
                col(s"`new_$p`").as(s"__new$i") }).toIndexedSeq: _*)
            .filter((0 until n).map(i =>
              !(col(s"__old$i") <=> col(s"__new$i"))).reduce(_ || _))
            .distinct().localCheckpoint(true)
          if (changed.limit(1).count() > 0) {
            val childDf = spark.table(child)
            // every updated row's pre-update key (key-unique table) —
            // identifies the non-updated remainder
            val updKeys = broadcast(oldNewAll.select(
              ref.parentCols.zipWithIndex.map { case (p, i) =>
                col(s"`old_$p`").as(s"__uok$i") }.toIndexedSeq: _*).distinct)
            val nonUpdRefs = childDf.join(updKeys,
                ref.parentCols.zipWithIndex.map { case (p, i) =>
                  childDf(s"`$p`") <=> updKeys(s"__uok$i") }.reduce(_ && _),
                "left_anti")
              .select(ref.childCols.zipWithIndex.map { case (c, i) =>
                col(s"`$c`").as(s"__ref$i") }.toIndexedSeq: _*)
            val updRefs = oldNewAll.select(
              ref.childCols.zipWithIndex.map { case (c, i) =>
                col(s"`new_$c`").cast(childDf.schema(childDf.columns
                  .indexWhere(_.equalsIgnoreCase(c))).dataType)
                  .as(s"__ref$i") }.toIndexedSeq: _*)
            val postRefs = nonUpdRefs.unionByName(updRefs)
              .filter((0 until n).map(i =>
                col(s"__ref$i").isNotNull).reduce(_ && _))
            val preKeys = childDf.select(
              ref.parentCols.zipWithIndex.map { case (p, i) =>
                col(s"`$p`").as(s"__key$i") }.toIndexedSeq: _*)
            val postKeys = preKeys.join(updKeys,
                (0 until n).map(i =>
                  preKeys(s"__key$i") <=> updKeys(s"__uok$i")).reduce(_ && _),
                "left_anti")
              .unionByName(oldNewAll.select(
                ref.parentCols.zipWithIndex.map { case (p, i) =>
                  col(s"`new_$p`").cast(childDf.schema(childDf.columns
                    .indexWhere(_.equalsIgnoreCase(p))).dataType)
                    .as(s"__key$i") }.toIndexedSeq: _*))
            if (postRefs.join(postKeys,
                (0 until n).map(i =>
                  postRefs(s"__ref$i") === postKeys(s"__key$i"))
                  .reduce(_ && _),
                "left_anti").limit(1).count() > 0)
              throw new IllegalStateException(
                "Cannot delete or update a parent row: " +
                  "a foreign key constraint fails")
          }
        }
        if (!visited.contains(child.toLowerCase) && !selfRef &&
          tableExists(spark, child)) {
          val n = ref.parentCols.length
          val mapping0 = oldNewAll.select(
            (ref.parentCols.zipWithIndex.map { case (p, i) =>
              col(s"`old_$p`").as(s"__old$i") } ++
              ref.parentCols.zipWithIndex.map { case (p, i) =>
                col(s"`new_$p`").as(s"__new$i") }).toIndexedSeq: _*)
            .filter((0 until n).map(i =>
              !(col(s"__old$i") <=> col(s"__new$i"))).reduce(_ || _))
            .distinct().localCheckpoint(true)
          if (mapping0.limit(1).count() > 0) {
            val mapping = broadcast(mapping0.withColumn("__fkhit", lit(true)))
            val childDf = spark.table(child)
            val ccols = childDf.columns.toSeq
            val cond = ref.childCols.zipWithIndex.map { case (c, i) =>
              childDf(s"`$c`") === mapping(s"__old$i") }.reduce(_ && _)
            def newVal(i: Int, c: String): Column = ref.onUpdate match {
              case "cascade" => col(s"__new$i")
                .cast(childDf.schema(childDf.columns.indexWhere(_.equalsIgnoreCase(c))).dataType)
              case _ => lit(null)
            }
            ref.onUpdate match {
              case "cascade" | "set null" =>
                if (!restrictOnly) {
                  // a SECOND FK on the same child columns can veto the
                  // cascade: the reference leaves the child untouched
                  // when the cascaded value is absent from the other
                  // parent (update_modern_fk's dual-FK block)
                  val vetoed = ref.onUpdate == "cascade" &&
                    state(spark).foreignKeys.getOrElse(child.toLowerCase, Vector.empty)
                      .exists { other =>
                        !other.name.equalsIgnoreCase(ref.name) &&
                        other.childCols.map(_.toLowerCase) ==
                          ref.childCols.map(_.toLowerCase) &&
                        tableExists(spark, other.parent) && {
                          val pk = broadcast(spark.table(other.parent)
                            .select(other.parentCols.zipWithIndex.map {
                              case (p, i) => col(s"`$p`").as(s"__op$i")
                            }.toIndexedSeq: _*).distinct)
                          val c2 = (0 until n).map(i =>
                            mapping0(s"__new$i") === pk(s"__op$i"))
                            .reduce(_ && _)
                          mapping0.join(pk, c2, "left_anti")
                            .limit(1).count() > 0
                        }
                      }
                  if (!vetoed) {
                    val joined = childDf.join(mapping, cond, "left_outer")
                    val updatedChild = ref.childCols.zipWithIndex
                      .foldLeft(joined) { case (d, (c, i)) =>
                        d.withColumn(c,
                          when(col("__fkhit"), newVal(i, c))
                            .otherwise(col(s"`$c`")))
                      }
                    // the child's own children see this as a key update
                    // too: capture old/new BEFORE committing
                    val childOldNew = joined.filter(col("__fkhit"))
                      .select((ccols.map(c => col(s"`$c`").as(s"old_$c")) ++
                        ccols.map { c =>
                          ref.childCols.zipWithIndex
                            .find(_._1.equalsIgnoreCase(c)) match {
                            case Some((_, i)) => newVal(i, c).as(s"new_$c")
                            case None => col(s"`$c`").as(s"new_$c")
                          }
                        }).toIndexedSeq: _*).localCheckpoint(true)
                    commitTable(spark, child, Effect(Some(updatedChild
                      .withColumn(Hit, coalesce(col("__fkhit"), lit(false))))))
                    fkAfterUpdate(spark, child, childOldNew,
                      visited + table.toLowerCase)
                  }
                }
              case _ =>
                if (childDf.join(mapping, cond, "left_semi").limit(1).count() > 0)
                  throw new IllegalStateException(
                    "Cannot delete or update a parent row: " +
                      "a foreign key constraint fails")
            }
          }
        }
    }
  }

  // ------------------------------------------------------------------
  // FOREIGN KEY DDL — validation shared by CREATE TABLE (via the
  // conformance harness) and ALTER TABLE ADD FOREIGN KEY below.
  // Reference: pkg/sql/plan/build_constraint_util.go checks, error
  // texts from fk_base.result.
  // ------------------------------------------------------------------

  /** Validate one FK definition against live schemas: the referenced
    * columns must exist, be covered by the parent's PRIMARY KEY or one
    * UNIQUE KEY exactly, and type-match the child columns.
    */
  def validateForeignKeyDdl(spark: SparkSession, child: String,
      childCols: Seq[String], parent: String,
      parentCols: Seq[String]): Unit = {
    if (!tableExists(spark, parent)) return // forward/self refs
    val pSchema = spark.table(parent).schema
    parentCols.foreach { p =>
      if (!pSchema.exists(_.name.equalsIgnoreCase(p)))
        throw new IllegalStateException(
          s"internal error: column '$p' no exists in table '$parent'")
    }
    val pkCols = state(spark).primaryKeys.get(parent.toLowerCase)
      .map(_.split(",").map(_.trim.toLowerCase).toSeq).getOrElse(Seq.empty)
    val want = parentCols.map(_.toLowerCase)
    val covered = pkCols == want ||
      uniqueKeysOf(spark, parent).exists(_._2.map(_.toLowerCase) == want)
    if (!covered)
      throw new IllegalStateException(
        "internal error: failed to add the foreign key constraint")
    if (tableExists(spark, child) &&
      !child.equalsIgnoreCase(parent)) {
      val cSchema = spark.table(child).schema
      childCols.zip(parentCols).foreach { case (c, p) =>
        (cSchema.find(_.name.equalsIgnoreCase(c)),
          pSchema.find(_.name.equalsIgnoreCase(p))) match {
          case (Some(cf), Some(pf)) if cf.dataType != pf.dataType =>
            throw new IllegalStateException(
              s"internal error: type of reference column '$p' is not " +
                s"match for column '$c'")
          case _ =>
        }
      }
    }
  }

  private val AlterAddFkRe =
    """(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+(add\s+(?:constraint\s.+|foreign\s+key\s.+))$""".r
  private val AlterDropFkRe =
    """(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+drop\s+foreign\s+key\s+`?(\w+)`?\s*$""".r
  private val AddFkItemRe =
    """(?is)^add\s+(?:constraint\s+`?(\w+)`?\s+)?foreign\s+key\s*(?:`?(\w*)`?\s*)?\(([^)]*)\)\s*references\s+(?:`?\w+`?\.)?`?(\w+)`?\s*\(([^)]*)\)\s*((?:on\s+(?:delete|update)\s+(?:restrict|cascade|set\s+null|set\s+default|no\s+action)\s*)*)$""".r

  private[graft] def parseFkActions(txt: String): (Option[String], Option[String]) = {
    var del: Option[String] = None
    var upd: Option[String] = None
    """(?i)on\s+(delete|update)\s+(restrict|cascade|set\s+null|set\s+default|no\s+action)""".r
      .findAllMatchIn(Option(txt).getOrElse("")).foreach { m =>
        val a = m.group(2).toLowerCase.replaceAll("\\s+", " ")
        if (m.group(1).equalsIgnoreCase("delete")) del = Some(a)
        else upd = Some(a)
      }
    (del, upd)
  }

  /** ALTER TABLE ... ADD [CONSTRAINT x] FOREIGN KEY / DROP FOREIGN KEY —
    * pure metadata here (the physical layout doesn't change); ADD
    * validates the DDL and the EXISTING rows.
    */
  private def alterFkRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    SqlText.matchMasked(AlterDropFkRe, q).foreach { g =>
      dropForeignKey(spark, g(0), g(1))
      return Some(spark.emptyDataFrame)
    }
    val g = SqlText.matchMasked(AlterAddFkRe, q).getOrElse(return None)
    val table = g(0)
    val items = SqlText.splitTop(g(1)).map(_.trim)
    if (!items.forall(i => AddFkItemRe.findFirstMatchIn(i).isDefined))
      return None // other ALTER ADD forms (columns, plain indexes)
    val parsed = items.map { i =>
      val m = AddFkItemRe.findFirstMatchIn(i).get
      val name = Option(m.group(1)).filter(_.nonEmpty)
        .orElse(Option(m.group(2)).filter(_.nonEmpty)).orNull
      val childCols = m.group(3).split(",").map(
        _.trim.stripPrefix("`").stripSuffix("`")).toSeq
      val parentCols = m.group(5).split(",").map(
        _.trim.stripPrefix("`").stripSuffix("`")).toSeq
      (name, childCols, m.group(4), parentCols, m.group(6))
    }
    // same-statement duplicate constraint names reject atomically
    val dup = parsed.flatMap(p => Option(p._1)).groupBy(_.toLowerCase)
      .collectFirst { case (_, v) if v.length > 1 => v.head }
    dup.foreach(d => throw new IllegalStateException(
      s"Duplicate foreign key constraint name '$d'"))
    parsed.foreach { case (name, childCols, parent, parentCols, acts) =>
      validateForeignKeyDdl(spark, table, childCols, parent, parentCols)
      // existing rows must already satisfy the new constraint
      if (fkChecksOn(spark) && tableExists(spark, table)) {
        val t = spark.table(table)
        fkCheckIncomingRowsFor(spark, table, t.columns.toSeq, t,
          childCols, parent, parentCols)
      }
      val (del, upd) = parseFkActions(acts)
      registerForeignKeyFull(spark, table, name, childCols, parent,
        parentCols, del.orNull, upd.orNull, upd.isDefined)
    }
    Some(spark.emptyDataFrame)
  }

  // ------------------------------------------------------------------
  // ANALYZE TABLE — column NDV stats (reference `pkg/sql/plan/`
  // buildAnalyze; analyze/analyze_stmt.result). The reference answers
  // with one approx_count_distinct column per analyzed column of the
  // FIRST listed table; later tables are scanned for errors only.
  // ------------------------------------------------------------------
  private val AnalyzeRe = """(?is)^analyze\s+table\s+(.+)$""".r
  private val BtNameRe = """`((?:[^`]|``)+)`|([\w$]+)""".r

  private def analyzeRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    if ("""(?is)^check\s+table\b""".r.findFirstIn(q).isDefined)
      throw new IllegalStateException(
        "not supported: CHECK TABLE is not supported")
    // snapshots are storage-engine versioning — accepted as no-ops so
    // the surrounding statements keep their lineage
    if ("""(?is)^(create|drop)\s+snapshot\b""".r.findFirstIn(q).isDefined)
      return Some(spark.emptyDataFrame)
    val m = AnalyzeRe.findFirstMatchIn(q).getOrElse(return None)
    // strip a trailing {snapshot = '...'} clause (time-travel scan)
    val listTxt = m.group(1).replaceAll("""(?is)\{\s*snapshot\s*=[^}]*\}""", "").trim
    val items = SqlText.splitTop(listTxt).map(_.trim).filter(_.nonEmpty)
    if (items.isEmpty) return None
    val parsed = items.map { it =>
      val (namePart, colsPart) = it.indexOf('(') match {
        case -1 => (it.trim, None)
        case p => (it.substring(0, p).trim,
          Some(it.substring(p + 1, it.lastIndexOf(')'))))
      }
      val names = BtNameRe.findAllMatchIn(namePart)
        .map(g => Option(g.group(1)).map(_.replace("``", "`"))
          .getOrElse(g.group(2))).toSeq
      val (db, tbl) = names match {
        case Seq(d, t) => (Some(d), t)
        case Seq(t) => (None, t)
        case _ => return None
      }
      val cols = colsPart.map(ct => BtNameRe.findAllMatchIn(ct)
        .map(g => Option(g.group(1)).map(_.replace("``", "`"))
          .getOrElse(g.group(2))).toSeq)
      (db, tbl, cols)
    }
    parsed.foreach { case (db, tbl, _) =>
      if (!tableExists(spark, tbl)) {
        val d = db.orElse(MoCatalog.currentDb(spark)).getOrElse("default")
        throw new IllegalStateException(s"no such table $d.$tbl")
      }
    }
    val (_, tbl, colsOpt) = parsed.head
    val t = spark.table(s"`$tbl`")
    val cols = colsOpt.getOrElse(t.columns.toSeq)
    // exact NDV here: the reference's HLL is exact at golden sizes and
    // the column NAME carries the approx_count_distinct contract
    Some(t.agg(
      count_distinct(col(s"`${cols.head}`"))
        .as(s"approx_count_distinct(${cols.head})"),
      cols.tail.map(c => count_distinct(col(s"`$c`"))
        .as(s"approx_count_distinct($c)")): _*))
  }

  private val PlainInsertHeadRe =
    """(?is)^insert\s+into\s+(?:`?\w+`?\.)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*((?:values|select|with|table)\b[\s\S]*)$""".r

  /** Referential check for the PLAIN INSERT path (REPLACE / ON
    * DUPLICATE / IGNORE have their own): evaluate the source rows once
    * and anti-join against each parent. Bails silently when the source
    * can't be shaped (the engine's own error then lands as usual).
    */
  private def fkCheckPlainInsert(spark: SparkSession, q: String): Unit = {
    if (!fkChecksOn(spark)) return
    val g = SqlText.matchMasked(PlainInsertHeadRe, q).getOrElse(return)
    val table = g(0)
    if (!state(spark).foreignKeys.contains(table.toLowerCase)) return
    if (!tableExists(spark, table)) return
    try {
      val target = spark.table(table)
      val listed = Option(g(1))
        .map(SqlText.splitTop(_).map(_.trim.stripPrefix("`").stripSuffix("`")))
        .getOrElse(target.columns.toSeq)
      val body = g(2).trim
      val src = spark.sql(
        if (body.toLowerCase.startsWith("values")) s"SELECT * FROM ($body)"
        else body)
      if (src.columns.length != listed.length) return
      var full = src.toDF(listed: _*)
      target.schema.fields.foreach { f =>
        if (!listed.exists(_.equalsIgnoreCase(f.name)))
          full = full.withColumn(f.name, lit(null).cast(f.dataType))
      }
      full = full.select(target.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
      fkCheckIncomingRows(spark, table, target.columns.toSeq, full)
    } catch {
      case e: IllegalStateException => throw e
      case _: Exception => // unshapeable source: let the engine decide
    }
  }

  /** INSERT-side referential check: every incoming row's FK columns
    * must reference an existing parent row (a NULL in any column exempts
    * the row — MATCH SIMPLE). A self-referencing FK checks against the
    * post-statement state (existing ∪ incoming). One broadcast anti-join
    * per constraint — distributed, no driver materialization.
    */
  private def fkCheckIncomingRows(spark: SparkSession, table: String,
      tcols: Seq[String], named: DataFrame): Unit = {
    if (!fkChecksOn(spark)) return
    state(spark).foreignKeys.getOrElse(table.toLowerCase, Vector.empty).foreach {
      case FkRef(_, childCols, parent, parentCols, _, _, _, _, _) =>
        fkCheckIncomingRowsFor(spark, table, tcols, named,
          childCols, parent, parentCols)
    }
  }

  /** One constraint's insert-side check over `named` rows. */
  private def fkCheckIncomingRowsFor(spark: SparkSession, table: String,
      tcols: Seq[String], named: DataFrame, childCols: Seq[String],
      parent: String, parentCols: Seq[String]): Unit = {
    if (spark.catalog.tableExists(parent) &&
      childCols.forall(c => tcols.exists(_.equalsIgnoreCase(c)))) {
      val parentRows =
        if (parent.equalsIgnoreCase(table))
          spark.table(parent)
            .select(tcols.map(c => col(s"`$c`")): _*).unionByName(named)
        else spark.table(parent)
      val keys = broadcast(parentRows
        .select(parentCols.zipWithIndex.map { case (p, i) =>
          col(s"`$p`").as(s"__fkp$i") }: _*).distinct)
      val nn = named.filter(
        childCols.map(c => col(s"`$c`").isNotNull).reduce(_ && _))
      val cond = childCols.zipWithIndex.map { case (c, i) =>
        nn(s"`$c`") === keys(s"__fkp$i") }.reduce(_ && _)
      if (nn.join(keys, cond, "left_anti").limit(1).count() > 0)
        throw new IllegalStateException(
          "internal error: Cannot add or update a child row: " +
            "a foreign key constraint fails")
    }
  }

  /** Apply FK ON DELETE actions for the parent rows in `doomed`:
    * cascade deletes the referencing child rows, `set null` clears the
    * referencing column, everything else (restrict/no action/set
    * default) rejects while references exist. Self-referencing FKs are
    * resolved by the parent statement itself and skip here.
    */
  private def fkOnDelete(spark: SparkSession, parent: String,
      doomed: DataFrame): Unit = {
    if (!fkChecksOn(spark)) return
    childRefsOf(spark, parent).foreach { case (child, childCols, parentCols, action) =>
      if (!child.equalsIgnoreCase(parent) && spark.catalog.tableExists(child)) {
        val childDf = spark.table(child)
        val keys = doomed.select(parentCols.map(p => col(s"`$p`")): _*)
        action match {
          case "cascade" =>
            commitTable(spark, child,
              Effect(Some(flagKeys(childDf, childCols, keys)), removeHits = true))
          case "set null" =>
            commitTable(spark, child, Effect(Some(nullRefs(childDf, childCols, keys))))
          case _ =>
            if (flagKeys(childDf, childCols, keys).filter(col(Hit)).limit(1).count() > 0)
              throw new IllegalStateException(
                "internal error: Cannot delete or update a parent row: " +
                  "a foreign key constraint fails")
        }
      }
    }
  }

  /** Rows of `named` whose FK columns reference a MISSING parent row
    * (INSERT IGNORE silently drops them). */
  private def fkFilterOrphans(spark: SparkSession, table: String,
      named: DataFrame): DataFrame =
    state(spark).foreignKeys.getOrElse(table.toLowerCase, Vector.empty)
      .foldLeft(named) { case (df, FkRef(_, childCols, parent, parentCols, _, _, _, _, _)) =>
        if (!spark.catalog.tableExists(parent) ||
          parent.equalsIgnoreCase(table)) df
        else {
          val keys = broadcast(spark.table(parent)
            .select(parentCols.zipWithIndex.map { case (p, i) =>
              col(s"`$p`").as(s"__fkp$i") }: _*).distinct)
          val cols = df.columns.toSeq
          val anyNull = childCols.map(c => col(s"`$c`").isNull).reduce(_ || _)
          val allSet = childCols.map(c => col(s"`$c`").isNotNull).reduce(_ && _)
          val nn = df.filter(allSet)
          val cond = childCols.zipWithIndex.map { case (c, i) =>
            nn(s"`$c`") === keys(s"__fkp$i") }.reduce(_ && _)
          df.filter(anyNull)
            .unionByName(nn.join(keys, cond, "left_semi"))
            .select(cols.map(c => col(s"`$c`")).toIndexedSeq: _*)
        }
      }

  private val viewSeq = new AtomicLong(0L)
  private val CreateViewRe =
    """(?is)^\s*create\s+(?:or\s+replace\s+)?(?:(?:global\s+)?temp(?:orary)?\s+)?view\b""".r

  /** Run `stmt` through `body`, then drop the statement's own temp
    * `views`: `spark.sql` analyzes eagerly, so the DataFrame `body`
    * returns already holds each view's plan inlined, and a view left in
    * the catalog only keeps that plan (and its data) alive for the rest of
    * the session. A `CREATE VIEW` statement keeps them, because Spark
    * stores a SQL view's text and resolves the names in it on every read.
    * Dropped through the session catalog, which leaves the cache alone
    * (`Catalog.dropTempView` would also uncache a plan equal to the view's).
    */
  private def dropViewsAfter(spark: SparkSession, stmt: String, views: Seq[String])(
      body: => DataFrame): DataFrame =
    if (CreateViewRe.findFirstIn(stmt).isDefined) body
    else try body finally views.foreach(spark.sessionState.catalog.dropTempView)

  /** Register `df` as the fresh temp view `<prefix>N`, run `body` on its
    * name for the statement `stmt`, and drop the view again.
    */
  private def overView(spark: SparkSession, stmt: String, prefix: String, df: DataFrame)(
      body: String => DataFrame): DataFrame = {
    val v = s"$prefix${viewSeq.incrementAndGet()}"
    df.createOrReplaceTempView(v)
    dropViewsAfter(spark, stmt, Seq(v))(body(v))
  }

  /** Entry point: accept reference-dialect SQL, return the DataFrame. */
  private val SaveHintRe = """(?is)^/\*\s*save_result\s*\*/\s*""".r

  def sql(spark: SparkSession, query: String): DataFrame = {
    val qTrim = query.trim.stripSuffix(";").trim
    // the reference's save_result hint tags a query whose result set is
    // retained for result_scan/meta_scan
    val doSave = SaveHintRe.findFirstIn(qTrim).isDefined
    val q0 = SaveHintRe.replaceFirstIn(qTrim, "")
    val writesBefore = state(spark).rowCountWrites
    sqlDepth.set(sqlDepth.get() + 1)
    val res =
      try sqlInner(spark, q0)
      finally sqlDepth.set(sqlDepth.get() - 1)
    // MySQL's ROW_COUNT() protocol: when no DML path recorded a count
    // for this statement, a SELECT-like statement leaves -1 and other
    // statements (DDL, SET, USE, no-op CALL bodies) leave 0. Applies at
    // the OUTERMOST statement only — rewrite-internal probe queries and
    // procedure control-flow evaluation are not statements
    if (sqlDepth.get() == 0 && state(spark).rowCountWrites == writesBefore) {
      val low = q0.toLowerCase
      if (low.startsWith("select") || low.startsWith("with") ||
        low.startsWith("(") || low.startsWith("values") ||
        low.startsWith("show") || low.startsWith("desc") ||
        low.startsWith("explain") || low.startsWith("table"))
        setRowCount(spark, -1L)
      else {
        // CTAS counts the rows it materialized
        val ctas = """(?is)^create\s+table\s+(?:if\s+not\s+exists\s+)?(?:`?\w+`?\.)?`?(\w+)`?\s+as\s+select\b.*""".r
          .findFirstMatchIn(q0)
        ctas match {
          case Some(m) =>
            setRowCount(spark,
              try spark.table(resolveTableName(spark, None, m.group(1))).count()
              catch { case _: Exception => 0L })
          case None => setRowCount(spark, 0L)
        }
      }
    }
    if (doSave && QueryResults.enabled(spark)) QueryResults.save(spark, res)
    res
  }

  private def sqlInner(spark: SparkSession, q0v: String): DataFrame = {
    // MySQL versioned comments execute their content (`/*!40000 if
    // exists */` → `if exists`); a `--`-commented or empty body is a
    // no-op statement (ddl/mysql_ddl_1.sql:3-6)
    val q0x = versionedComments(q0v)
    // `CREATE DEFINER = user@host VIEW ...` — the definer is MySQL
    // privilege metadata (mysql_ddl_3.result /*!50001 dumps); strip it
    // BEFORE @-var substitution can eat the `@`
    var q0 = q0x.replaceAll(
      """(?is)^\s*create\s+definer\s*=\s*`?[\w%.]+`?\s*@\s*`?[\w%.]+`?\s+""",
      "CREATE ")
    if (q0.trim.isEmpty || q0.trim.startsWith("--"))
      return spark.emptyDataFrame
    // inline table-remap hint `/*+ {json} */ select ...` (hint/ BVT
    // category); other /*+ hints are optimizer advice and drop
    var hintBody: Option[String] = None
    if (q0.trim.startsWith("/*+")) {
      val t = q0.trim
      val close = t.indexOf("*/")
      if (close > 0) {
        val body = t.substring(3, close).trim
        q0 = t.substring(close + 2).trim
        if (body.startsWith("{")) hintBody = Some(body)
      }
    }
    // leading plain block comments (`/* comment */ replace into ...`,
    // dml/replace): strip — versioned /*!...*/ already executed above
    while (q0.trim.startsWith("/*")) {
      val t = q0.trim
      val close = t.indexOf("*/")
      if (close < 0) return spark.emptyDataFrame
      q0 = t.substring(close + 2).trim
      if (q0.isEmpty) return spark.emptyDataFrame
    }
    if (!Remap.applying &&
      sysVarValue(spark, "session", "enable_remap_hint") == "1") {
      val sess = remapRulesCache.getOrElseUpdate(
        sysVarValue(spark, "session", "remap_rewrites"),
        Remap.parse(spark, unquoteLit(
          sysVarValue(spark, "session", "remap_rewrites"))))
      // an invalid inline hint is an ERROR unless session rules exist
      // (remap_errors: the same bad hint is silently ignored once
      // remap_rewrites is set)
      val hintRules = hintBody.map { b =>
        try Remap.parse(spark, b)
        catch { case e: Exception => if (sess.isEmpty) throw e else Remap.Empty }
      }.getOrElse(Remap.Empty)
      // inline hint rules first (their bodies still see the session
      // rules), then the session rules cover the remaining relations.
      // The hint pass INHERITS the session remapdb (hint wins on
      // conflict): an inline rewrite keyed on the DESTINATION db must
      // anchor after `rdb_src.t` → `rdb_dst.t` (remap_db.sql:50)
      val hintMerged =
        if (hintRules.isEmpty && sess.remapdb.isEmpty) hintRules
        else hintRules.copy(remapdb = sess.remapdb ++ hintRules.remapdb)
      q0 = Remap.applyText(spark, q0, hintMerged, sess)
      q0 = Remap.applyText(spark, q0, sess)
    }
    sysVarSetRewrite(spark, q0).orElse(showVariablesRewrite(spark, q0)).getOrElse {
    val q0m = sysVarSubst(spark, q0)
    // under sql_mode ANSI_QUOTES double quotes delimit IDENTIFIERS
    // (ddl/table_partition.test:191-192) — convert to backticks so the
    // rest of the pipeline sees one quoting dialect
    val q0s =
      if (sysVarValue(spark, "session", "sql_mode")
          .toUpperCase.contains("ANSI_QUOTES")) ansiQuotes(q0m)
      else q0m
    prepareRewrite(spark, q0s).getOrElse {
      // user variables resolve to their SET-time literals everywhere else
      val qUv0 = SqlText.replaceOutside(q0s, UserVarRe, m => userVarLit(spark, m.group(1)))
      val q = clusterDdl(spark, qUv0)
      // auto-increment fill + allocator hooks run AFTER the namespacing
      // pass below (so qualified/mangled targets resolve first); the
      // commit callback is assigned there
      var aiDone: Option[Throwable] => Unit = _ => ()
      try {
      val df0 = {
      // capture the ANN mode hint before MySqlCompat strips the
      // `by rank [with option 'mode=x']` suffix
      val annMode = """(?is)\bby\s+rank\b(?:\s+with\s+option\s+'mode=(\w+)')?"""
        .r.findFirstMatchIn(q)
        .map(m => Option(m.group(1)).map(_.toLowerCase).getOrElse("post"))
      // publications & subscriptions (BVT publication_subscription/)
      pubSubRewrite(spark, q).foreach(return _)
      // session db bookkeeping + the mo_catalog introspection slice
      """(?is)^use\s+(?:`([^`]+)`|([^\s`;]+))\s*$""".r.findFirstMatchIn(q)
        .foreach { m =>
        val db = Option(m.group(1)).getOrElse(m.group(2))
        // switching to a database that was never created errors — the
        // /*!40101 use ...*/ probe in mysql_ddl_1.result relies on it;
        // the reference's predefined system dbs always exist
        if (!MoCatalog.dbExists(spark, db) &&
          !MoCatalog.SystemDbs.contains(db.toLowerCase))
          throw new IllegalArgumentException(
            s"Unknown database $db")
        // a subscription db whose publication is gone is unusable
        // (publish_subscribe.result:95)
        MoCatalog.subOf(spark, db).foreach { case (_, pub) =>
          if (MoCatalog.subPublication(spark, db).isEmpty)
            throw new IllegalStateException(
              s"internal error: there is no publication $pub")
        }
        MoCatalog.useDb(spark, db)
        return spark.emptyDataFrame
      }
      // attribute tails (charset etc.) are tolerated — the subscription
      // form (`from <acct> publication <pub>`) returned above already
      """(?is)^create\s+database\s+(?:/\*.*?\*/\s*)*(?:if\s+not\s+exists\s+)?(?:`([^`]+)`|([^\s`;]+)).*$""".r
        .findFirstMatchIn(q).foreach { m =>
          MoCatalog.createDb(spark, Option(m.group(1)).getOrElse(m.group(2)))
          return spark.emptyDataFrame
        }
      """(?is)^drop\s+database\s+(?:if\s+exists\s+)?(?:`([^`]+)`|([^\s`;]+))\s*;?\s*$""".r
        .findFirstMatchIn(q).foreach { m =>
          val db = Option(m.group(1)).getOrElse(m.group(2))
          // a database some publication still publishes cannot drop
          if (MoCatalog.isPublishing(spark, db))
            throw new IllegalStateException("internal error: can not " +
              s"drop database '$db' which is publishing")
          // the db's TABLES die with it; the reference reports their
          // count as affected rows (row_count.result:47-53). A
          // subscription db drops only the binding — its tables are the
          // publisher's (scopedDbKey, not the publisher-resolved key)
          if (MoCatalog.subOf(spark, db).isEmpty)
            dropDbTables(spark, MoCatalog.scopedDbKey(spark, db))
          else setRowCount(spark, 0L)
          // dropping the CURRENT database leaves the session db-less
          // (mysql_ddl_1.result: database() reverts)
          MoCatalog.dropDb(spark, db)
          return spark.emptyDataFrame
        }
      // ALTER DATABASE attributes (mysql_compatibility_mode etc.) are
      // metadata with no Spark analog — accepted no-ops
      if ("""(?is)^alter\s+database\b""".r.findFirstIn(q).isDefined)
        return spark.emptyDataFrame
      rbacRewrite(spark, q).foreach(return _)
      noDbGuard(spark, q)
      pubSubGuard(spark, q)
      // row_count() is a session counter — substitute the literal
      val qRc =
        if (!q.toLowerCase.contains("row_count")) q
        else SqlText.replaceOutside(q, """(?i)\brow_count\s*\(\s*\)""".r,
          _ => currentRowCount(spark).toString)
      val qMo =
        if (!qRc.toLowerCase.contains("mo_catalog") &&
          !qRc.toLowerCase.contains("database()")) qRc
        else {
          if (qRc.toLowerCase.contains("mo_catalog"))
            MoCatalog.ensureViews(spark, t => state(spark).primaryKeys.contains(t.toLowerCase))
          val dbLit = MoCatalog.currentDb(spark)
            .map(d => s"'$d'").getOrElse("CAST(NULL AS STRING)")
          SqlText.replaceOutside(
            SqlText.replaceOutside(qRc,
              "(?i)`?\\bmo_catalog`?\\s*\\.\\s*`?mo_(\\w+)`?".r,
              m => "_graft_mo_" + m.group(1)),
            """(?i)\bdatabase\s*\(\s*\)""".r, _ => dbLit)
        }
      // current_account() table function: the fixed sys-session identity
      // (account_info_func.result)
      val qAcct =
        if (!qMo.toLowerCase.contains("current_account")) qMo
        else SqlText.replaceOutside(qMo,
          "(?i)\\bcurrent_account\\s*\\(\\s*\\)".r,
          _ => "(select 'sys' as account_name, 0 as account_id, " +
            "'dump' as user_name, 1 as user_id, 'moadmin' as role_name, " +
            "0 as role_id)")
      // system_metrics.metric / system.statement_info (func_purge_log,
      // func_mo_log_date) — synthetic telemetry views
      val qSm = {
        val low0 = qAcct.toLowerCase
        if (!low0.contains("system_metrics") &&
          !low0.contains("statement_info")) qAcct
        else {
          MoCatalog.ensureMetricsView(spark)
          SqlText.replaceOutside(
            SqlText.replaceOutside(qAcct,
              "(?i)`?\\bsystem_metrics`?\\s*\\.\\s*`?metric`?".r,
              _ => "_graft_sm_metric"),
            "(?i)`?\\bsystem`?\\s*\\.\\s*`?statement_info`?".r,
            _ => "_graft_sys_statement_info")
        }
      }
      // information_schema views (metadata BVT category): statistics
      // reads the index registry (SHOW INDEX shares it below),
      // tables/columns the declared-DDL registry, the FK introspection
      // pair are empty relations with the MySQL column contract
      val isDbCur = MoCatalog.currentDb(spark)
        .exists(_.equalsIgnoreCase("information_schema"))
      val qIs =
        if (!qSm.toLowerCase.contains("information_schema") && !isDbCur) qSm
        else {
          MoCatalog.ensureStatisticsView(spark)
          MoCatalog.ensureInfoSchemaViews(spark)
          val isViews = Seq("statistics", "tables", "columns",
            "referential_constraints", "key_column_usage", "partitions",
            "schemata", "character_sets", "table_constraints")
          val q1 = isViews.foldLeft(qSm) { (s, v) =>
            SqlText.replaceOutside(s,
              s"(?i)`?\\binformation_schema`?\\s*\\.\\s*`?$v`?".r,
              _ => s"_graft_is_$v")
          }
          // `use information_schema` makes the bare view names resolve
          // (lower_case_table_names reads TABLES unqualified)
          if (!isDbCur) q1
          else SqlText.replaceOutside(q1,
            ("(?i)\\b(from|join)\\s+`?(" + isViews.mkString("|") +
              ")`?(?![\\w$.(])").r,
            m => s"${m.group(1)} _graft_is_${m.group(2).toLowerCase}")
        }
      """(?is)^show\s+(?:index|indexes|keys)\s+(?:from|in)\s+`?(\w+)`?(?:\s+(?:from|in)\s+`?\w+`?)?\s*$""".r
        .findFirstMatchIn(qIs)
        .foreach(m => return MoCatalog.showIndexRows(spark, m.group(1)))
      // namespacing resolution: logical `[db.]table` → physical names
      // (PREPARE bodies built with concat('`', database(), '`.`', name,
      // '`') arrive fully qualified; data like 'c@test.com' is protected
      // by the literal-masked scan, func_percent_rank.sql)
      val qDb = namespaceRewrite(spark, qIs)
      // TRUNCATE of a referenced parent is rejected like DROP (MySQL/
      // reference: the bulk delete can't fire referential actions)
      """(?is)^truncate\s+(?:table\s+)?`?(\w+)`?\s*$""".r
        .findFirstMatchIn(qDb).foreach(m => checkUnreferenced(spark, m.group(1), "truncate"))
      // dropping a table forgets its fulltext indexes (a recreated
      // table starts with none — fulltext.sql:438-440 recreates and
      // re-registers the same index name)
      """(?is)^drop\s+table\s+(?:if\s+exists\s+)?`?(\w+)`?\s*$""".r
        .findFirstMatchIn(qDb)
        .foreach { m =>
          checkUnreferenced(spark, m.group(1), "drop")
          forgetTable(spark, m.group(1))
        }
      // a dropped view leaves the namespace + info_schema registries too
      """(?is)^drop\s+view\s+(?:if\s+exists\s+)?`?(\w+)`?\s*$""".r
        .findFirstMatchIn(qDb)
        .foreach { m =>
          Namespaces.forget(spark, m.group(1))
          MoCatalog.dropViewMeta(spark, m.group(1))
          MoTypeInfer.forget(spark, m.group(1))
        }
      // multi-table DROP (ddl/drop_table_multiple): drops every listed
      // TABLE; views and sequences are skipped (MySQL's DROP TABLE does
      // not touch them); without IF EXISTS a missing name aborts the
      // whole statement (reference semantics: t1 survives
      // `drop table t1, no_such_table`)
      """(?is)^drop\s+table\s+(if\s+exists\s+)?(`?[\w$]+`?(?:\s*,\s*`?[\w$]+`?)+)\s*$""".r
        .findFirstMatchIn(qDb).foreach { m =>
          val ifExists = m.group(1) != null
          val names = m.group(2).split(",").toSeq
            .map(_.trim.stripPrefix("`").stripSuffix("`")).distinct
          def kind(n: String): String =
            try spark.catalog.getTable(n).tableType
            catch { case _: Exception => "MISSING" }
          if (!ifExists && names.exists(n => kind(n) == "MISSING"))
            throw new IllegalArgumentException("Unknown table '" +
              names.find(n => kind(n) == "MISSING").get + "'")
          names.foreach { n =>
            val k = kind(n)
            if (k != "MISSING" && k != "VIEW" && k != "TEMPORARY") {
              checkUnreferenced(spark, n, "drop")
              spark.sql(s"DROP TABLE IF EXISTS `$n`")
              forgetTable(spark, n)
            }
          }
          return spark.emptyDataFrame
        }
      // ALTER ADD/DROP COLUMN keeps information_schema.columns in sync
      // (hint/remap_db_objects probes column `b` post-ALTER)
      """(?is)^alter\s+table\s+`?(\w+)`?\s+add\s+(?:column\s+)?`?(\w+)`?\s+(\w+(?:\s*\([^)]*\))?(?:\s+unsigned)?)""".r
        .findFirstMatchIn(qDb).foreach { m =>
          if (!Set("index", "unique", "key", "primary", "constraint",
            "foreign", "fulltext", "spatial", "partition", "check",
            "vector").contains(m.group(2).toLowerCase))
            MoCatalog.appendDeclaredColumn(spark, m.group(1), m.group(2),
              m.group(3))
        }
      """(?is)^alter\s+table\s+`?(\w+)`?\s+drop\s+(?:column\s+)?`?(\w+)`?\s*$""".r
        .findFirstMatchIn(qDb).foreach { m =>
          if (!Set("index", "key", "primary", "constraint", "foreign",
            "partition", "check").contains(m.group(2).toLowerCase))
            MoCatalog.removeDeclaredColumn(spark, m.group(1), m.group(2))
        }
      // CHANGE to the SAME name (case changes included) is physical
      // no-op metadata, but the FK catalog and declared layout track
      // the new spelling (foreign_key/issue_26465's case-only rename)
      """(?is)^alter\s+table\s+`?(\w+)`?\s+change\s+(?:column\s+)?`?(\w+)`?\s+`?(\w+)`?\s+(\w+(?:\s*\([^)]*\))?(?:\s+unsigned)?)\b.*$""".r
        .findFirstMatchIn(qDb).foreach { m =>
          if (m.group(2).equalsIgnoreCase(m.group(3)) &&
            tableExists(spark, m.group(1))) {
            renameFkColumn(spark, m.group(1), m.group(2), m.group(3))
            MoCatalog.renameDeclaredColumn(spark, m.group(1), m.group(2),
              m.group(3), Some(m.group(4)))
            return spark.emptyDataFrame
          }
        }
      // auto-increment id fill + allocator hooks (pkg/incrservice):
      // counters commit via aiDone only when the statement succeeds
      val (qAi, aiDone0) = autoIncStmtRewrite(spark, qDb)
      aiDone = aiDone0
      // `ALTER TABLE t AUTO_INCREMENT = N` is pure allocator metadata
      // (already applied above) — MySQL accepts it on any existing table
      AiAlterRe.findFirstMatchIn(qAi).foreach { m =>
        val exists = Partitions.get(spark, m.group(1)).isDefined ||
          tableExists(spark, m.group(1))
        if (!exists) throw new IllegalArgumentException(
          s"no such table ${m.group(1)}")
        aiDone(None)
        return spark.emptyDataFrame
      }
      // the statement's own temp views (table stats, subquery interval
      // windows, parsed JSONL) are dropped once it has run
      val (qStats, statsViews) = tableStatsRewrite(spark, ftTokenizeApply(narrowVecFns(spark,
        narrowVecInsert(spark,
        MySqlCompat.projectionIn(quantifiedRewrite(MySqlCompat.pre(
          ifToIff(narrowVecDdl(spark, autoIncDdl(spark, moFilepathRewrite(spark,
            EnumSet.exprRewrite(spark, EnumSet.dmlRewrite(spark,
              EnumSet.ddlRewrite(spark, qAi))))))))))))))
      val (qItw, itwViews) = subqueryIntervalViews(spark, qStats)
      val (qJsonl, jsonlViews) = parseJsonlRewrite(spark, qItw)
      val q2 = partSubtables(spark, qJsonl)
      dropViewsAfter(spark, q2, statsViews ++ itwViews ++ jsonlViews) {
      sequenceRewrite(spark, q2)
        .orElse(stageRewrite(spark, q2))
        .orElse(queryResultRewrite(spark, q2))
        .orElse(insertSeqRewrite(spark, q2))
        .orElse(renameRewrite(spark, q2))
        .orElse(replaceIntoRewrite(spark, q2))
        .orElse(insertOnDupRewrite(spark, q2))
        .orElse(insertIgnoreRewrite(spark, q2))
        .orElse(multiDeleteRewrite(spark, q2))
        .orElse(entriesInsertNoop(spark, q2))
        .orElse(procedureRewrite(spark, q2))
        .orElse(withDmlRewrite(spark, q2))
        .orElse(updateRewrite(spark, q2))
        .orElse(multiUpdateRewrite(spark, q2))
        .orElse(deleteRewrite(spark, q2))
        .orElse(partitionRewrite(spark, q2))
        .orElse(analyzeRewrite(spark, q2))
        .orElse(alterFkRewrite(spark, q2))
        .orElse(alterAddColRewrite(spark, q2))
        .orElse(recursiveCteRewrite(spark, q2))
        .orElse(intervalRewrite(spark, q2))
        .orElse(sampleRewrite(spark, q2))
        .orElse(fulltextDdlRewrite(spark, q2))
        .orElse(matchRewrite(spark, q2))
        .orElse(indexDdlRewrite(spark, q2))
        .orElse(annModeRewrite(spark, q2, annMode))
        .orElse(externalTableRewrite(spark, q2))
        .orElse(loadDataRewrite(spark, q2))
        .orElse(enumInsertSelectRewrite(spark, q2))
        .orElse(descRewrite(spark, q2))
        .orElse(outfileRewrite(spark, q2))
        .getOrElse {
          fkCheckPlainInsert(spark, q2)
          val df = spark.sql(q2)
          // affected-rows bookkeeping for row_count(): a plain
          // INSERT ... VALUES counts its literal rows
          SqlText.matchMasked(PlainInsertValsRe, q2).foreach { g =>
            setRowCount(spark, SqlText.splitTop(g(0)).length.toLong)
          }
          df
        }
      }
      }
      aiDone(None)
      df0
      } catch {
        case scala.util.control.NonFatal(e) => aiDone(Some(e)); throw e
      }
    }
    }
  }

  // ------------------------------------------------------------------
  // row_count() — affected rows of the last DML (MySQL protocol field;
  // reference pkg/frontend). Every DML path records its count; the
  // extra count() runs over an already-materialized localCheckpoint.
  // ------------------------------------------------------------------

  private val PlainInsertValsRe =
    """(?is)^insert\s+into\s+(?:`?\w+`?\.)?`?\w+`?\s*(?:\([^)]*\)\s*)?values\s*(.+)$""".r
  private val sqlDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private def setRowCount(spark: SparkSession, n: Long): Unit = {
    val st = state(spark)
    st.rowCountWrites += 1
    st.lastRowCount = n
  }
  /** Harness hook: record an affected-rows value for the LAST statement
    * (drop-database table counting lives with the harness's ownership
    * tracking).
    */
  def recordRowCount(spark: SparkSession, n: Long): Unit = setRowCount(spark, n)
  def currentRowCount(spark: SparkSession): Long = state(spark).lastRowCount

  // ------------------------------------------------------------------
  // System variables — the reference's variable registry
  // (`pkg/frontend/variables.go` gSysVarsDefs) reduced to a scoped
  // value store: SET records, references substitute the stored (or
  // default) literal. BVT: ddl/mysql_ddl_1, ddl/create_table_as_select
  // scope tests, prepare/max_prepared_stmt_count,
  // vector/vector_ivfpq_cagra_experimental_var.
  // ------------------------------------------------------------------

  private val MoSqlMode =
    "'ERROR_FOR_DIVISION_BY_ZERO,NO_ENGINE_SUBSTITUTION,NO_ZERO_DATE," +
      "NO_ZERO_IN_DATE,ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES'"

  /** name → (global default, session default) as SQL literals. Only
    * names listed here are substituted — an unknown `@@var` stays
    * verbatim and surfaces as the parse error MySQL's "Unknown system
    * variable" maps to.
    */
  private val sysVarDefaults: Map[String, (String, String)] = Map(
    "sql_mode" -> (MoSqlMode, MoSqlMode),
    "sql_log_bin" -> ("0", "0"),
    "autocommit" -> ("1", "1"),
    "time_zone" -> ("'SYSTEM'", "'SYSTEM'"),
    "gtid_purged" -> ("''", "''"),
    "character_set_client" -> ("'utf8mb4'", "'utf8mb4'"),
    // recursive-CTE circuit breakers (`pkg/frontend/variables.go:1720`)
    "cte_max_memory_bytes" -> ("1073741824", "1073741824"),
    "cte_max_recursion_depth" -> ("1000", "1000"),
    // AES mode for AES_ENCRYPT/AES_DECRYPT (func_binary.go getAESMode)
    "block_encryption_mode" -> ("'aes-128-ecb'", "'aes-128-ecb'"),
    // table-remap hints (`pkg/frontend/` remap hint gate)
    "enable_remap_hint" -> ("0", "0"),
    "remap_rewrites" -> ("''", "''"),
    // MySQL-compatible connection/session knobs the system_variable BVT
    // reads (values: pkg/frontend/variables.go defaults)
    "lower_case_table_names" -> ("1", "1"),
    "max_connections" -> ("151", "151"),
    "net_write_timeout" -> ("60", "60"),
    "wait_timeout" -> ("86400", "86400"),
    "interactive_timeout" -> ("86400", "86400"),
    "sql_select_limit" -> ("18446744073709551615", "18446744073709551615"),
    "max_allowed_packet" -> ("67108864", "67108864"),
    "tx_isolation" -> ("'REPEATABLE-READ'", "'REPEATABLE-READ'"),
    "experimental_ivf_index" -> ("0", "0"),
    "experimental_ivfpq_index" -> ("0", "0"),
    "experimental_cagra_index" -> ("0", "0"),
    "experimental_hnsw_index" -> ("0", "0"),
    // ANN adaptive-mode knobs (`pkg/frontend/variables.go:3762-3786`):
    // probe_limit is the planner's nprobe, enable_vector_auto_mode_by_
    // default makes plain ANN queries retry post→pre (vector_ivf_retry)
    "probe_limit" -> ("5", "5"),
    "enable_vector_auto_mode_by_default" -> ("0", "0"),
    "transaction_isolation" -> ("'REPEATABLE-READ'", "'REPEATABLE-READ'"),
    "experimental_fulltext_index" -> ("0", "0"),
    "max_prepared_stmt_count" -> ("100000", "100000"),
    // FK enforcement toggle (MySQL semantics: 0 skips every referential
    // check; re-enabling does NOT revalidate existing rows)
    "foreign_key_checks" -> ("1", "1"))

  def knownSysVar(name: String): Boolean =
    sysVarDefaults.contains(name.toLowerCase)


  private def sysVarValue(spark: SparkSession, scope: String, name: String): String =
    state(spark).sysVars.get(s"$scope#${name.toLowerCase}")
      // a session read of a var only set globally sees the global value
      // (global-scoped vars like lower_case_table_names read through)
      .orElse(if (scope == "session")
        state(spark).sysVars.get(s"global#${name.toLowerCase}")
      else None)
      .getOrElse(sysVarDefaults.get(name.toLowerCase).map(d =>
        if (scope == "global") d._1 else d._2).getOrElse("NULL"))

  /** `SET [GLOBAL|SESSION] name = v` / `SET @@[scope.]name = v` (both
    * comma lists). Bare/SESSION writes session scope, GLOBAL global —
    * MySQL's scoping. ON/OFF normalize to 1/0 (the reference displays
    * autocommit as 0/1).
    */
  private val SysSetRe =
    """(?is)^set\s+((?:@@|global\s+|session\s+)\S.*)$""".r
  private val BareSysSetRe = """(?is)^set\s+(\w+\s*=.*)$""".r
  private val SysAssignRe =
    """(?is)^(?:@@)?(?:(global|session)(?:\s+|\.))?(\w+)\s*=\s*(.+)$""".r

  /** `SHOW [GLOBAL|SESSION] VARIABLES [LIKE 'pat']` over the variable
    * registry (defaults overlaid with this session's SET values).
    */
  private val ShowVarsRe =
    """(?is)^show\s+(?:(global|session)\s+)?variables(?:\s+like\s+'([^']*)')?\s*$""".r
  private def showVariablesRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    val m = ShowVarsRe.findFirstMatchIn(q.trim).getOrElse(return None)
    val scope = Option(m.group(1)).map(_.toLowerCase).getOrElse("session")
    val patRe = Option(m.group(2)).map(p =>
      ("(?i)^" + java.util.regex.Pattern.quote(p)
        .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r)
    import spark.implicits._
    val rows = sysVarDefaults.keys.toSeq
      .filter(n => patRe.forall(_.findFirstIn(n).isDefined))
      .sorted
      .map(n => (n, sysVarValue(spark, scope, n)
        .stripPrefix("'").stripSuffix("'")))
    Some(rows.toDF("Variable_name", "Value"))
  }

  private def sysVarSetRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    val assignsTxt = q.trim match {
      case SysSetRe(a) => a
      case BareSysSetRe(a) if SysAssignRe.findFirstMatchIn(a).exists(m =>
        knownSysVar(m.group(2))) => a
      case _ => return None
    }
    val items = SqlText.splitTop(assignsTxt).map(_.trim)
    // every item must be a sysvar assignment — `set @u = 1` stays on
    // the user-var path
    if (!items.forall(i => SysAssignRe.findFirstMatchIn(i).isDefined))
      return None
    if (items.exists(_.matches("(?is)^@[^@].*"))) return None
    items.foreach { item =>
      val m = SysAssignRe.findFirstMatchIn(item).get
      val scope = Option(m.group(1)).map(_.toLowerCase).getOrElse("session")
      val name = m.group(2).toLowerCase
      var raw = versionedComments(m.group(3).trim).trim
      // GTID_PURGED's MySQL-8 '+' prefix means append-to-current —
      // empty here, so the suffix IS the value (mysql_ddl_1.result:47-50)
      if (name == "gtid_purged")
        raw = raw.replaceFirst("""^'\+'\s*""", "").replaceFirst("^'\\+", "'")
      // tx_isolation accepts the MySQL enum ordinal
      if (name == "tx_isolation" && raw.matches("[0-3]"))
        raw = Seq("'READ-UNCOMMITTED'", "'READ-COMMITTED'",
          "'REPEATABLE-READ'", "'SERIALIZABLE'")(raw.toInt)
      val lit =
        if (raw.matches("(?i)^(on|true)$")) "1"
        else if (raw.matches("(?i)^(off|false)$")) "0"
        else if (raw.matches("""^['"].*['"]$""") ||
          raw.matches("""^-?\d+(\.\d+)?$""")) raw
        else if (raw.matches("""^\w+$""")) sqlLit(raw)
        else try sqlLit(sql(spark, s"SELECT ${sysVarSubst(spark, raw)}")
          .collect().head.get(0))
        catch { case _: Exception => sqlLit(raw) }
      // remap_rewrites is session-only and validated at SET time; an
      // invalid value throws and keeps the previous one (hint/ BVT)
      if (name == "remap_rewrites") {
        if (scope == "global")
          throw new IllegalStateException(
            "internal error: the system variable is session")
        Remap.parse(spark, unquoteLit(lit))
      }
      state(spark).sysVars.put(s"$scope#$name", lit)
      // time_zone drives Spark's session timeZone: timestamp columns are
      // stored as UTC instants and RENDERED in the session zone — the
      // same store/display split the reference implements
      // (func_datetime_timezone.sql). 'SYSTEM' = the server zone = UTC.
      if (name == "time_zone") {
        val tz = unquoteLit(lit) match {
          case "SYSTEM" | "system" => "UTC"
          // a bare zero offset means UTC, but Spark's pre-Gregorian
          // timestamp REBASE keys on named zones — ZoneOffset(+00:00)
          // shifts year-1 dates where ZoneId("UTC") doesn't
          // (dtype/mysql_compat_temporal_zero sets '+00:00' up front)
          case "+00:00" | "-00:00" | "+0:00" | "GMT" => "UTC"
          case z => z
        }
        try spark.conf.set("spark.sql.session.timeZone", tz)
        catch { case _: Exception => } // invalid zone: keep the literal only
      }
    }
    Some(spark.emptyDataFrame)
  }

  /** Strip one level of outer SQL quotes from a stored literal. */
  private def unquoteLit(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1)
        .replace("\\" + s.head, s.head.toString)
        .replace("" + s.head + s.head, s.head.toString)
        .replace("\\\\", "\\")
    else s
  }

  // rules text → parsed rules: a pure function of its key, so one
  // process-wide cache serves every session
  private val remapRulesCache = TrieMap[String, Remap.Rules]()

  /** Replace known `@@[scope.]name` references (outside literals) with
    * their stored/default SQL literal.
    */
  private val SysVarRefRe = """(?i)@@(?:(global|session)\.)?(\w+)""".r
  private def sysVarSubst(spark: SparkSession, q: String): String = {
    if (!q.contains("@@")) return q
    val masked = SqlText.mask(q)
    val sb = new StringBuilder; var last = 0
    SysVarRefRe.findAllMatchIn(masked).foreach { m =>
      val name = m.group(2).toLowerCase
      val scope = Option(m.group(1)).map(_.toLowerCase).getOrElse("session")
      if (knownSysVar(name) ||
        state(spark).sysVars.contains(s"$scope#$name")) {
        sb.append(q.substring(last, m.start))
          .append(sysVarValue(spark, scope, name))
        last = m.end
      }
    }
    if (last == 0) q else { sb.append(q.substring(last)); sb.toString }
  }

  /** ANSI_QUOTES: `"ident"` → backticked identifier (single-quoted
    * strings untouched).
    */
  private def ansiQuotes(q: String): String = {
    val b = q.toCharArray
    SqlText.spans(q).filter(sp => q(sp.start) == '"').foreach { sp =>
      b(sp.start) = '`'
      if (sp.closed) b(sp.end - 1) = '`'
    }
    new String(b)
  }

  /** `/*!NNNNN content */` versioned comments execute their content
    * (MySQL ≥ NNNNN semantics — the reference accepts all).
    */
  private[graft] def versionedComments(q: String): String = {
    if (!q.contains("/*!")) return q
    val masked = SqlText.mask(q)
    val sb = new StringBuilder; var last = 0
    var i = masked.indexOf("/*!")
    while (i >= 0) {
      val end = masked.indexOf("*/", i + 3)
      if (end < 0) { i = -1 }
      else {
        var j = i + 3
        while (j < end && masked(j).isDigit) j += 1
        sb.append(q.substring(last, i)).append(q.substring(j, end).trim)
        last = end + 2
        i = masked.indexOf("/*!", last)
      }
    }
    sb.append(q.substring(last))
    sb.toString
  }

  // ------------------------------------------------------------------
  // CREATE/ALTER/DROP SEQUENCE, SHOW SEQUENCES, sequence state scans
  // ------------------------------------------------------------------

  private val CreateSeqRe =
    """(?is)^create\s+sequence\s+(if\s+not\s+exists\s+)?(?:`([^`]+)`|([^\s;]+))\s*(.*)$""".r
  private val DropSeqRe =
    """(?is)^drop\s+sequence\s+(if\s+exists\s+)?(?:`([^`]+)`|([^\s;]+))\s*$""".r
  private val AlterSeqRe =
    """(?is)^alter\s+sequence\s+(if\s+exists\s+)?(?:`([^`]+)`|([^\s;]+))\s*(.*)$""".r
  private val ShowSeqRe =
    """(?is)^show\s+sequences(?:\s+where\s+(.+))?\s*$""".r
  private val SelectStarRe =
    """(?is)^select\s+\*\s+from\s+(?:`([^`]+)`|(\S+))\s*$""".r
  private val SelectColsSeqRe =
    """(?is)^select\s+([\w`,\s]+?)\s+from\s+(?:`([^`]+)`|(\w+))\s*$""".r
  private val DropTableNameRe =
    """(?is)^drop\s+table\s+(?:if\s+exists\s+)?(?:`([^`]+)`|(\S+))\s*$""".r

  /** Sequence DDL + state surfaces (see [[Sequences]] for semantics and
    * reference citations).
    */
  private def sequenceRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    def pick(a: String, b: String): String = if (a != null) a else b
    q match {
      case CreateSeqRe(ifNot, n1, n2, tail) =>
        Sequences.create(spark, pick(n1, n2), tail, ifNot != null)
        Some(spark.emptyDataFrame)
      case DropSeqRe(ifEx, n1, n2) =>
        Sequences.drop(spark, pick(n1, n2), ifEx != null)
        Some(spark.emptyDataFrame)
      case AlterSeqRe(ifEx, n1, n2, tail) =>
        Sequences.alter(spark, pick(n1, n2), tail, ifEx != null)
        Some(spark.emptyDataFrame)
      case ShowSeqRe(where) =>
        Some(Sequences.showDf(spark, Option(where)))
      case SelectStarRe(n1, n2) if Sequences.exists(spark, pick(n1, n2)) =>
        Some(Sequences.stateDf(spark, pick(n1, n2)))
      // projection over a sequence's state row (`SELECT laSt_seq_nuM,
      // min_value FROM Seq` — ddl/lowercase.result:328-330)
      case SelectColsSeqRe(items, n1, n2) if Sequences.exists(spark, pick(n1, n2)) =>
        Some(overView(spark, q, "_graft_seq_", Sequences.stateDf(spark, pick(n1, n2)))(
          v => spark.sql(s"SELECT $items FROM $v")))
      case DropTableNameRe(n1, n2) if Sequences.exists(spark, pick(n1, n2)) =>
        throw new IllegalArgumentException(
          "internal error: Should use 'drop sequence' to drop a sequence")
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // save_query_result: SET flags, result_scan / meta_scan sources
  // ------------------------------------------------------------------

  private val SetSaveQrRe =
    """(?is)^set\s+save_query_result\s*=\s*(on|off|1|0)$""".r
  private val SetQrMaxRe =
    """(?is)^set\s+query_result_maxsize\s*=\s*(\d+)$""".r
  private val ScanCallRe =
    """(?i)\b(result_scan|meta_scan)\s*\(\s*([^()]*(?:\([^()]*\))?)\s*\)""".r

  /** See [[QueryResults]]. `result_scan(id)`/`meta_scan(id)` FROM
    * sources resolve their id (a literal or `last_query_id(-n)`) at
    * rewrite time and substitute a temp view over the saved result;
    * result_scan lowercases column names like the reference
    * (query_result.result:17-19).
    */
  private def queryResultRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    q match {
      case SetSaveQrRe(v) =>
        QueryResults.setEnabled(spark, v.equalsIgnoreCase("on") || v == "1")
        Some(spark.emptyDataFrame)
      case SetQrMaxRe(n) =>
        QueryResults.setMaxSize(spark, n.toLong)
        Some(spark.emptyDataFrame)
      case _ if ScanCallRe.findFirstIn(SqlText.mask(q)).isDefined =>
        if (!QueryResults.everConfigured(spark))
          throw new IllegalStateException("no configure: save query result")
        val LastIdRe = """(?i)^last_query_id\s*\(\s*(-?\d+)?\s*\)$""".r
        val rewritten = SqlText.replaceOutside(q, ScanCallRe, m => {
          val fn = m.group(1).toLowerCase
          val id = m.group(2).trim match {
            case LastIdRe(n) => QueryResults.idAt(spark, Option(n).fold(-1)(_.toInt))
            case lit => lit.stripPrefix("'").stripSuffix("'")
          }
          val v = "_graft_qr_" + id.replaceAll("\\W", "_") +
            (if (fn == "meta_scan") "_meta" else "")
          val df =
            if (fn == "meta_scan") QueryResults.metaDf(spark, id)
            else {
              val s = QueryResults.byId(spark, id)
              s.df.toDF(s.df.columns.map(_.toLowerCase).toSeq: _*)
            }
          df.createOrReplaceTempView(v)
          v
        })
        Some(sql(spark, rewritten))
      case _ => None
    }

  private val InsertValuesRe =
    """(?is)^insert\s+into\s+(`?[\w.]+`?)\s*(\([^)]*\))?\s*values\s*(.+)$""".r
  private val SeqFnRe = """(?i)\b(nextval|currval|lastval|setval)\s*\(""".r

  /** `INSERT ... VALUES(nextval('s'), …)`: Spark's inline-table
    * resolution rejects non-foldable nondeterministic expressions, so
    * rows carrying a sequence call become a UNION ALL of one-row
    * SELECTs (`create_sequence.result:118` inserts four nextvals in one
    * statement). Row-to-value assignment across branches is
    * executor-order; the draw set is identical either way.
    */
  private def insertSeqRewrite(spark: SparkSession, q: String): Option[DataFrame] = q match {
    case InsertValuesRe(table, cols, valuesTxt)
        if SeqFnRe.findFirstIn(valuesTxt).isDefined =>
      val selects = SqlText.splitTop(valuesTxt).map(_.trim)
        .map(r => s"SELECT ${r.stripPrefix("(").stripSuffix(")")}")
      Some(sql(spark,
        s"INSERT INTO $table ${Option(cols).getOrElse("")} " +
          selects.mkString(" UNION ALL ")))
    case _ => None
  }

  // ------------------------------------------------------------------
  // WITH RECURSIVE shapes beyond Spark's native recursion
  // ------------------------------------------------------------------

  /** Split a UNION body into `(joiningUnionMode, branchSql)` at paren
    * depth 0 — mode is "" for the first branch, then "all"/"distinct"
    * (a bare UNION is distinct).
    */
  private def splitUnions(body: String): Seq[(String, String)] = {
    val parts = SqlText.splitTopAt(body, """(?i)union\b(?:\s*(?:all|distinct)\b)?""".r)
    val modes = parts.indices.filter(_ % 2 == 1).map(i =>
      parts(i).drop(5).trim.toLowerCase match { case "" => "distinct"; case m => m })
    ("" +: modes).zip(parts.indices.filter(_ % 2 == 0).map(parts))
  }

  private val WithRecRe =
    """(?is)^with\s+recursive\s+`?([^`\s(]+)`?\s*(?:\(([^)]*)\))?\s*as\s*\(""".r

  /** Drive the recursive-CTE shapes Spark's native recursion rejects —
    * more than one recursive branch, UNION(DISTINCT) recursion, and the
    * reference's anchor-literal column-width truncation — through
    * delta iteration on the driver (reference
    * operators `pkg/sql/colexec/mergerecursive/`, goldens
    * `recursive_cte/recursive_cte.result:665`,
    * `recursive_cte_union_distinct.result`,
    * `recursive_cte_string_width.result`). Shapes the native engine
    * already handles (single UNION ALL recursive branch) fall through
    * to Catalyst untouched — its `UnionLoop` keeps the whole fixpoint
    * in one plan, which beats a driver loop at scale.
    *
    * Semantics driven here (SQL-standard working-table recursion):
    * each iteration evaluates every recursive branch against the
    * PREVIOUS delta only; under UNION [DISTINCT] the new delta is
    * deduplicated and set-subtracted against everything accumulated, so
    * a stationary recursion (`SELECT n FROM stable`) reaches a fixpoint.
    * A bare string LITERAL in the anchor select list types the column
    * with that literal's width in the reference, and non-strict mode
    * silently truncates every recursive value to it
    * (`recursive_cte_string_width.result:14-24` — 'a','a','a','a');
    * an explicit CAST(... AS char(100)) carries its own width and is
    * left to the native engine.
    *
    * Scale note: the driver loop materializes one localCheckpoint per
    * iteration (lineage stays O(1)); the DISTINCT path adds one
    * `except` shuffle per iteration against the accumulator — the same
    * per-iteration distinct the reference's mergecte sink performs.
    */
  private def recursiveCteRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    val m = WithRecRe.findFirstMatchIn(q).getOrElse(return None)
    val name = m.group(1)
    val colList = Option(m.group(2))
      .map(SqlText.splitTop(_).map(_.trim.stripPrefix("`").stripSuffix("`")))
    val open = m.end - 1
    val (body, close) = SqlText.balancedSpan(q, open).getOrElse(return None)
    val main = q.substring(close).trim
    if (main.startsWith(",")) return None // multi-CTE → native engine
    if (!main.toLowerCase.startsWith("select")) return None

    val refRe = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    val branches = splitUnions(body)
    val (recs, anchors) = branches.partition(b => refRe.findFirstIn(b._2).isDefined)
    if (anchors.isEmpty || recs.isEmpty) return None
    val distinctRec = recs.exists(_._1 != "all")

    // width of each bare-literal string column in the first anchor
    val anchorItems = """(?is)^\s*select\s+(.*?)(\s+from\s.*)?$""".r
      .findFirstMatchIn(anchors.head._2)
      .map(mm => SqlText.splitTop(mm.group(1)).map(_.trim)).getOrElse(Seq.empty)
    val litWidths: Map[Int, Int] = anchorItems.zipWithIndex.collect {
      case (it, i) if it.matches("^'[^']*'$") => i -> (it.length - 2)
    }.toMap

    // session circuit breakers (`pkg/frontend/variables.go:1720-1740`):
    // when either is explicitly tightened the DRIVER loop runs the
    // recursion so the quota errors carry the reference's texts
    val memLimit =
      try sysVarValue(spark, "session", "cte_max_memory_bytes").toLong
      catch { case _: Exception => 1073741824L }
    val depthLimit =
      try sysVarValue(spark, "session", "cte_max_recursion_depth").toLong
      catch { case _: Exception => 1000L }
    val breakers = memLimit != 1073741824L || depthLimit != 1000L

    if (branches.sizeIs <= 2 && !distinctRec && litWidths.isEmpty && !breakers)
      return None // native recursion handles this shape

    val vname = s"_graft_rcte_${viewSeq.incrementAndGet()}"
    def align(df: DataFrame, to: DataFrame): DataFrame =
      df.select(to.schema.fields.zipWithIndex.map { case (f, i) =>
        col(df.columns(i)).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    def truncate(df: DataFrame): DataFrame =
      if (litWidths.isEmpty) df
      else df.select(df.schema.fields.zipWithIndex.map { case (f, i) =>
        litWidths.get(i) match {
          case Some(w) if f.dataType == org.apache.spark.sql.types.StringType =>
            substring(col(f.name), 1, w).as(f.name)
          case _ => col(f.name)
        }
      }.toSeq: _*)

    // Spark's Union constraint rewrite (UnionBase.rewriteConstraints)
    // throws "key not found" when multi-anchor branches share scan
    // attributes under aliases (recursive_cte.result's two-anchor +
    // recursive shape) — run the whole recursion with constraint
    // propagation off; the iteration plans are tiny either way
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpPrev = spark.conf.get(cpKey)
    spark.conf.set(cpKey, "false")
    try {
    var anchor = anchors.map(a => sql(spark, a._2.trim).localCheckpoint())
      .reduce((x, y) => x.union(align(y, x)))
    colList.foreach(cs => anchor = anchor.toDF(cs: _*))
    if (anchors.exists(_._1 == "distinct") || distinctRec)
      anchor = anchor.distinct()

    val recSqls = recs.map(r => refRe.replaceAllIn(r._2.trim, vname))
    var acc = anchor.localCheckpoint()
    var frontier = acc
    var iter = 0
    val maxIter = math.min(depthLimit, 10000L)
    // approximate retained-batch accounting, the reference's per-CN OOM
    // circuit breaker (zero disables); only metered when a breaker var
    // was tightened — the count() per iteration isn't free
    val rowSize = math.max(1,
      anchor.schema.map(_.dataType.defaultSize).sum)
    var retained = if (breakers && memLimit > 0) acc.count() * rowSize else 0L
    while (iter < maxIter && !frontier.isEmpty) {
      frontier.createOrReplaceTempView(vname)
      val next = truncate(
        recSqls.map(s => align(sql(spark, s), acc)).reduce(_ union _))
      val delta =
        (if (distinctRec) next.distinct().except(acc) else next).localCheckpoint()
      if (breakers && memLimit > 0) {
        retained += delta.count() * rowSize
        if (retained > memLimit)
          throw new IllegalStateException(
            s"recursive CTE memory quota exceeded on this CN: projected " +
              s"$retained bytes, query limit $memLimit bytes; increase " +
              "@@cte_max_memory_bytes or rewrite the query to converge")
      }
      if (!delta.isEmpty) acc = acc.union(delta).localCheckpoint()
      frontier = delta
      iter += 1
    }
    if (iter >= maxIter && !frontier.isEmpty)
      throw new IllegalStateException("recursive level out of range")
    acc.createOrReplaceTempView(vname)
    Some(sql(spark, refRe.replaceAllIn(main, vname)))
    } finally {
      spark.conf.set(cpKey, cpPrev)
      spark.sessionState.catalog.dropTempView(vname)
    }
  }

  /** MySQL's `if(cond, a, b)` takes ANY condition with `!= 0`
    * truthiness; Spark's `if` demands a boolean. Route through the
    * engine's `iff` (when(cond CAST boolean)) — identical for already
    * boolean conditions, MySQL-true for numeric ones
    * (expression/case_when `if(1, '2', 3)`).
    */
  private def ifToIff(q: String): String = {
    val low = q.toLowerCase
    // procedure bodies keep their control-flow IF statements
    if ("""(?is)^\s*create\s+(?:or\s+replace\s+)?procedure\b""".r
        .findFirstIn(q).isDefined) return q
    var out = q
    if (low.contains("if(") || low.contains("if ("))
      out = ifCondCast(out)
    // CASE WHEN <numeric literal>: MySQL truthiness, Spark wants bool
    if (low.contains("when"))
      out = SqlText.replaceOutside(out,
        """(?i)\bwhen\s+(\d+(?:\.\d+)?)\s+then\b""".r,
        m => s"when ${m.group(1)} != 0 then")
    // sized binary CAST targets: Spark types them width-less (the MO
    // width survives in the view-metadata inference, which reads the
    // pre-rewrite text). BINARY(n) additionally zero-pads its VALUE to
    // n bytes (func_if golden hex 61000000); VARBINARY(n) does not.
    if (low.contains("binary")) {
      out = binCastPad(out)
      out = SqlText.replaceOutside(out,
        """(?i)\b(as\s+)(?:var)?binary\s*\(\s*\d+\s*\)""".r,
        m => m.group(1) + "BINARY")
    }
    out
  }

  private val BinCastWidthRe = """(?i)^binary\s*\(\s*(\d+)\s*\)$""".r

  /** `CAST(x AS BINARY(n))` → the byte-padded MySQL value (octet
    * lengths — a char-semantics rpad would count characters).
    */
  private def binCastPad(q: String): String = {
    val masked = SqlText.mask(q)
    """(?i)\bcast\s*\(""".r.findAllMatchIn(masked).foreach { m =>
      val open = m.end - 1
      SqlText.balancedSpan(q, open) match {
        case Some((inner, end)) =>
          val asIdx = SqlText.topIndexOf(inner, "as")
          if (asIdx >= 0) {
            val src = inner.substring(0, asIdx)
            val ty = inner.substring(asIdx + 2).trim
            BinCastWidthRe.findFirstMatchIn(ty).foreach { wm =>
              val n = wm.group(1).toInt
              // MySQL BINARY(n) cast semantics on the VALUE: truncate to
              // n BYTES and zero-pad up to n (dtype/binary blocks
              // 194/414: a 13-digit string casts to its first 2 bytes; a
              // multibyte string cuts mid-sequence at byte n). Byte
              // addressing happens in hex space: the session registry
              // shadows substring/left with MySQL CHAR-semantics
              // versions that coerce BINARY→STRING, but over a hex
              // rendering chars ≡ bytes×2, and unhex rebuilds the raw
              // bytes without a lossy UTF-8 decode of a mid-char cut.
              return q.substring(0, m.start) +
                s"CAST(unhex(rpad(substring(hex(CAST((${binCastPad(src)}) " +
                s"AS BINARY)), 1, ${2 * n}), ${2 * n}, '00')) AS BINARY)" +
                binCastPad(q.substring(end))
            }
          }
        case None =>
      }
    }
    q
  }

  /** MySQL's `if(cond, a, b)` takes ANY condition with `!= 0`
    * truthiness; Spark's demands a boolean. Wrap the condition in a
    * boolean CAST — pure SQL (a view referencing a session-registered
    * function cannot be persisted), identical for already-boolean
    * conditions, MySQL-true for numeric ones.
    */
  private def ifCondCast(q: String): String = {
    val masked = SqlText.mask(q)
    val m = """(?i)(?<![\w$.`])if\s*\(""".r.findFirstMatchIn(masked)
      .getOrElse(return q)
    val open = m.end - 1
    SqlText.balancedSpan(q, open) match {
      case Some((inner, end)) =>
        val args = SqlText.splitTop(inner)
        if (args.length == 3)
          q.substring(0, m.start) +
            s"if(CAST((${ifCondCast(args(0))}) AS BOOLEAN), " +
            s"${ifCondCast(args(1))}, ${ifCondCast(args(2))})" +
            ifCondCast(q.substring(end))
        else
          q.substring(0, end) + ifCondCast(q.substring(end))
      case None => q
    }
  }

  // ------------------------------------------------------------------
  // CREATE / ALTER / DROP STAGE, SHOW STAGES
  // ------------------------------------------------------------------

  // names may be backtick-quoted with arbitrary characters
  // (external_stage.sql creates a stage named `$$%%`)
  private val CreateStageRe =
    """(?is)^create\s+stage\s+(if\s+not\s+exists\s+)?(?:`([^`]+)`|(\w+))\s+url\s*=\s*'([^']*)'\s*(.*)$""".r
  private val AlterStageRe =
    """(?is)^alter\s+stage\s+(if\s+exists\s+)?(?:`([^`]+)`|(\w+))\s+set\s+(.*)$""".r
  private val DropStageRe =
    """(?is)^drop\s+stage\s+(if\s+exists\s+)?(?:`([^`]+)`|(\w+))\s*$""".r

  private def stageCreds(txt: String): Option[Map[String, String]] =
    """(?is)credentials\s*=\s*\{([^}]*)\}""".r.findFirstMatchIn(txt).map(m =>
      """'([^']+)'\s*=\s*'([^']*)'""".r.findAllMatchIn(m.group(1))
        .map(c => c.group(1) -> c.group(2)).toMap)

  /** Named external locations (see [[Stages]]). */
  private def stageRewrite(spark: SparkSession, q: String): Option[DataFrame] = q match {
    case CreateStageRe(ifNot, n1, n2, url, tail) =>
      val name = if (n1 != null) n1 else n2
      val comment = """(?is)comment\s*=\s*'([^']*)'""".r.findFirstMatchIn(tail)
        .map(_.group(1)).getOrElse("")
      Stages.create(spark, name, url, stageCreds(tail).getOrElse(Map.empty),
        comment, ifNot != null)
      Some(spark.emptyDataFrame)
    case AlterStageRe(ifEx, n1, n2, opts) =>
      val name = if (n1 != null) n1 else n2
      val url = """(?is)\burl\s*=\s*'([^']*)'""".r.findFirstMatchIn(opts).map(_.group(1))
      val comment = """(?is)\bcomment\s*=\s*'([^']*)'""".r.findFirstMatchIn(opts).map(_.group(1))
      Stages.alter(spark, name, url, stageCreds(opts), comment, ifEx != null)
      Some(spark.emptyDataFrame)
    case DropStageRe(ifEx, n1, n2) =>
      Stages.drop(spark, if (n1 != null) n1 else n2, ifEx != null)
      Some(spark.emptyDataFrame)
    case _ if """(?is)^show\s+stages\s*$""".r.findFirstIn(q).isDefined =>
      Some(Stages.showDf(spark))
    case _ => None
  }

  /** Test-harness hook: mark a database as existing. */
  def registerDb(spark: SparkSession, db: String): Unit =
    MoCatalog.createDb(spark, db)

  // ------------------------------------------------------------------
  // Partitioned tables: CREATE ... PARTITION BY, ALTER ... ADD PARTITION
  // ------------------------------------------------------------------

  /** MySQL partitioned-table DDL/DML routed onto [[Partitions]] (see
    * there for the Spark mapping and reference citations). Handles:
    * CREATE TABLE ... PARTITION BY, ALTER TABLE ... ADD PARTITION,
    * DROP of a registered table, and INSERT into a registered table
    * (per-row routing evaluated inside the distributed write).
    */
  // ----------------------------------------------------------------
  // ALTER TABLE t ADD [COLUMN] c <type> [DEFAULT lit] {FIRST | AFTER x}
  // MySQL places the new column at the requested position and fills
  // existing rows with the default (fulltext2.sql:25 `add column
  // newcolumn decimal after LastName`). Spark's v1 ALTER appends only,
  // so the table is rewritten through a staging name with the columns
  // reordered — a one-time full rewrite, exactly what the reference's
  // ALTER does to its column files.
  // ----------------------------------------------------------------

  private val AlterAddColPosRe =
    ("""(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+add\s+(?:column\s+|columns\s*)?\(?\s*""" +
      """`?(\w+)`?\s+(.+?)(?:\s+default\s+(\S+))?\s+(first|after\s+`?\w+`?)\s*\)?\s*$""").r

  private def alterAddColRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    q match {
      case AlterAddColPosRe(table, colName, typeTxt, dfltOrNull, posTxt) =>
        import spark.implicits._
        val df = spark.table(table)
        val fill = Option(dfltOrNull).getOrElse("NULL")
        val newExpr = s"CAST($fill AS $typeTxt) AS `$colName`"
        val at =
          if (posTxt.equalsIgnoreCase("first")) 0
          else {
            val ref = posTxt.trim.split("\\s+").last.stripPrefix("`").stripSuffix("`")
            df.columns.indexWhere(_.equalsIgnoreCase(ref)) + 1
          }
        val exprs = df.columns.map(c => s"`$c`").patch(at, Seq(newExpr), 0)
        val tmp = s"${table}__graft_alter"
        df.selectExpr(exprs.toIndexedSeq: _*)
          .write.mode("overwrite").saveAsTable(tmp)
        spark.sql(s"DROP TABLE `$table`")
        spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
        Some(Seq((table, colName, "added")).toDF("table_name", "column_name", "status"))
      case _ => None
    }

  private val CreatePartHeadRe =
    """(?is)^create\s+table\s+(if\s+not\s+exists\s+)?(?:`?\w+`?\.)?`?(\w+)`?\s*\(""".r
  private val AlterAddPartRe =
    """(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+add\s+partition\s*\(""".r
  private val InsertPartRe =
    """(?is)^insert\s+into\s+(?:`?\w+`?\.)?`?(\w+)`?\s*(\([^)]*\))?\s*((?:values|select|with|table|\()\b?.*)$""".r

  /** The reference's per-partition physical subtables: a partitioned
    * table `t` materializes one table per partition named
    * `%!%<pname>%!%<t>` (`pkg/partitionservice/service.go:431-435`
    * GetPartitionTableName), and BVT goldens select from them directly
    * (`ddl/partition3.sql`, `ddl/hash_key_partition.sql`). Here each
    * reference resolves to a temp view over the physical parquet table
    * filtered to that partition's directory — same pruned single-
    * partition scan, no extra storage.
    */
  private val PartSubRe = """`%!%(\w+)%!%(\w+)`""".r
  private def partSubtables(spark: SparkSession, q: String): String = {
    if (!q.contains("%!%")) return q
    PartSubRe.replaceAllIn(q, m => {
      val pname = m.group(1); val table = m.group(2)
      Partitions.get(spark, table) match {
        case Some(spec) =>
          spec.parts.find(_.name.equalsIgnoreCase(pname)) match {
            case Some(pd) =>
              val v = s"__gpart_${pname}_$table".toLowerCase
              spark.sql(s"CREATE OR REPLACE TEMP VIEW `$v` AS SELECT " +
                spec.cols.map(c => s"`$c`").mkString(", ") +
                s" FROM `${spec.phys}` WHERE ${Partitions.PartCol} = '${pd.name}'")
              v
            case None => m.matched // unknown partition → table-not-found
          }
        case None => m.matched
      }
    })
  }

  /** MySQL `REPLACE INTO t [(cols)] VALUES ... | SELECT ...`
    * (`pkg/sql/plan/build_dml.go` buildReplace; BVT
    * `replace_statement/`, `prepare/prepare_all.sql:509`): delete the
    * rows whose primary key collides, then insert. Spark mapping: an
    * anti-join of the current table against the incoming keys union the
    * new rows, overwriting through a localCheckpoint — the same shuffle
    * shape as MERGE, fully distributed. Without a known PK the
    * statement degrades to plain append (MySQL without keys does too).
    */
  private val ReplaceIntoRe =
    """(?is)^replace\s+into\s+(?:`?\w+`?\.)?`?(\w+)`?\s*(\([^)]*\))?\s*((?:values|select|with|table|\()\b?.*)$""".r
  /** New-row source of an INSERT/REPLACE aligned to the target table's
    * column order and types; unlisted columns take their declared
    * DEFAULT (NULL when none).
    */
  private def alignedRows(spark: SparkSession, table: String,
      colsOrNull: String, src0: String): DataFrame = {
    val target = spark.table(table)
    val src = src0.trim
    val df0 =
      if (src.toLowerCase.startsWith("values")) spark.sql(s"SELECT * FROM $src")
      else sql(spark, src)
    val listed = Option(colsOrNull).map(c => SqlText.splitTop(
      c.stripPrefix("(").stripSuffix(")"))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
    val named = listed match {
      case Some(ls) =>
        var d = df0.toDF(ls: _*)
        target.schema.fields.foreach { f =>
          if (!ls.exists(_.equalsIgnoreCase(f.name)))
            d = d.withColumn(f.name, expr(colDefault(f)).cast(f.dataType))
        }
        d.select(target.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
      case None => df0.toDF(target.columns.toIndexedSeq: _*)
    }
    named.select(target.schema.fields.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  // REPLACE INTO t SET col = expr, ... — the single-row SET spelling;
  // unassigned columns (and column refs inside the RHS) take DEFAULTs
  private val ReplaceSetRe =
    """(?is)^replace\s+into\s+(?:`?\w+`?\.)?`?(\w+)`?\s+set\s+(.+)$""".r

  private def replaceIntoRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(ReplaceSetRe, q) match {
      case Some(IndexedSeq(table, setTxt)) if spark.catalog.tableExists(table) =>
        val target = spark.table(table)
        val fields = target.schema.fields.map(f => f.name.toLowerCase -> f).toMap
        val assigns = SqlText.splitTop(setTxt).map { a =>
          val m = """(?is)^\s*`?(\w+)`?\s*=\s*(.+)$""".r
            .findFirstMatchIn(a).getOrElse(return None)
          (m.group(1).toLowerCase, m.group(2).trim)
        }.toMap
        if (assigns.keys.exists(!fields.contains(_))) return None
        val inner = target.schema.fields.map(f =>
          s"CAST(${colDefault(f)} AS ${f.dataType.sql}) AS `${f.name}`")
          .mkString(", ")
        val outer = target.schema.fields.map { f =>
          assigns.get(f.name.toLowerCase)
            .map(e => s"CAST(($e) AS ${f.dataType.sql}) AS `${f.name}`")
            .getOrElse(s"`${f.name}`")
        }.mkString(", ")
        replaceCore(spark, table,
          spark.sql(s"SELECT $outer FROM (SELECT $inner)"))
      case _ => q match {
        case ReplaceIntoRe(table, colsOrNull, src0) =>
          replaceCore(spark, table, alignedRows(spark, table, colsOrNull, src0))
        case _ => None
      }
    }

  private def replaceCore(spark: SparkSession, table: String,
      named0: DataFrame): Option[DataFrame] = {
    import spark.implicits._
    val target = spark.table(table)
    val tcols = target.columns.toSeq
    // an existing row is replaced when it collides on the pk OR any
    // UNIQUE index (the reference's dedup join keys on every unique
    // index, pkg/sql/colexec/dedupjoin/); NULL key values never match,
    // like MySQL's unique-null rule. A keyless table only appends.
    val keySets = tableKeySets(spark, table)
    val snap = if (keySets.isEmpty) named0 else named0.localCheckpoint(true)
    // a batch row can also replace a row the SAME statement inserted
    // (`values (1,u,10),(2,u,20)` keeps only the second); existing-row
    // replacement is order-free, so a bulk SELECT source keeps every row
    val named =
      if (keySets.isEmpty) named0
      else resolveBatch(spark, snap, keySets, replace = true, Nil).getOrElse(snap)
    // REPLACE is an INSERT for the table's OWN foreign keys: each batch
    // row's FK columns must reference an existing parent row (a NULL in
    // any column exempts the row — MATCH SIMPLE). A self-referencing FK
    // checks against the post-statement state (existing ∪ incoming).
    fkCheckIncomingRows(spark, table, tcols, named)
    // victims key on the FULL batch (a batch row deletes its victim even
    // when a later batch row replaces it in turn)
    val flagged0 = keySets.foldLeft(target.withColumn(Hit, lit(false))) { (t, keys) =>
      flagKeys(t, keys, snap.select(keys.map(c => col(s"`$c`")): _*), bcast = false)
    }
    // FOREIGN KEY ON DELETE actions: replacing (= deleting) a parent
    // row cascades/nulls/rejects per the child constraint
    val selfRefs = state(spark).foreignKeys.getOrElse(table.toLowerCase, Vector.empty)
      .filter(_.parent == table.toLowerCase)
    val flagged =
      if (keySets.isEmpty || (childRefsOf(spark, table).isEmpty && selfRefs.isEmpty)) flagged0
      else {
        val flaggedSnap = flagged0.localCheckpoint(true)
        val doomed = flaggedSnap.filter(col(Hit))
        fkOnDelete(spark, table, doomed)
        // transitive ON DELETE CASCADE through a SELF-referencing FK: the
        // whole victim subtree goes (driver fixpoint — victim sets are
        // batch-sized, each round one broadcast semi-join; cycles converge
        // because the set only grows within the fixed table)
        val cascades = selfRefs.filter(_.onDelete == "cascade")
        val withSubtree =
          if (cascades.isEmpty) flaggedSnap
          else {
            var all = doomed.select(tcols.map(c => col(s"`$c`")): _*)
            var n = all.count()
            var grew = n > 0
            while (grew) {
              val next = cascades.map { r =>
                flagKeys(target, r.childCols,
                  all.select(r.parentCols.map(c => col(s"`$c`")): _*))
                  .filter(col(Hit)).select(tcols.map(c => col(s"`$c`")): _*)
              }.reduce(_ unionByName _)
              val grown = all.unionByName(next).distinct().localCheckpoint(true)
              val n2 = grown.count()
              grew = n2 > n
              all = grown; n = n2
            }
            val pk = keySets.head
            flagKeys(flaggedSnap, pk, all.select(pk.map(c => col(s"`$c`")): _*))
          }
        // self-referencing ON DELETE SET NULL: surviving rows pointing at
        // a replaced victim get their FK columns cleared
        selfRefs.filter(_.onDelete == "set null").foldLeft(withSubtree) { (df, r) =>
          nullRefs(df, r.childCols,
            doomed.select(r.parentCols.map(c => col(s"`$c`")): _*), Ref).drop(Ref)
        }
      }
    // MySQL affected-rows for REPLACE = inserted + deleted victims
    val w = commitTable(spark, table, Effect(Some(flagged).filter(_ => keySets.nonEmpty),
      appended = Some(named), removeHits = true))
    setRowCount(spark, w.appended + w.hits)
    Some(Seq((table, "replaced")).toDF("table_name", "status"))
  }

  // ------------------------------------------------------------------
  // INSERT ... ON DUPLICATE KEY UPDATE / INSERT IGNORE — MySQL upsert
  // semantics over the pk + every UNIQUE key (reference: dedup join,
  // pkg/sql/colexec/dedupjoin + fuzzyfilter). Spark mapping: the MERGE
  // shape — per key set, a broadcast left join marks collisions; new
  // rows that hit update in place (all RHS against the OLD row,
  // VALUES(c) reading the incoming row), the rest append.
  // ------------------------------------------------------------------

  private val InsertDupRe =
    ("""(?is)^insert\s+(?:ignore\s+)?into\s+(?:`?\w+`?\.)?`?(\w+)`?\s*""" +
      """(\([^)]*\))?\s*((?:values|select)\b.*?)\s+on\s+duplicate\s+key\s+update\s+(.+)$""").r
  private val InsertIgnoreRe =
    ("""(?is)^insert\s+ignore\s+into\s+(?:`?\w+`?\.)?`?(\w+)`?\s*""" +
      """(\([^)]*\))?\s*((?:values|select)\b.*)$""").r

  private def tableKeySets(spark: SparkSession, table: String): Seq[Seq[String]] =
    state(spark).primaryKeys.get(table.toLowerCase)
      .map(_.split(",").map(_.trim).toSeq).toSeq ++
      uniqueKeysOf(spark, table).map(_._2)

  private def insertOnDupRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(InsertDupRe, q) match {
      case Some(IndexedSeq(table, colsOrNull, srcTxt, setTxt)) =>
        if (!spark.catalog.tableExists(table)) return None
        val target = spark.table(table)
        val tcols = target.columns.toSeq
        val fields = target.schema.fields.map(f => f.name.toLowerCase -> f).toMap
        val keySets = tableKeySets(spark, table)
        val named0 = alignedRows(spark, table, colsOrNull, srcTxt)
        if (keySets.isEmpty) {
          commitTable(spark, table, Effect(appended = Some(named0)))
          return Some(spark.emptyDataFrame)
        }
        val assigns = SqlText.splitTop(setTxt).map { a =>
          val m = """(?is)^\s*(?:`?\w+`?\.)?`?(\w+)`?\s*=\s*(.+)$""".r
            .findFirstMatchIn(a).getOrElse(return None)
          (m.group(1), m.group(2).trim)
        }
        if (assigns.exists(a => !fields.contains(a._1.toLowerCase))) return None
        // the reference rejects an update that rewrites a UNIQUE key
        // column (on_duplicate_key.result "unsupported DML")
        if (assigns.exists(a => uniqueKeysOf(spark, table)
          .exists(_._2.exists(_.equalsIgnoreCase(a._1)))))
          throw new UnsupportedOperationException(
            "unsupported DML: update unique key on duplicate")
        // VALUES(c) reads the INCOMING row — exposed as __new_c
        def valuesRefs(e: String): String =
          e.replaceAll("(?i)\\bvalues\\s*\\(\\s*`?(\\w+)`?\\s*\\)", "`__new_$1`")
        // MySQL applies the batch row-by-row: a row can collide with one
        // the SAME statement just inserted, and repeated keys chain their
        // updates (b=b+10 twice → +20). Split the batch into sequential
        // ROUNDS by per-key occurrence index and upsert round-by-round —
        // a few Spark jobs per extra round, rounds are almost always 1.
        val ordered = named0.withColumn("__ord", monotonically_increasing_id())
        val rnCols = keySets.zipWithIndex.map { case (keys, i) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(k => col(s"`$k`")): _*)
            .orderBy(col("__ord").asc)
          when(keys.map(k => col(s"`$k`").isNull).reduce(_ || _), lit(1))
            .otherwise(row_number().over(w)).as(s"__rn_$i")
        }
        val withRn = ordered
          .select((tcols.map(c => col(s"`$c`")) ++ rnCols): _*)
          .withColumn("__round",
            if (keySets.sizeIs == 1) col("__rn_0")
            else greatest(keySets.indices.map(i => col(s"__rn_$i")): _*))
          .localCheckpoint(true)
        val maxRoundRow = withRn.agg(max(col("__round"))).head
        // every round must run — truncating would silently drop rows
        // whose key repeats more often than the cap
        val maxRound =
          if (maxRoundRow.isNullAt(0)) 0 else maxRoundRow.getInt(0)
        // the rounds run over the statement's own state: the table's rows
        // (`Hit` once a round changed their values) and, `__new`, the rows
        // earlier rounds appended; only the final state is committed
        var cur = target.withColumn(Hit, lit(false)).withColumn("__new", lit(false))
        val curCols = (tcols.map(c => col(s"`$c`")) :+ col(Hit) :+ col("__new")).toIndexedSeq
        var affected = 0L
        (1 to maxRound).foreach { r =>
          val batch = withRn.filter(col("__round") === r)
            .select(tcols.map(c => col(s"`$c`")).toIndexedSeq: _*)
          if (r > 1) cur = cur.localCheckpoint(true)
          val pre = cur
          var remaining = batch
          var changedN = 0L
          keySets.zipWithIndex.foreach { case (keys, ki) =>
            if (ki > 0) {
              // the reference's dup-update path keys on the FIRST index
              // only; a residual collision on a later unique key is a
              // raw duplicate error (indup_04_multi_uk_null: (4,NULL,10)
              // errors "Duplicate entry '10' for key 'c'")
              val clash = remaining
                .filter(keys.map(k => col(s"`$k`").isNotNull).reduce(_ && _))
                .join(broadcast(pre.select(keys.map(c => col(s"`$c`")): _*).distinct),
                  keys, "left_semi")
                .select(keys.map(c => col(s"`$c`")): _*).limit(1).collect()
              if (clash.nonEmpty)
                throw new IllegalStateException(
                  s"Duplicate entry '${clash.head.toSeq.mkString("-")}' " +
                    s"for key '${keys.head}'")
            }
            val hits = remaining
              .filter(keys.map(k => col(s"`$k`").isNotNull).reduce(_ && _))
            val marked = hits
              .select(tcols.map(c => col(s"`$c`").as(s"__new_$c")) :+
                lit(true).as("__new__hit"): _*)
            val joinCond = keys.map(k =>
              col(s"`$k`") === col(s"`__new_$k`")).reduce(_ && _)
            var df = cur.join(broadcast(marked), joinCond, "left_outer")
              .withColumn("__dup", coalesce(col("__new__hit"), lit(false)))
            // every RHS evaluates against the OLD row + the incoming row
            assigns.zipWithIndex.foreach { case ((_, e), i) =>
              df = df.withColumn(s"__set_$i", expr(valuesRefs(e)))
            }
            // MySQL counts an update ONLY when a value actually changes
            // (on dup update v=v → affected 0, row_count.result)
            val chgCond = assigns.zipWithIndex.map { case ((c, _), i) =>
              !(col(s"__set_$i") <=> col(s"`${fields(c.toLowerCase).name}`"))
            }.reduce(_ || _)
            df = df.withColumn("__chg", col("__dup") && chgCond)
              .localCheckpoint(true)
            changedN += df.filter(col("__chg")).count()
            assigns.zipWithIndex.foreach { case ((c, _), i) =>
              val f = fields(c.toLowerCase)
              val rhs = storeCast(spark, table, f,
                col(s"__set_$i"), df.schema(s"__set_$i").dataType)
              df = df.withColumn(f.name,
                when(col("__dup"), rhs).otherwise(col(s"`${f.name}`")))
            }
            cur = df.withColumn(Hit, col(Hit) || col("__chg")).select(curCols: _*)
            // incoming rows that matched the ROUND-state on these keys
            // are consumed (they updated in place)
            remaining = remaining.join(
              broadcast(pre.select(keys.map(c => col(s"`$c`")): _*).distinct),
              keys, "left_anti")
              .select(tcols.map(c => col(s"`$c`")).toIndexedSeq: _*)
          }
          // MySQL affected-rows: 1 per inserted row, 2 per row whose
          // values actually CHANGED (unchanged hits count 0)
          val insertedN = remaining.count()
          affected += insertedN + changedN * 2
          cur = cur.unionByName(
            remaining.withColumn(Hit, lit(false)).withColumn("__new", lit(true)))
        }
        commitTable(spark, table, Effect(Some(cur.filter(!col("__new"))),
          appended = Some(cur.filter(col("__new")))))
        setRowCount(spark, affected)
        Some(spark.emptyDataFrame)
      case _ => None
    }

  private def insertIgnoreRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(InsertIgnoreRe, q) match {
      case Some(IndexedSeq(table, colsOrNull, srcTxt)) =>
        if (!spark.catalog.tableExists(table)) return None
        val target = spark.table(table)
        val tcols = target.columns.toSeq
        val keySets = tableKeySets(spark, table)
        val named0 = alignedRows(spark, table, colsOrNull, srcTxt)
        if (keySets.isEmpty) {
          commitTable(spark, table, Effect(appended = Some(named0)))
          return Some(spark.emptyDataFrame)
        }
        val snap = fkFilterOrphans(spark, table, named0).localCheckpoint(true)
        // MySQL applies row-by-row: a row REJECTED by an existing key frees
        // its other key values for later batch rows
        // (insert_ignore_multi_key). The existing keys that the batch
        // could hit are found distributed; only batch-sized results collect.
        def existing = keySets.map { keys =>
          target.join(broadcast(
            snap.select(keys.map(c => col(s"`$c`")): _*).distinct),
            keys, "left_semi")
            .select(keys.map(c => col(s"`$c`")): _*).distinct.collect()
            .map(_.toSeq).toSet
        }
        val kept = resolveBatch(spark, snap, keySets, replace = false, existing)
          .getOrElse {
            // bulk SELECT source: first-wins per key set + anti-join —
            // order-free and fully distributed
            var named = snap.withColumn("__ord", monotonically_increasing_id())
            keySets.foreach { keys =>
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keys.map(k => col(s"`$k`")): _*)
                .orderBy(col("__ord").asc)
              val anyNull = keys.map(k => col(s"`$k`").isNull).reduce(_ || _)
              named = named.withColumn("__rn", row_number().over(w))
                .filter(anyNull || col("__rn") === 1).drop("__rn")
              // no broadcast hint: the existing-key side scales with the
              // table; AQE picks broadcast when it is actually small
              named = named.join(
                target.select(keys.map(c => col(s"`$c`")): _*).distinct,
                keys, "left_anti")
                .select((tcols.map(c => col(s"`$c`")) :+ col("__ord")).toIndexedSeq: _*)
            }
            named.drop("__ord")
          }
        setRowCount(spark,
          commitTable(spark, table, Effect(appended = Some(kept))).appended)
        Some(spark.emptyDataFrame)
      case _ => None
    }

  /** Multi-table DELETE (`DELETE t1, t2 FROM t1 JOIN t2 ON ... WHERE`):
    * per target, the rows participating in at least one join row are
    * removed — identity is the full row (null-safe), like
    * multiUpdateRewrite; every match set materializes against the
    * pre-statement snapshot before any table commits.
    */
  private val MultiDeleteRe =
    """(?is)^delete\s+((?:`?\w+`?\s*,\s*)*`?\w+`?)\s+from\s+(.+?)\s*(?:where\s+(.+?))?\s*$""".r
  // DELETE FROM t1, t2 USING t1 JOIN t2 ON ... — the USING spelling
  private val MultiDeleteUsingRe =
    """(?is)^delete\s+from\s+((?:`?\w+`?\s*,\s*)*`?\w+`?)\s+using\s+(.+?)\s*(?:where\s+(.+?))?\s*$""".r
  private def multiDeleteRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(MultiDeleteUsingRe, q)
      .orElse(SqlText.matchMasked(MultiDeleteRe, q)) match {
      case Some(IndexedSeq(targetsTxt, fromTxt, condOrNull)) =>
        val aliases = tableAliases(fromTxt)
        val targets = SqlText.splitTop(targetsTxt)
          .map(_.trim.stripPrefix("`").stripSuffix("`").toLowerCase)
        if (targets.isEmpty || targets.exists(!aliases.contains(_))) return None
        if (targets.exists(t => !spark.catalog.tableExists(aliases(t)))) return None
        // partitioned tables route rows through per-partition subtables;
        // copy-on-write DML doesn't compose with that layout yet
        if (targets.exists(t => Partitions.get(spark, aliases(t)).isDefined))
          throw new UnsupportedOperationException(
            "not supported: multi-table DELETE over partitioned tables")
        val whereSql = Option(condOrNull).map(c => s" WHERE ($c)").getOrElse("")
        val matchSets = targets.map { al =>
          (al, spark.sql(
            s"SELECT DISTINCT $al.* FROM $fromTxt$whereSql").localCheckpoint(true))
        }
        matchSets.foreach { case (al, matched) =>
          val table = aliases(al)
          deleteHits(spark, table, flagMatched(spark.table(table), matched))
        }
        Some(spark.emptyDataFrame)
      case _ => None
    }

  // ------------------------------------------------------------------
  // One write path for every row change: UPDATE, DELETE, REPLACE, the
  // upserts, their multi-table forms, LOAD DATA and the foreign-key
  // actions (the reference's MultiUpdate/Deletion/DedupJoin operators,
  // `pkg/sql/colexec/multi_update/`). A statement computes an [[Effect]]
  // against the snapshot taken before it; `commitTable` alone writes it,
  // copy-on-write (localCheckpoint → overwrite → refresh, the shape
  // Delta/Iceberg use for UPDATE at scale), and counts it.
  // ------------------------------------------------------------------

  private val DeleteRe =
    """(?is)^delete\s+from\s+(?:`?\w+`?\.)?`?(\w+)`?\s*(?:where\s+(.+?))?\s*(?:limit\s+(\d+))?\s*$""".r
  private val UpdateRe =
    """(?is)^update\s+(ignore\s+)?(?:`?\w+`?\.)?`?(\w+)`?\s+set\s+(.+?)\s*(?:where\s+(.+?))?\s*(?:order\s+by\s+(.+?))?\s*(?:limit\s+(\d+))?\s*$""".r

  // flags: a row the statement hits; a row referencing a deleted key
  private val Hit = "__hit"
  private val Ref = "__ref"

  /** `rows`: every row of the snapshot, with its new values and the
    * boolean `Hit` column (a hit row is removed when `removeHits`, else
    * replaced in place); `appended`: the rows the statement adds.
    */
  private final case class Effect(rows: Option[DataFrame] = None,
      appended: Option[DataFrame] = None, removeHits: Boolean = false)

  /** How many rows a committed effect hit and appended. */
  private final case class Written(hits: Long, appended: Long)

  /** Writes `e`: nothing when it hits and appends no row, an append when
    * it only appends, else an overwrite from one checkpoint.
    */
  private def commitTable(spark: SparkSession, table: String, e: Effect): Written = {
    val tcols = spark.table(table).columns.toSeq.map(c => col(s"`$c`"))
    val parts =
      e.rows.map(_.select(tcols :+ col(Hit) :+ lit(false).as("__new"): _*)) ++
        e.appended.map(_.select(tcols :+ lit(false).as(Hit) :+ lit(true).as("__new"): _*))
    if (parts.isEmpty) return Written(0, 0)
    val snap = parts.reduce(_ unionByName _).localCheckpoint(true)
    // both counts in one pass over the checkpointed blocks
    val (hits, appended) = snap.select(col(Hit), col("__new")).queryExecution.toRdd
      .map(r => (if (r.getBoolean(0)) 1L else 0L, if (r.getBoolean(1)) 1L else 0L))
      .fold((0L, 0L)) { case ((h1, a1), (h2, a2)) => (h1 + h2, a1 + a2) }
    if (hits > 0) {
      val kept = if (e.removeHits) snap.filter(!col(Hit)) else snap
      kept.select(tcols: _*).write.mode("overwrite").insertInto(table)
    } else if (appended > 0)
      snap.filter(col("__new")).select(tcols: _*).write.insertInto(table)
    if (hits > 0 || appended > 0) spark.catalog.refreshTable(table)
    Written(hits, appended)
  }

  /** `rows` plus the boolean column `flag` (ORed into one `rows` already
    * has): whether the values of `cols`, none of them NULL, equal a row
    * of `keys`, column by column. `bcast` broadcasts the distinct keys.
    */
  private def flagKeys(rows: DataFrame, cols: Seq[String], keys: DataFrame,
      flag: String = Hit, bcast: Boolean = true): DataFrame = {
    val k0 = keys.toDF(cols.indices.map(i => s"__k$i"): _*).distinct
      .withColumn("__khit", lit(true))
    val k = if (bcast) broadcast(k0) else k0
    val cond = cols.zipWithIndex.map { case (c, i) =>
      rows(s"`$c`") === k(s"__k$i") }.reduce(_ && _)
    val hit = coalesce(k("__khit"), lit(false))
    val kept = rows.columns.toSeq.filterNot(_ == flag).map(c => rows(s"`$c`"))
    rows.join(k, cond, "left_outer").select(kept :+
      (if (rows.columns.contains(flag)) rows(flag) || hit else hit).as(flag): _*)
  }

  /** ON DELETE SET NULL: `rows` with `childCols` cleared where they
    * reference a row of `keys` (the deleted parent keys); those rows are
    * flagged `flag`.
    */
  private def nullRefs(rows: DataFrame, childCols: Seq[String], keys: DataFrame,
      flag: String = Hit): DataFrame =
    childCols.foldLeft(flagKeys(rows, childCols, keys, flag)) { (d, c) =>
      d.withColumn(c, when(col(flag), lit(null)).otherwise(col(s"`$c`")))
    }

  /** … LIMIT n: `Hit` stays on the first `n` hit rows of `order` (all
    * columns without an ORDER BY, standing in for insertion order).
    */
  private def limitHits(rows: DataFrame, order: Seq[Column], n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(order: _*)
      .rowsBetween(Long.MinValue, 0)
    rows.withColumn(Hit,
      col(Hit) && sum(when(col(Hit), 1).otherwise(0)).over(w) <= n)
  }

  // `table [[AS] alias]` items (parenthesized subqueries are not targets)
  private val AliasedRe =
    """(?i)(?:^|,|\bjoin\s)\s*`?(\w+)`?(?:\s+(?:as\s+)?(?!on\b|join\b|inner\b|left\b|right\b|cross\b|where\b|using\b|set\b)`?(\w+)`?)?""".r

  /** Lower-cased alias → table of a multi-table statement's FROM list. */
  private def tableAliases(fromTxt: String): Map[String, String] =
    AliasedRe.findAllMatchIn(fromTxt).map { m =>
      val t = m.group(1)
      Option(m.group(2)).getOrElse(t).toLowerCase -> t
    }.toMap

  /** `target`'s rows, flagged `Hit` where they equal (every column,
    * null-safe) the leading columns of a row of `matched` — one row per
    * target row at most; `matched`'s further columns ride along.
    */
  private def flagMatched(target: DataFrame, matched: DataFrame): DataFrame = {
    val tcols = target.columns.toSeq
    val marked = matched.toDF(
      (tcols.map(_ + "__m") ++ matched.columns.drop(tcols.length)): _*)
      .withColumn("__m", lit(true))
    val cond = tcols.map(c => col(s"`$c`") <=> col(s"`${c}__m`")).reduce(_ && _)
    target.join(broadcast(marked), cond, "left_outer")
      .withColumn(Hit, coalesce(col("__m"), lit(false)))
  }

  /** Largest VALUES batch that [[resolveBatch]] resolves on the driver. */
  private val BatchMax = 10000

  /** `batch` applied row by row, as MySQL does: a row colliding on any
    * key set with the rows kept so far (or, for INSERT IGNORE, the
    * `existing` keys) replaces them (`replace`) or is dropped, taking no
    * key. NULL keys never collide. None above [[BatchMax]] rows.
    */
  private def resolveBatch(spark: SparkSession, batch: DataFrame,
      keySets: Seq[Seq[String]], replace: Boolean,
      existing: => Seq[Set[Seq[Any]]]): Option[DataFrame] = {
    val rows = batch.limit(BatchMax + 1).collect()
    if (rows.length > BatchMax) return None
    val idx = keySets.map(_.map(k => batch.columns.indexWhere(_.equalsIgnoreCase(k))))
    def keys(r: org.apache.spark.sql.Row): Seq[Option[Seq[Any]]] = idx.map { is =>
      val vs = is.map(r.get)
      if (vs.contains(null)) None else Some(vs)
    }
    def collide(a: Seq[Option[Seq[Any]]], b: Seq[Option[Seq[Any]]]) =
      a.indices.exists(i => a(i).isDefined && a(i) == b(i))
    val kept = scala.collection.mutable.ArrayBuffer.empty[(org.apache.spark.sql.Row, Seq[Option[Seq[Any]]])]
    val taken = (if (replace) keySets.map(_ => Set.empty[Seq[Any]]) else existing)
      .map(s => scala.collection.mutable.Set(s.toSeq: _*))
    rows.foreach { r =>
      val ks = keys(r)
      if (replace) {
        kept.filterInPlace(p => !collide(ks, p._2))
        kept += r -> ks
      } else if (!ks.indices.exists(i => ks(i).exists(taken(i).contains))) {
        kept += r -> ks
        ks.indices.foreach(i => ks(i).foreach(taken(i) += _))
      }
    }
    Some(spark.createDataFrame(
      java.util.Arrays.asList(kept.map(_._1).toSeq: _*), batch.schema))
  }

  /** Deletes the `Hit` rows of `flagged` (all of `table`'s rows) after
    * the ON DELETE actions of the foreign keys referencing them.
    */
  private def deleteHits(spark: SparkSession, table: String, flagged: DataFrame): Written = {
    if (!fkChecksOn(spark) || childRefsOf(spark, table).isEmpty)
      return commitTable(spark, table, Effect(Some(flagged), removeHits = true))
    val snap = flagged.localCheckpoint(true)
    val doomed = snap.filter(col(Hit))
    fkOnDelete(spark, table, doomed)
    // SELF-referencing ON DELETE SET NULL: surviving rows that
    // referenced a deleted key lose the reference (fk_issue_22736:
    // deleting the middle of a chain nulls the tail's pointer)
    val rows = state(spark).foreignKeys.getOrElse(table.toLowerCase, Vector.empty)
      .filter(r => r.parent == table.toLowerCase && r.onDelete == "set null")
      .foldLeft(snap) { (df, r) =>
        nullRefs(df, r.childCols,
          doomed.select(r.parentCols.map(c => col(s"`$c`")): _*), Ref).drop(Ref)
      }
    commitTable(spark, table, Effect(Some(rows), removeHits = true))
  }

  /** `WITH cte AS (...) UPDATE/DELETE ...` (with_insert.result:70-93):
    * the CTEs become temp views visible to the DML's subqueries, then
    * drop. (WITH + INSERT/SELECT stays on the normal CTE path.)
    */
  private val WithDmlRe = """(?is)^with\s+(.+?\))\s+((?:update|delete)\b.*)$""".r
  private def withDmlRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    q match {
      case WithDmlRe(ctes, rest) if !ctes.trim.toLowerCase.startsWith("recursive") =>
        val defs = SqlText.splitTop(ctes).map(_.trim)
        val made = defs.flatMap(d =>
          """(?is)^`?(\w+)`?\s+as\s*\((.*)\)\s*$""".r.findFirstMatchIn(d)
            .map(m => (m.group(1), m.group(2))))
        if (made.length != defs.length) return None
        made.foreach { case (n, body) =>
          sql(spark, body).createOrReplaceTempView(n)
        }
        try Some(sql(spark, rest))
        finally made.foreach(t => spark.catalog.dropTempView(t._1))
      case _ => None
    }

  /** Load-time cast of a string cell to the column type: integral
    * targets fall back through DOUBLE so scientific notation loads
    * (`2.13142E+15` into BIGINT — aaa.csv via ddl/lowercase.result:35,
    * the reference's float→int store conversion).
    */
  private def moLoadCast(name: String, t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        s"coalesce(try_cast(`$name` AS ${t.sql}), " +
          s"try_cast(try_cast(`$name` AS DOUBLE) AS ${t.sql}))"
      case _ => s"try_cast(`$name` AS ${t.sql})"
    }
  }

  /** A direct INSERT into an IVF entries relation is accepted and
    * ignored: our entries are a live derivation of the base table (the
    * reference materializes them and must tolerate injected garbage —
    * vector_ivfflat_null_entry_panic_minimal injects NULL vectors; the
    * panic-free top-k over real rows is the contract being tested).
    */
  private def entriesInsertNoop(spark: SparkSession, q: String): Option[DataFrame] =
    """(?is)^insert\s+into\s+`?(\w+)`?""".r.findFirstMatchIn(q)
      .filter(m => MoCatalog.isEntriesView(spark, m.group(1)))
      .map(_ => spark.emptyDataFrame)

  // ------------------------------------------------------------------
  // RBAC DDL + MySQL session-db error states (reference:
  // pkg/frontend/authenticate.go; BVT ddl/lowercase, truncate_table_2,
  // function/func_aggr_var_pop:248-283)
  // ------------------------------------------------------------------

  private val CreateUserRe =
    """(?is)^create\s+user\s+(?:if\s+not\s+exists\s+)?`?'?([\w$]+)'?`?\b.*$""".r
  private val DropUserRe =
    """(?is)^drop\s+user\s+(?:if\s+exists\s+)?`?'?([\w$]+)'?`?\s*$""".r
  private val CreateAccountRe =
    """(?is)^create\s+account\s+(?:if\s+not\s+exists\s+)?`?([\w$]+)`?\s+(.*)$""".r
  private val AlterAccountRe =
    """(?is)^alter\s+account\s+(?:if\s+exists\s+)?`?([\w$]+)`?\s+(.*)$""".r
  private val DropAccountRe =
    """(?is)^drop\s+account\s+(?:if\s+exists\s+)?`?([\w$]+)`?\s*$""".r
  private val CreateRoleRe =
    """(?is)^create\s+role\s+(?:if\s+not\s+exists\s+)?(.+)$""".r
  private val DropRoleRe =
    """(?is)^drop\s+role\s+(?:if\s+exists\s+)?(.+)$""".r

  // ------------------------------------------------------------------
  // Publications & subscriptions (reference `pkg/frontend/` publication
  // DDL; BVT publication_subscription/). Registry + checks live in
  // MoCatalog; reads through a subscription db resolve flat (the
  // published tables ARE the publisher's), writes are rejected below.
  // ------------------------------------------------------------------

  private val CreatePubRe =
    """(?is)^create\s+publication\s+(?:`([^`]+)`|(\S+))\s+database\s+(?:`([^`]+)`|([^\s`;]+))(.*)$""".r
  private val AlterPubRe =
    """(?is)^alter\s+publication\s+(?:if\s+exists\s+)?(?:`([^`]+)`|(\S+))\s+(.*)$""".r
  private val DropPubRe =
    """(?is)^drop\s+publication\s+(if\s+exists\s+)?(?:`([^`]+)`|(\S+?))\s*;?\s*$""".r
  private val SubDbRe =
    ("""(?is)^create\s+database\s+(?:if\s+not\s+exists\s+)?(?:`([^`]+)`|([^\s`;]+))\s+""" +
      """from\s+(?:`([^`]+)`|(\w+))\s+publication\s+(?:`([^`]+)`|(\S+?))\s*;?\s*$""").r

  /** Parse the clause tail of CREATE/ALTER PUBLICATION: `table t1,t2`,
    * `account a1,a2|all`, `database d`, `comment 'c'`, in any order.
    * Returns (tables, accountClause, comment, db) where accountClause
    * is None when the keyword is absent and Some(list) when present —
    * a list containing `all` means every account.
    */
  private def pubClauses(tail: String): (Option[Seq[String]],
      Option[Seq[String]], String, Option[String]) = {
    val masked = SqlText.mask(tail)
    def listAt(kw: String): Option[Seq[String]] =
      s"(?is)\\b$kw\\s+(.+?)(?=\\s+(?:table|account|database|comment)\\b|\\s*;?\\s*$$)".r
        .findFirstMatchIn(masked).map { m =>
          tail.substring(m.start(1), m.end(1)).split(",").toSeq
            .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
        }
    val comment = """(?is)\bcomment\s+('[^']*')""".r.findFirstMatchIn(tail)
      .map(_.group(1).stripPrefix("'").stripSuffix("'")).getOrElse("")
    val db = """(?is)\bdatabase\s+(?:`([^`]+)`|([^\s`;]+))""".r
      .findFirstMatchIn(tail)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))
    (listAt("table"), listAt("account"), comment, db)
  }

  // MO cluster tables (`create cluster table`, reference pkg/catalog):
  // sys-owned tables inside mo_catalog carrying a hidden account_id
  // column; unlike ordinary system-db targets, sys may write them
  private def isClusterTable(spark: SparkSession, t: String): Boolean =
    state(spark).clusterTables.contains(t.toLowerCase)
  private def clusterDdl(spark: SparkSession, q: String): String = {
    if (!q.toLowerCase.contains("cluster")) return q
    val m = """(?is)^create\s+cluster\s+table\s+`?(\w+)`?\s*\((.*)\)\s*;?\s*$""".r
      .findFirstMatchIn(q).getOrElse(return q)
    state(spark).clusterTables.put(m.group(1).toLowerCase, ())
    s"CREATE TABLE `${m.group(1)}` (${m.group(2)}, account_id INT)"
  }

  private def pubSubRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    val low = q.toLowerCase
    if (!low.contains("publication")) return None
    SubDbRe.findFirstMatchIn(q).foreach { m =>
      val sub = Option(m.group(1)).getOrElse(m.group(2))
      val acct = Option(m.group(3)).getOrElse(m.group(4))
      val pub = Option(m.group(5)).getOrElse(m.group(6))
      MoCatalog.createSubscription(spark, sub, acct, pub)
      return Some(spark.emptyDataFrame)
    }
    CreatePubRe.findFirstMatchIn(q).foreach { m =>
      val name = Option(m.group(1)).getOrElse(m.group(2))
      val db = Option(m.group(3)).getOrElse(m.group(4))
      val (tables, acctClause, comment, _) = pubClauses(m.group(5))
      // no account clause, or `account all` → every account may subscribe
      val accounts = acctClause.filterNot(_.exists(_.equalsIgnoreCase("all")))
      MoCatalog.createPublication(spark, name, db, tables, accounts, comment)
      return Some(spark.emptyDataFrame)
    }
    AlterPubRe.findFirstMatchIn(q).foreach { m =>
      val name = Option(m.group(1)).getOrElse(m.group(2))
      val (tables, acctClause, _, db) = pubClauses(m.group(3))
      MoCatalog.alterPublication(spark, name, db, tables, acctClause)
      return Some(spark.emptyDataFrame)
    }
    DropPubRe.findFirstMatchIn(q).foreach { m =>
      val name = Option(m.group(2)).getOrElse(m.group(3))
      MoCatalog.dropPublication(spark, name, m.group(1) != null)
      return Some(spark.emptyDataFrame)
    }
    None
  }

  /** Reject writes/DDL addressed to a subscription database (reference
    * error texts, publish_subscribe.result): subscribed tables are
    * read-only on the subscriber side.
    */
  private def pubSubGuard(spark: SparkSession, q: String): Unit = {
    val masked = SqlText.mask(q).trim
    def isSub(db: String): Boolean =
      MoCatalog.subOf(spark, db).isDefined
    def targetDbTable(tok: String): (Option[String], String) = {
      val t = tok.replace("`", "")
      if (t.contains(".")) {
        val i = t.indexOf('.')
        (Some(t.substring(0, i)), t.substring(i + 1))
      } else (MoCatalog.currentDb(spark), t)
    }
    val kw = masked.toLowerCase
    val tok = NoDbTableRes.view.flatMap(_.findFirstMatchIn(masked))
      .headOption.map(_.group(1))
      .orElse("""(?is)^create\s+(?:or\s+replace\s+)?view\s+(?:if\s+not\s+exists\s+)?(`?[\w$]+`?(?:\.`?[\w$]+`?)?)""".r
        .findFirstMatchIn(masked).map(_.group(1)))
      .orElse("""(?is)^create\s+sequence\s+(?:if\s+not\s+exists\s+)?(`?[\w$]+`?(?:\.`?[\w$]+`?)?)""".r
        .findFirstMatchIn(masked).map(_.group(1)))
    tok.foreach { t =>
      val (db, tbl) = targetDbTable(t)
      if (db.exists(isSub)) {
        if (kw.startsWith("truncate"))
          throw new IllegalStateException("internal error: can not " +
            s"truncate table '$tbl' which is published by other account")
        if (kw.startsWith("drop table"))
          throw new IllegalStateException(
            s"internal error: can not drop subscription table $tbl")
        if (kw.startsWith("create or replace view") ||
          kw.startsWith("create view"))
          throw new IllegalStateException(
            "internal error: cannot create view in subscription database")
        if (kw.startsWith("create sequence"))
          throw new IllegalStateException(
            "internal error: cannot create sequence in subscription database")
        if (kw.startsWith("create"))
          throw new IllegalStateException(
            "internal error: cannot create table in subscription database")
        throw new IllegalStateException(
          "internal error: cannot insert/update/delete from public table")
      }
    }
  }

  // ------------------------------------------------------------------
  // Per-db table namespacing (registry: [[Namespaces]]). The resolution
  // pass maps logical `[db.]table` references to physical storage names
  // — byte-identical to the old flat-storage qualifier strip until two
  // databases actually hold namesake tables (then the later creation is
  // mangled and every reference form re-points at it). Reference:
  // relations keyed by database id (`pkg/catalog`), tenant-scoped dbs
  // (`pkg/frontend/authenticate.go`).
  // ------------------------------------------------------------------

  private def activeRemapDb(spark: SparkSession): Map[String, String] =
    if (Remap.applying ||
      sysVarValue(spark, "session", "enable_remap_hint") != "1") Map.empty
    else remapRulesCache.getOrElseUpdate(
      sysVarValue(spark, "session", "remap_rewrites"),
      try Remap.parse(spark,
        unquoteLit(sysVarValue(spark, "session", "remap_rewrites")))
      catch { case _: Exception => Remap.Empty }).remapdb

  /** The db key unqualified references resolve in: current db, through
    * remapdb (hint/remap_db_objects: USE keeps the real db but table
    * references land in the destination), then subscription → publisher.
    */
  private def effectiveCurrentDbKey(spark: SparkSession): Option[String] =
    MoCatalog.currentDb(spark).map { c =>
      MoCatalog.resolvedDbKey(spark,
        activeRemapDb(spark).getOrElse(c.toLowerCase, c))
    }

  private def nsKeyFor(spark: SparkSession, db: Option[String]): Option[String] =
    db match {
      case Some(d) => Some(MoCatalog.resolvedDbKey(spark,
        activeRemapDb(spark).getOrElse(d.toLowerCase, d)))
      case None => effectiveCurrentDbKey(spark)
    }

  /** Harness/API hook: the PHYSICAL name `[db.]t` currently resolves to
    * (identity until a namesake mangling exists).
    */
  def resolveTableName(spark: SparkSession, db: Option[String],
      t: String): String =
    nsKeyFor(spark, db).map(k => Namespaces.resolve(spark, k, t)).getOrElse(t)

  private val NsTempRe =
    """(?is)^(create\s+temporary\s+table\s+(?:if\s+not\s+exists\s+)?`?[\w$]+`?)(.*)$""".r
  private val NsCreateTblRe =
    """(?is)^(create\s+(?:external\s+)?table\s+(?:if\s+not\s+exists\s+)?)(?:`?([\w$]+)`?\s*\.\s*)?`?([\w$]+)`?([\s(].*)$""".r
  private val NsCreateViewRe =
    """(?is)^(create\s+(?:or\s+replace\s+)?view\s+(?:if\s+not\s+exists\s+)?)(?:`?([\w$]+)`?\s*\.\s*)?`?([\w$]+)`?(\s.*)$""".r
  private val NsRenameRe = """(?is)^(rename\s+table\s+)(.+)$""".r
  private val NsRenamePairRe =
    """(?is)^(?:`?([\w$]+)`?\s*\.\s*)?`?([\w$]+)`?\s+to\s+(?:`?([\w$]+)`?\s*\.\s*)?`?([\w$]+)`?$""".r
  private val NsAlterRenameRe =
    """(?is)^(alter\s+table\s+)(?:`?([\w$]+)`?\s*\.\s*)?`?([\w$]+)`?\s+rename\s+(?:to\s+|as\s+)?`?([\w$]+)`?\s*$""".r

  /** Generic reference resolution on statement text: first the (rare)
    * mangled bare names of the effective current db, then qualified
    * `db.t` forms for every known db (which ALSO covers the bare pass's
    * deliberately-skipped dot-prefixed occurrences).
    */
  private def nsRefs(spark: SparkSession, s0: String): String = {
    var s = s0
    val known = MoCatalog.knownDbs(spark)
    effectiveCurrentDbKey(spark).foreach { cur =>
      Namespaces.mangledOf(spark, cur).foreach { case (l, p) =>
        if (s.toLowerCase.contains(l)) {
          val ql = java.util.regex.Pattern.quote(l)
          // a mangled name that doubles as a KNOWN DB name must leave
          // qualifier positions alone (`dsrc.base` with a table `dsrc`)
          val dotFollow =
            if (known.exists(_.equalsIgnoreCase(l))) "(?!\\s*\\.)" else ""
          s = SqlText.replaceOutside(s,
            s"(?i)(?:(\\.\\s*)`?$ql`?|(?<![.\\w$$@%`])`?$ql`?$dotFollow)(?![\\w$$])".r,
            m => if (m.group(1) != null) m.matched else p)
        }
      }
    }
    known.foreach { db =>
      if (s.toLowerCase.contains(db.toLowerCase)) {
        val qd = java.util.regex.Pattern.quote(db)
        val key = nsKeyFor(spark, Some(db)).get
        // emit the bare physical token (always \w+): downstream
        // rewrites (MATCH single-table FROM etc.) match unbackticked
        s = SqlText.replaceOutside(s,
          s"(?i)(?<![\\w$$@.])`?$qd`?\\s*\\.\\s*(?:`([\\w$$]+)`|([\\w$$]+))".r,
          m => Namespaces.resolve(spark, key,
            Option(m.group(1)).getOrElse(m.group(2))))
      }
    }
    s
  }

  /** DROP DATABASE cascade: drop every tracked table of the db key from
    * the Spark catalog and forget its registries; affected rows = table
    * count (reference row_count.result:47-53).
    */
  private def dropDbTables(spark: SparkSession, dbKey: String): Unit = {
    val owned = Namespaces.tablesOf(spark, dbKey)
    owned.foreach { case (_, phys) =>
      try spark.sql(s"DROP TABLE IF EXISTS `$phys`")
      catch { case _: Exception =>
        try spark.sql(s"DROP VIEW IF EXISTS `$phys`")
        catch { case _: Exception => () }
      }
      forgetTable(spark, phys)
    }
    Namespaces.dropDbEntries(spark, dbKey)
    setRowCount(spark, owned.size.toLong)
  }

  /** Forget every per-table registry entry of a (physical) table name —
    * shared by DROP TABLE and the DROP DATABASE cascade.
    */
  private def forgetTable(spark: SparkSession, phys: String): Unit = {
    val t = phys.toLowerCase
    val st = state(spark)
    Seq(st.ftIndexCols, st.vecCols, st.autoIncCols, st.primaryKeys,
      st.uniqueKeys, st.foreignKeys, st.loadPaths).foreach(_.remove(t))
    st.tsFsp.keys.filter(_._1 == t).foreach(st.tsFsp.remove)
    MoCatalog.dropTable(spark, phys)
    Namespaces.forget(spark, phys)
    EnumSet.forget(spark, phys)
    // cached postings for the dead table can never be valid again
    graft.fulltext.Bm25.FulltextIndex.invalidate(phys)
    // vector indexes die with their table too (registry keys are
    // "$name-$table-$vecCol")
    val mid = s"-$phys-"
    graft.plans.VectorIndex.indexes(spark).map(_.name).filter(_.contains(mid)).distinct
      .foreach(graft.plans.VectorIndex.drop(spark, _))
  }

  /** Resolution pass — replaces the flat-storage qualifier strip.
    * CREATE/RENAME targets get a physical-name DECISION (claim bare or
    * mangle on collision); all other reference forms resolve through
    * the registry.
    */
  private def namespaceRewrite(spark: SparkSession, q0: String): String =
    q0 match {
      // temp tables are session-scoped, untracked; only the body
      // (CTAS select etc.) resolves
      case NsTempRe(head, rest) => head + nsRefs(spark, rest)
      case NsCreateTblRe(pre, db, t, rest) =>
        nsKeyFor(spark, Option(db)) match {
          case Some(key) =>
            val phys = Namespaces.createName(spark, key, t)
            val rest2 = nsRefs(spark, rest)
            // LIKE copies the source's declared layout (info_schema)
            """(?is)^\s+like\s+`?([\w$]+)`?\s*;?\s*$""".r
              .findFirstMatchIn(rest2).foreach { lm =>
                MoCatalog.copyDeclaredLike(spark, lm.group(1), phys,
                  state(spark).primaryKeys.contains(lm.group(1).toLowerCase))
              }
            // CLONE (reference `pkg/frontend` clone DDL): schema+data
            // copy resolved at EXECUTE time — a CTAS over the live
            // source picks up post-PREPARE schema changes
            // (hint/remap_db_objects.sql:99-108)
            """(?is)^\s+clone\s+`?([\w$]+)`?\s*;?\s*$""".r
              .findFirstMatchIn(rest2).foreach { cm =>
                MoCatalog.copyDeclaredLike(spark, cm.group(1), phys,
                  srcHasPk = true)
                return pre + "`" + phys + "` USING parquet AS " +
                  s"SELECT * FROM `${cm.group(1)}`"
              }
            pre + "`" + phys + "`" + rest2
          case None => nsRefs(spark, q0) // no db context: untracked
        }
      case NsCreateViewRe(pre, db, t, rest) =>
        nsKeyFor(spark, Option(db)) match {
          case Some(key) =>
            val phys = Namespaces.createName(spark, key, t)
            MoCatalog.registerView(spark, phys)
            MoTypeInfer.registerViewCols(spark, phys, rest)
            pre + "`" + phys + "`" + nsRefs(spark, rest)
          case None =>
            MoTypeInfer.registerViewCols(spark, t, rest)
            nsRefs(spark, q0)
        }
      case NsAlterRenameRe(pre, db, t, tgt) =>
        val srcKey = nsKeyFor(spark, Option(db))
        srcKey match {
          case Some(key) =>
            val sPhys = Namespaces.resolve(spark, key, t)
            val tPhys = Namespaces.createName(spark, key, tgt)
            Namespaces.forget(spark, sPhys)
            MoCatalog.renameTableMeta(spark, sPhys, tPhys)
            pre + "`" + sPhys + "` RENAME TO `" + tPhys + "`"
          case None => nsRefs(spark, q0)
        }
      case NsRenameRe(pre, list) if nsKeyFor(spark, None).isDefined ||
          list.contains(".") =>
        val items = SqlText.splitTop(list).map(_.trim).map {
          case NsRenamePairRe(db1, a, db2, b) =>
            (nsKeyFor(spark, Option(db1)), nsKeyFor(spark, Option(db2))) match {
              case (Some(k1), Some(k2)) =>
                val aPhys = Namespaces.resolve(spark, k1, a)
                val bPhys = Namespaces.createName(spark, k2, b)
                Namespaces.forget(spark, aPhys)
                MoCatalog.renameTableMeta(spark, aPhys, bPhys)
                s"`$aPhys` TO `$bPhys`"
              case _ => s"`$a` TO `$b`"
            }
          case other => other
        }
        pre + items.mkString(", ")
      case _ => nsRefs(spark, q0)
    }

  private def rbacRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    def names(txt: String): Seq[String] =
      SqlText.splitTop(txt).map(_.trim.stripPrefix("`").stripSuffix("`")
        .stripPrefix("'").stripSuffix("'")).filter(_.matches("[\\w$]+"))
    SqlText.matchMasked(CreateUserRe, q).foreach { g =>
      MoCatalog.createUser(spark, g(0)); return Some(spark.emptyDataFrame) }
    SqlText.matchMasked(DropUserRe, q).foreach { g =>
      MoCatalog.dropUser(spark, g(0)); return Some(spark.emptyDataFrame) }
    SqlText.matchMasked(CreateAccountRe, q).foreach { g =>
      val rest = q.substring(q.length - g(1).length)
      val admin = """(?is)admin_name\s*=?\s*'([^']*)'""".r
        .findFirstMatchIn(rest).map(_.group(1)).getOrElse("root")
      val comments = """(?is)\bcomment\s+'([^']*)'""".r
        .findFirstMatchIn(rest).map(_.group(1)).getOrElse("")
      val status =
        if ("""(?i)\bsuspend\b""".r.findFirstIn(SqlText.mask(rest))
          .isDefined) "suspend" else "open"
      MoCatalog.createAccount(spark, g(0), admin, status, comments)
      return Some(spark.emptyDataFrame)
    }
    SqlText.matchMasked(AlterAccountRe, q).foreach { g =>
      val rest = q.substring(q.length - g(1).length)
      val masked = SqlText.mask(rest)
      val comments = """(?is)\bcomment\s+'([^']*)'""".r
        .findFirstMatchIn(rest).map(_.group(1))
      val status =
        if ("""(?i)\bsuspend\b""".r.findFirstIn(masked).isDefined) Some("suspend")
        else if ("""(?i)\bopen\b""".r.findFirstIn(masked).isDefined) Some("open")
        else None
      MoCatalog.alterAccount(spark, g(0), status, comments)
      return Some(spark.emptyDataFrame)
    }
    SqlText.matchMasked(DropAccountRe, q).foreach { g =>
      // the tenant's tables die with its databases
      Namespaces.accountDbKeys(spark, g(0))
        .foreach(dropDbTables(spark, _))
      MoCatalog.dropAccount(spark, g(0)); return Some(spark.emptyDataFrame) }
    SqlText.matchMasked(CreateRoleRe, q).foreach { g =>
      names(g(0)).foreach(MoCatalog.createRole(spark, _))
      return Some(spark.emptyDataFrame) }
    SqlText.matchMasked(DropRoleRe, q).foreach { g =>
      names(g(0)).foreach(MoCatalog.dropRole(spark, _))
      return Some(spark.emptyDataFrame) }
    // unparsed variants (ALTER USER password policy etc.): accepted
    // no-ops — the introspection slice tracks existence, not credentials
    if ("""(?is)^(create|drop|alter)\s+(user|account|role)\b""".r
      .findFirstIn(q).isDefined) return Some(spark.emptyDataFrame)
    None
  }

  /** MySQL's session-db error states: a session whose current database
    * was dropped errors "No database selected" on any statement needing
    * an unqualified table; writes inside the predefined system dbs are
    * privilege errors (truncate_table_2.result:141-160). Only sessions
    * that ever issued `use` are subject — library callers that never
    * select a db keep the default-db behavior.
    */
  // one table token: backticked (any chars, e.g. `pub-ft-db`) or bare
  private val TblTok = """(?:`[^`]+`|[\w$]+)"""
  private val NoDbTableRes = List(
    s"""(?is)^(?:create|drop|truncate)\\s+(?:temporary\\s+|external\\s+)?table\\s+(?:if\\s+(?:not\\s+)?exists\\s+)?($TblTok(?:\\.$TblTok)?)""".r,
    s"""(?is)^insert\\s+(?:ignore\\s+)?(?:into\\s+)?($TblTok(?:\\.$TblTok)?)""".r,
    s"""(?is)^replace\\s+(?:into\\s+)?($TblTok(?:\\.$TblTok)?)""".r,
    s"""(?is)^update\\s+($TblTok(?:\\.$TblTok)?)\\s+set\\b""".r,
    s"""(?is)^delete\\s+from\\s+($TblTok(?:\\.$TblTok)?)""".r,
    s"""(?is)^alter\\s+table\\s+($TblTok(?:\\.$TblTok)?)""".r,
    s"""(?is)^load\\s+data\\s.*?\\binto\\s+table\\s+($TblTok(?:\\.$TblTok)?)""".r)

  private def noDbGuard(spark: SparkSession, q: String): Unit = {
    // only the OUTERMOST user statement is subject: rewrite-internal
    // probe queries are engine-generated over already-resolved names
    // (a qualified UPDATE in a db-less session re-enters sql() with an
    // unqualified SELECT — that inner statement must not error)
    if (sqlDepth.get() > 1) return
    val cur = MoCatalog.currentDb(spark)
    val masked = SqlText.mask(q)
    if (cur.exists(d => MoCatalog.SystemDbs.contains(d.toLowerCase))) {
      // writes that RESOLVE into a predefined system db are privilege
      // errors; a statement fully qualified to a user database is fine
      // even while a system db is current (`use mo_catalog; insert into
      // mydb.t ...` succeeds in the reference)
      if ("""(?is)^(truncate|insert|update|delete|drop\s+table)\b""".r
        .findFirstIn(masked.trim).isDefined) {
        val tgt = NoDbTableRes.view.flatMap(_.findFirstMatchIn(masked.trim))
          .headOption.map(_.group(1).replace("`", ""))
        val userDbTarget = tgt.exists(t => t.contains(".") &&
          !MoCatalog.SystemDbs.contains(
            t.substring(0, t.indexOf('.')).toLowerCase))
        // cluster tables are the sys-writable exception inside mo_catalog
        val clusterTarget = tgt.map(t =>
          t.substring(t.lastIndexOf('.') + 1)).exists(isClusterTable(spark, _))
        if (!userDbTarget && !clusterTarget)
          throw new IllegalStateException(
            "internal error: do not have privilege to execute the statement")
      }
      return
    }
    if (cur.nonEmpty || !MoCatalog.dbEverSelected(spark)) return
    val tok = NoDbTableRes.view.flatMap(_.findFirstMatchIn(masked.trim))
      .headOption.map(_.group(1))
    val selFrom =
      if (tok.nonEmpty) None
      else if (!masked.trim.toLowerCase.startsWith("select")) None
      else """(?is)\bfrom\s+`?([A-Za-z_][\w$]*)`?(?![\w$]*\s*[.(])""".r
        .findFirstMatchIn(masked).map(_.group(1))
        .filterNot(t => t.equalsIgnoreCase("dual") ||
          spark.catalog.tableExists(t) && {
            // temp views (oracle fixtures etc.) resolve without a db
            try spark.catalog.getTable(t).isTemporary
            catch { case _: Exception => false }
          })
    if (tok.exists(!_.contains(".")) || selFrom.nonEmpty)
      throw new IllegalStateException("No database selected")
  }

  private def deleteRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(DeleteRe, q) match {
      case Some(IndexedSeq(table, condOrNull, limitOrNull)) =>
        if (!spark.catalog.tableExists(table)) return None
        // partitioned tables route rows through per-partition subtables;
        // copy-on-write DML doesn't compose with that layout yet
        if (Partitions.get(spark, table).isDefined) return None
        // via SQL text so the predicate may hold subqueries
        // (`WHERE id IN (SELECT id FROM cte)`, with_insert.result); a
        // row stays when the predicate is FALSE or UNKNOWN
        val condSql = Option(condOrNull)
          .map(c => s"coalesce(($c), false)").getOrElse("true")
        val flagged = spark.sql(s"SELECT *, $condSql AS $Hit FROM `$table`")
        val picked = Option(limitOrNull).fold(flagged)(n => limitHits(flagged,
          spark.table(table).columns.toSeq.map(c => col(s"`$c`").asc), n.toInt))
        setRowCount(spark, deleteHits(spark, table, picked).hits)
        Some(spark.emptyDataFrame)
      case _ => None
    }

  def registerTsFsp(spark: SparkSession, table: String, col: String, p: Int): Unit =
    state(spark).tsFsp.put((table.toLowerCase, col.toLowerCase), p)

  /** MySQL store cast for an UPDATE value: numbers/strings landing in a
    * datetime column go through the strict MySQL parse (compact
    * `yyyymmddhhmmss` included — `a = a + 101` on datetime,
    * dtype/datetime.result:240), and the column's declared fsp ROUNDS
    * the fraction (datetime(0) stores '…12.0001' as '…12').
    */
  private def storeCast(spark: SparkSession, table: String,
      f: org.apache.spark.sql.types.StructField,
      src: org.apache.spark.sql.Column,
      srcType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val v = (f.dataType, srcType) match {
      case (TimestampType, _: NumericType) =>
        graft.functions.MoFunctions.strictTsCol(
          src.cast(DecimalType(20, 0)).cast(StringType))
      case (TimestampType, StringType) =>
        graft.functions.MoFunctions.strictTsCol(src)
      case (DateType, _: NumericType) =>
        graft.functions.MoFunctions.strictTsCol(
          src.cast(DecimalType(20, 0)).cast(StringType)).cast(DateType)
      case (DateType, StringType) =>
        graft.functions.MoFunctions.strictTsCol(src).cast(DateType)
      // MySQL ROUNDS fractional values stored into integer columns
      // (UPDATE t1 SET n2 = EXP(1) on an INT stores 3, not 2)
      case (it, st)
          if Seq(ByteType, ShortType, IntegerType, LongType).contains(it) &&
            (st == DoubleType || st == FloatType ||
              st.isInstanceOf[DecimalType]) =>
        round(src, 0).cast(it)
      case _ => src.cast(f.dataType)
    }
    (f.dataType, state(spark).tsFsp.get((table.toLowerCase, f.name.toLowerCase))) match {
      case (TimestampType, Some(p)) if p < 6 =>
        val unit = math.pow(10, 6 - p).toLong
        timestamp_micros(
          (round(unix_micros(v.cast(TimestampType)) / unit, 0)
            .cast(LongType) * unit))
      case _ => v
    }
  }

  /** The column's declared DEFAULT expression (Spark records it in the
    * field metadata), or NULL when none (`SET col = DEFAULT`,
    * dml/update.result:98-99 restores a=222).
    */
  private def colDefault(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("CURRENT_DEFAULT")) f.metadata.getString("CURRENT_DEFAULT")
    else "NULL"

  private def updateRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(UpdateRe, q) match {
      case Some(IndexedSeq(ignoreOrNull, table, setTxt, condOrNull, orderOrNull, limitOrNull)) =>
        if (!spark.catalog.tableExists(table)) return None
        val isIgnore = ignoreOrNull != null
        if (Partitions.get(spark, table).isDefined) return None
        val target = spark.table(table)
        val fields = target.schema.fields.map(f => f.name.toLowerCase -> f).toMap
        val assigns = SqlText.splitTop(setTxt).map { a =>
          val m = """(?is)^\s*`?(\w+)`?\s*=\s*(.+)$""".r.findFirstMatchIn(a)
            .getOrElse(throw new IllegalArgumentException(
              s"invalid UPDATE assignment: $a"))
          (m.group(1), m.group(2).trim)
        }
        if (assigns.exists(a => !fields.contains(a._1.toLowerCase))) return None
        // one pass evaluates the flag AND every RHS against the
        // ORIGINAL row (standard SQL / the reference: `set a = b,
        // b = a + 1` uses the OLD a — dml/update.result:89-93), routed
        // through sql() so the MySQL expression compat layer applies
        val condSql = Option(condOrNull)
          .map(c => s"coalesce(($c), false)").getOrElse("true")
        val setSelect = assigns.zipWithIndex.map { case ((c, e), i) =>
          val raw =
            if (e.equalsIgnoreCase("default")) colDefault(fields(c.toLowerCase))
            else s"($e)"
          s"$raw AS __set_$i"
        }.mkString(", ")
        var df = sql(spark,
          s"SELECT *, $condSql AS $Hit, $setSelect FROM `$table`")
        Option(limitOrNull).foreach { n =>
          val order = Option(orderOrNull).map(o => SqlText.splitTop(o).map(x => expr(x.trim)))
            .getOrElse(target.columns.toSeq.map(c => col(s"`$c`").asc))
          df = limitHits(df, order, n.toInt)
        }
        // UPDATE IGNORE: a candidate row whose NEW pk/unique value would
        // collide (with another row's current value, or with another
        // candidate's new value) is silently skipped, not an error
        // (update_ignore.result — MySQL applies row-by-row; the
        // pre-state approximation reproduces the goldens)
        if (isIgnore) {
          val setIdx = assigns.zipWithIndex
            .map { case ((c, _), i) => c.toLowerCase -> i }.toMap
          tableKeySets(spark, table).foreach { keys =>
            if (keys.exists(k => setIdx.contains(k.toLowerCase))) {
              def newK(k: String) = setIdx.get(k.toLowerCase)
                .map(i => col(s"__set_$i").cast(fields(k.toLowerCase).dataType))
                .getOrElse(col(s"`$k`"))
              val counts = spark.table(table)
                .groupBy(keys.map(k => col(s"`$k`").as(s"__ok_$k")): _*)
                .agg(count(lit(1)).as("__ocnt"))
              val joinCond = keys.map(k => newK(k) <=> col(s"__ok_$k"))
                .reduce(_ && _)
              df = df.join(broadcast(counts), joinCond, "left_outer")
              val self = keys.map(k => newK(k) <=> col(s"`$k`")).reduce(_ && _)
              val others = coalesce(col("__ocnt"), lit(0L)) -
                when(self, lit(1L)).otherwise(lit(0L))
              val w2 = org.apache.spark.sql.expressions.Window
                .partitionBy(keys.map(k => newK(k)): _*)
              // among candidates colliding on the same NEW key, the row
              // whose new key equals its own old key wins ("owner wins",
              // update_ignore_owner_wins); the others are skipped
              val candDup =
                sum(when(col(Hit), 1).otherwise(0)).over(w2) > 1 && !self
              val newNull = keys.map(k => newK(k).isNull).reduce(_ || _)
              df = df.withColumn(Hit,
                  col(Hit) && (newNull || (others <= 0 && !candDup)))
                .drop("__ocnt")
              keys.foreach(k => df = df.drop(s"__ok_$k"))
            }
          }
        }
        // FOREIGN KEY checks: the updated table as CHILD (new FK values
        // must reference a parent row) and as PARENT (ON UPDATE actions
        // fire for changed keys)
        var fkDeferredActions: Option[() => Unit] = None
        if (fkChecksOn(spark)) {
          val setIdx = assigns.zipWithIndex
            .map { case ((c, _), i) => c.toLowerCase -> i }.toMap
          def newC(c: String): Column = setIdx.get(c.toLowerCase)
            .map(i => col(s"__set_$i").cast(fields(c.toLowerCase).dataType))
            .getOrElse(col(s"`$c`"))
          state(spark).foreignKeys.getOrElse(table.toLowerCase, Vector.empty).foreach { ref =>
            if (ref.childCols.exists(c => setIdx.contains(c.toLowerCase)) &&
              tableExists(spark, ref.parent)) {
              val nn = df.filter(col(Hit))
                .filter(ref.childCols.map(c => newC(c).isNotNull).reduce(_ && _))
                .select(ref.childCols.zipWithIndex.map { case (c, i) =>
                  newC(c).as(s"__fkc$i") }.toIndexedSeq: _*)
              // a SELF-referencing FK validates against the POST-update
              // key set (the same statement may move the referenced key
              // along with the reference — MySQL accepts that)
              val keys = broadcast((
                if (ref.parent.equalsIgnoreCase(table))
                  df.select(ref.parentCols.zipWithIndex.map { case (p, i) =>
                    when(col(Hit), newC(p)).otherwise(col(s"`$p`"))
                      .as(s"__fkp$i")
                  }.toIndexedSeq: _*)
                else spark.table(ref.parent)
                  .select(ref.parentCols.zipWithIndex.map { case (p, i) =>
                    col(s"`$p`").as(s"__fkp$i") }.toIndexedSeq: _*)
                ).distinct)
              val cond = ref.childCols.indices.map(i =>
                nn(s"__fkc$i") === keys(s"__fkp$i")).reduce(_ && _)
              if (nn.join(keys, cond, "left_anti").limit(1).count() > 0)
                throw new IllegalStateException(
                  "Cannot add or update a child row: " +
                    "a foreign key constraint fails")
            }
          }
          val parentRefs = foreignKeyRefs(spark)
            .filter(_._2.parent == table.toLowerCase)
            .filter(_._2.parentCols.exists(p => setIdx.contains(p.toLowerCase)))
          if (parentRefs.nonEmpty) {
            val cols = target.columns.toSeq
            val oldNewAll = df.filter(col(Hit))
              .select((cols.map(c => col(s"`$c`").as(s"old_$c")) ++
                cols.map(c => newC(c).as(s"new_$c"))).toIndexedSeq: _*)
              .localCheckpoint(true)
            // restrict checks run NOW (before any mutation); cascades /
            // set-nulls are deferred until the statement is known to
            // succeed (a later duplicate-key reject must not leave the
            // children mutated — fk_base.result:84-86)
            fkAfterUpdate(spark, table, oldNewAll, Set.empty,
              restrictOnly = true)
            fkDeferredActions =
              Some(() => fkAfterUpdate(spark, table, oldNewAll, Set.empty))
          }
        }
        assigns.zipWithIndex.foreach { case ((c, _), i) =>
          val f = fields(c.toLowerCase)
          val rhs = storeCast(spark, table, f,
            col(s"__set_$i"), df.schema(s"__set_$i").dataType)
          df = df.withColumn(f.name,
            when(col(Hit), rhs).otherwise(col(s"`${f.name}`")))
        }
        val updated = df
          .select(target.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        // an UPDATE landing two rows on the same pk is a duplicate-key
        // error (auto_increment_columns.result:95 `set a='200'`); checked
        // only when the SET touches a pk column (IGNORE pre-filters)
        (if (isIgnore) None else state(spark).primaryKeys.get(table.toLowerCase))
          .map(_.split(",").map(_.trim).toSeq)
          .filter(pks => assigns.exists(a => pks.exists(_.equalsIgnoreCase(a._1))))
          .foreach { pks =>
            val dup = updated.groupBy(pks.map(c => col(s"`$c`")): _*)
              .count().filter(col("count") > 1).limit(1).collect()
            if (dup.nonEmpty)
              throw new IllegalStateException(
                s"Duplicate entry '${dup.head.toSeq.dropRight(1).mkString("-")}' " +
                  s"for key '${pks.head}'")
          }
        // every check passed: fire the deferred ON UPDATE actions
        fkDeferredActions.foreach(_.apply())
        // MySQL's affected-rows for UPDATE is the matched-row count
        setRowCount(spark, commitTable(spark, table, Effect(Some(df))).hits)
        Some(spark.emptyDataFrame)
      case _ => None
    }

  /** Multi-table UPDATE (`UPDATE t7 AS P1, t8 AS P2 SET P1.a=10, p2.a=100
    * WHERE P1.a=p2.a`, `UPDATE t1 JOIN t2 ON ... SET t1.b=222, t2.b=222`
    * — ddl/lowercase.result:237, dml/update goldens). Per target table:
    * the rows participating in at least one join row update (MySQL's
    * semantics), found by a DISTINCT semi-probe of the join; RHS must
    * resolve against the target table alone (literals / own columns).
    * At scale the probe would key on the table's pk; the BVT tables are
    * pk-less so identity is the full row (null-safe equality).
    */
  private val MultiUpdateRe =
    """(?is)^update\s+(.+?)\s+set\s+(.+?)(?:\s+from\s+(.+?))?\s*(?:where\s+(.+?))?\s*$""".r
  private def multiUpdateRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    SqlText.matchMasked(MultiUpdateRe, q) match {
      case Some(IndexedSeq(tablesTxt0, setTxt, fromOrNull, condOrNull)) if
          tablesTxt0.contains(",") ||
            """(?i)\bjoin\b""".r.findFirstIn(tablesTxt0).isDefined ||
            fromOrNull != null =>
        // the PG-style `UPDATE a JOIN b ... SET ... FROM c WHERE ...`
        // spelling joins the FROM relations in as well
        val tablesTxt = tablesTxt0 +
          Option(fromOrNull).map(f => s", $f").getOrElse("")
        val aliases = tableAliases(tablesTxt)
        val assigns = SqlText.splitTop(setTxt).map { a =>
          val m = """(?is)^\s*(?:`?(\w+)`?\.)?`?(\w+)`?\s*=\s*(.+)$""".r
            .findFirstMatchIn(a).getOrElse(return None)
          (Option(m.group(1)).map(_.toLowerCase), m.group(2), m.group(3).trim)
        }
        if (aliases.isEmpty) return None
        // resolve each assignment to its target alias
        val byAlias = assigns.groupBy {
          case (Some(al), _, _) if aliases.contains(al) => al
          case (None, c, _) =>
            val owners = aliases.filter { case (_, t) =>
              spark.catalog.tableExists(t) &&
                spark.table(t).columns.exists(_.equalsIgnoreCase(c))
            }.keys.toSeq
            if (owners.sizeIs == 1) owners.head else return None
          case _ => return None
        }
        val whereSql = Option(condOrNull).map(c => s" WHERE ($c)").getOrElse("")
        // materialize EVERY match set before any table commits — the
        // join reads the tables being updated, and MySQL matches against
        // the pre-statement snapshot (lowercase.result:237 updates both
        // t7 and t8 from the same join). The RHS expressions evaluate in
        // the FULL join context (`SET jt1.v = s.v FROM js s`), carried
        // alongside the target row; one value per target row (arbitrary
        // join row on >1 matches, like MySQL).
        val matchSets = byAlias.map { case (al, as0) =>
          val rhsSel = as0.zipWithIndex.map { case ((_, _, e), i) =>
            val e2 = if (e.equalsIgnoreCase("default")) "NULL" else e
            s"($e2) AS __rhs_$i"
          }.mkString(", ")
          val table = aliases(al)
          val tcols = spark.table(table).columns.toSeq
          val m0 = spark.sql(
            s"SELECT $al.*, $rhsSel FROM $tablesTxt$whereSql")
          // >1 join row per target row: the reference applies the FIRST
          // matching join row (update_multiple_table's stu/class block —
          // each class keeps its first student's name)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(tcols.map(c => col(s"`$c`")): _*)
            .orderBy(col("__mid").asc)
          val dedup = m0.withColumn("__mid", monotonically_increasing_id())
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn", "__mid")
          (al, as0, dedup.localCheckpoint(true))
        }
        matchSets.foreach { case (al, as0, matched) =>
          val table = aliases(al)
          val target = spark.table(table)
          var df = flagMatched(target, matched)
          val fields = target.schema.fields.map(f => f.name.toLowerCase -> f).toMap
          as0.zipWithIndex.foreach { case ((_, c, e0), i) =>
            val f = fields.getOrElse(c.toLowerCase, return None)
            val rhs =
              if (e0.equalsIgnoreCase("default"))
                expr(colDefault(f)).cast(f.dataType)
              else storeCast(spark, table, f, col(s"__rhs_$i"),
                matched.schema(s"__rhs_$i").dataType)
            df = df.withColumn(f.name,
              when(col(Hit), rhs).otherwise(col(s"`${f.name}`")))
          }
          commitTable(spark, table, Effect(Some(df)))
        }
        Some(spark.emptyDataFrame)
      case _ => None
    }

  // ------------------------------------------------------------------
  // Stored procedures — CREATE/DROP PROCEDURE + CALL ([[Procedures]])
  // ------------------------------------------------------------------

  private val CreateProcHeadRe =
    """(?is)^create\s+procedure\s+(?:if\s+not\s+exists\s+)?`?(\w+)`?\s*\(""".r
  private val DropProcRe =
    """(?is)^drop\s+procedure\s+(if\s+exists\s+)?`?(\w+)`?\s*$""".r
  private val CallProcRe = """(?is)^call\s+`?(\w+)`?\s*\(([\s\S]*)\)\s*$""".r

  private def procedureRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    CreateProcHeadRe.findFirstMatchIn(q).foreach { m =>
      // the param list nests parens (`decimal(10,2)`) — balanced scan
      SqlText.balancedSpan(q, m.end - 1).foreach { case (params, after) =>
        val rest = q.substring(after).trim
        """(?is)^(['"])([\s\S]*)\1\s*$""".r.findFirstMatchIn(rest).foreach { bm =>
          val quote = bm.group(1)
          val body =
            if (quote == "'") bm.group(2).replace("''", "'").replace("\\'", "'")
            else bm.group(2).replace("\"\"", "\"").replace("\\\"", "\"")
          Procedures.create(spark, m.group(1), params, body)
          return Some(spark.emptyDataFrame)
        }
      }
    }
    q match {
      case DropProcRe(ifEx, name) =>
        Procedures.drop(spark, name, ifEx != null)
        Some(spark.emptyDataFrame)
      case CallProcRe(name, args) if Procedures.exists(spark, name) =>
        Some(Procedures.call(spark, name, args))
      case _ => None
    }
  }

  /** MySQL `RENAME TABLE a TO b[, c TO d ...]`
    * (`pkg/sql/parsers/dialect/mysql/mysql_sql.y` rename_stmt; BVT
    * `ddl/rename_to_table.sql`, `ddl/rename_table_chained.sql`). MySQL
    * processes the pairs left to right, which is what makes the classic
    * three-way swap work — sequential ALTER ... RENAME is the same
    * order.
    */
  private val RenameTableRe = """(?is)^rename\s+table\s+(.+)$""".r
  private def renameRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    q match {
      case RenameTableRe(pairs) =>
        SqlText.splitTop(pairs).foreach { p =>
          val m = """(?is)^\s*(?:`([^`]+)`|([^\s`]+))\s+to\s+(?:`([^`]+)`|([^\s`]+))\s*$""".r
            .findFirstMatchIn(p).getOrElse(throw new IllegalArgumentException(
              s"invalid RENAME TABLE pair: $p"))
          val from = Option(m.group(1)).getOrElse(m.group(2))
          val to = Option(m.group(3)).getOrElse(m.group(4))
          // TableIdentifier, not the string API — a numeric name like
          // `123456` doesn't survive a round trip through the parser
          if (spark.sessionState.catalog.tableExists(
            org.apache.spark.sql.catalyst.TableIdentifier(to)))
            throw new IllegalArgumentException(s"table $to already exists")
          spark.sql(s"ALTER TABLE `$from` RENAME TO `$to`")
          Partitions.rename(spark, from, to)
          // the allocator travels with the table (auto_increment BVT:
          // a renamed table keeps counting where it left off)
          val ai = state(spark).autoIncCols
          ai.remove(from.toLowerCase).foreach(ai.put(to.toLowerCase, _))
        }
        Some(spark.emptyDataFrame)
      case _ => None
    }

  private def partitionRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    """(?is)^truncate\s+(?:table\s+)?(?:`?\w+`?\.)?`?(\w+)`?\s*$""".r
      .findFirstMatchIn(q).foreach { m =>
        Partitions.get(spark, m.group(1)).foreach { spec =>
          spark.sql(s"TRUNCATE TABLE `${spec.phys}`")
          return Some(spark.emptyDataFrame)
        }
      }
    CreatePartHeadRe.findFirstMatchIn(q).foreach { m =>
      SqlText.balancedSpan(q, m.end - 1).foreach { case (cols, after) =>
        val rest = q.substring(after).trim
        """(?is)^partition\s+by\s+(.*)$""".r.findFirstMatchIn(rest) match {
          case Some(bm) =>
            Partitions.create(spark, m.group(2), cols, bm.group(1), m.group(1) != null)
            return Some(spark.emptyDataFrame)
          case None =>
            // the NAME re-created as a plain table: stale routing must die
            Partitions.forget(spark, m.group(2))
        }
      }
    }
    AlterAddPartRe.findFirstMatchIn(q).foreach { m =>
      SqlText.balancedSpan(q, m.end - 1).foreach { case (defs, _) =>
        Partitions.alterAdd(spark, m.group(1), defs)
        return Some(spark.emptyDataFrame)
      }
    }
    """(?is)^drop\s+table\s+(?:if\s+exists\s+)?(?:`?\w+`?\.)?`?(\w+)`?\s*$""".r
      .findFirstMatchIn(q).foreach { m =>
        if (Partitions.get(spark, m.group(1)).isDefined) {
          Partitions.drop(spark, m.group(1))
          return Some(spark.emptyDataFrame)
        }
      }
    InsertPartRe.findFirstMatchIn(q).foreach { m =>
      Partitions.get(spark, m.group(1)).foreach { spec =>
        val listed = Option(m.group(2)).map(c => SqlText.splitTop(
          c.stripPrefix("(").stripSuffix(")"))
          .map(_.trim.stripPrefix("`").stripSuffix("`")))
        val src = m.group(3).trim
        val df =
          if (src.toLowerCase.startsWith("values")) spark.sql(s"SELECT * FROM $src")
          else sql(spark, src)
        Partitions.insertInto(spark, spec, df, listed)
        return Some(Seq((m.group(1), "inserted")).toDF("table_name", "status"))
      }
    }
    None
  }

  // ------------------------------------------------------------------
  // CREATE EXTERNAL TABLE ... INFILE{...}
  // ------------------------------------------------------------------

  private val ExtTableHeadRe =
    """(?is)^create\s+external\s+table\s+(if\s+not\s+exists\s+)?`?(\w+)`?\s*\(""".r

  /** The reference's file-backed table DDL
    * (`pkg/sql/colexec/external/external.go` — the same scan path as
    * LOAD DATA): `CREATE EXTERNAL TABLE t(cols) INFILE{'filepath'='…'}
    * FIELDS TERMINATED BY …`. Materialized here as a managed table
    * filled by the [[loadDataRewrite]] reader — the reference re-scans
    * the file per query; a one-time distributed parse into parquet is
    * the Spark-native equivalent (and strictly faster on re-reads).
    */
  private def externalTableRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    val m = ExtTableHeadRe.findFirstMatchIn(q).getOrElse(return None)
    val table = m.group(2)
    val (cols, after) = SqlText.balancedSpan(q, m.end - 1).getOrElse(return None)
    val rest = q.substring(after).trim
    // both INFILE forms: the brace option map and the bare quoted path
    // (stage/external_stage.sql:384 uses `infile 'stage://…'`)
    val bm = """(?is)^infile\s*(\{[^}]*\}|'[^']*')\s*(.*)$""".r.findFirstMatchIn(rest)
      .getOrElse(return None)
    if (m.group(1) != null && spark.catalog.tableExists(table))
      return Some(spark.emptyDataFrame)
    spark.sql(s"CREATE TABLE `$table` ($cols) USING parquet")
    sql(spark, s"load data infile ${bm.group(1)} into table $table ${bm.group(2)}")
    Some(spark.emptyDataFrame)
  }

  // ------------------------------------------------------------------
  // LOAD DATA INFILE / SELECT ... INTO OUTFILE
  // ------------------------------------------------------------------

  /** The reference's bulk-ingest statement
    * (`pkg/sql/colexec/external/external.go`): both the classic MySQL
    * form (`LOAD DATA [LOCAL] INFILE 'f.csv' INTO TABLE t FIELDS
    * TERMINATED BY ... [IGNORE n LINES] [(cols)]`) and the brace option
    * form (`INFILE {'filepath'='f.parq','format'='parquet'}`). Maps onto
    * `spark.read.csv/parquet/json` with the TARGET TABLE's schema —
    * distributed file splits for free, where the reference implements its
    * own parallel chunker (`external.go:829`). Appends through
    * [[commitTable]].
    */
  private val LoadDataRe =
    ("""(?is)^load\s+data\s+(?:local\s+)?infile\s+(?:'([^']+)'|(\{[^}]*\}))""" +
      """\s+into\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?(.*)$""").r

  private def loadDataRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    q match {
      case LoadDataRe(pathLit, braceOpts, table, tail) =>
        val opts: Map[String, String] =
          if (braceOpts == null) Map("filepath" -> pathLit)
          // keys appear single- OR double-quoted in the corpus
          // (`infile{"filepath"='…'}`, create_sequence.result:47)
          else """["']([^"']+)["']\s*=\s*'([^']*)'""".r.findAllMatchIn(braceOpts)
            .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
        val path = Stages.resolvePath(spark, opts.getOrElse("filepath",
          throw new IllegalArgumentException("LOAD DATA: no filepath")))
        val format = opts.getOrElse("format",
          if (path.endsWith(".parq") || path.endsWith(".parquet")) "parquet"
          else if (path.endsWith(".jl") || path.endsWith(".jsonl") ||
            path.endsWith(".json")) "jsonline"
          else "csv")
        def clause(re: String): Option[String] =
          re.r.findFirstMatchIn(tail).map(_.group(1))
        val sep = clause("""(?is)fields\s+terminated\s+by\s+'([^']*)'""")
          .getOrElse(",").replace("\\t", "\t")
        val quote = clause("""(?is)enclosed\s+by\s+'([^']*)'""")
          // the corpus writes the quote char escaped: enclosed by '\"'
          .map(c => if (c.length == 2 && c.startsWith("\\")) c.substring(1) else c)
          .getOrElse("\"")
        // ESCAPED BY: default backslash; '' disables escape processing
        // (load_data_set_escaped.sql pins all three forms)
        val esc: Char = clause("""(?is)escaped\s+by\s+'([^']*)'""") match {
          case Some("") => '\u0000'
          case Some(e) => e.last
          case None => '\\'
        }
        val skip = clause("""(?is)ignore\s+(\d+)\s+(?:lines|rows)""")
          .map(_.toInt).getOrElse(0)
        val parallel = clause("""(?is)parallel\s+'(\w+)'""")
          .exists(_.equalsIgnoreCase("true"))
        val target = spark.table(table)
        // trailing column-list form: the file carries ONLY these columns
        // (read with their projected schema); the rest insert as NULL.
        // Strip the reference's `parallel 'x'` knob first — a Spark read
        // is parallel either way.
        val tailNoPar = tail.replaceAll("(?is)parallel\\s+'[^']*'", "").trim
        val listed = """(?is)\(([^)]*)\)\s*$""".r.findFirstMatchIn(tailNoPar)
          .map(m => SqlText.splitTop(m.group(1)).map(_.trim.stripPrefix("`").stripSuffix("`")))
        def fieldOf(c: String) = target.schema.fields
          .find(_.name.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"LOAD DATA: no column $c on $table"))
        val readSchema = listed match {
          case Some(cols) =>
            org.apache.spark.sql.types.StructType(cols.map(fieldOf))
          case None => target.schema
        }
        // declared-kind lookup for a vector target column (strict narrow
        // parse; f32/f64 otherwise)
        def vecKindDim(f: org.apache.spark.sql.types.StructField): (String, Int) =
          state(spark).vecCols.get(table.toLowerCase)
            .flatMap(_.find(_._1.equalsIgnoreCase(f.name)))
            .map(c => (c._2, c._3))
            .getOrElse((f.dataType match {
              case org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType, _) => "f64"
              case _ => "f32"
            }, 0))
        def vecCoerce(df0: DataFrame): DataFrame =
          df0.select(df0.schema.fields.toSeq.map { f =>
            target.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
              case Some(tf) if tf.dataType != f.dataType =>
                (tf.dataType, f.dataType) match {
                  // vector columns stored as strings in the source file
                  // (string_to_vector_conversion.parq) take the vector
                  // parse, not a bare cast
                  case (_: org.apache.spark.sql.types.ArrayType,
                      org.apache.spark.sql.types.StringType) =>
                    val (k, d) = vecKindDim(tf)
                    expr(s"CAST(mo_vec_parse_d(`${f.name}`, '$k', $d) " +
                      s"AS ${tf.dataType.sql})").as(f.name)
                  // nested parquet types landing in TEXT/JSON columns
                  // take their JSON rendering (load_data_parquet t6/t7),
                  // not Spark's struct-cast display form
                  case (org.apache.spark.sql.types.StringType,
                      _: org.apache.spark.sql.types.StructType |
                      _: org.apache.spark.sql.types.MapType) =>
                    to_json(col(f.name)).as(f.name)
                  case _ =>
                    expr(moLoadCast(f.name, tf.dataType)).as(f.name)
                }
              case _ => col(f.name)
            }
          }: _*)
        val df = format match {
          case "parquet" => vecCoerce(spark.read.parquet(path))
          case "jsonline" => vecCoerce(spark.read.schema(readSchema).json(path))
          case _ =>
            // Reference CSV semantics (`issue_24211.result` pins BOTH
            // paths): under `parallel 'true'` an EMPTY field loads as 0
            // into a numeric column, under the default serial path it
            // loads as NULL; the explicit \N marker is NULL either way.
            // Parse everything as strings first, then coerce per target
            // type (try_cast: malformed cells degrade to NULL instead
            // of an ANSI error).
            import org.apache.spark.sql.types.{NumericType, StringType, StructType}
            val strSchema = StructType(readSchema.fields.map(f =>
              f.copy(dataType = StringType, nullable = true)))
            // 'compression'='tar.gz': driver-side extract (gzip is
            // inherently serial — same cost shape as the reference's
            // decompressor); plain .gz files Spark reads natively
            val realPath = opts.get("compression") match {
              case Some(c) if c.equalsIgnoreCase("tar.gz") ||
                  c.equalsIgnoreCase("tgz") => untarGz(path)
              case _ => path
            }
            // MySQL-exact field splitting (ENCLOSED BY doubling, literal
            // mid-field enclosure chars, unquoted-empty = NULL vs quoted
            // "" = empty string, `\N` kept literal for the coercion
            // below — `stage/external_stage.sql`'s char_varchar fixtures
            // pin the full matrix) as a DISTRIBUTED map over text lines;
            // IGNORE n LINES skips via order-preserving zipWithIndex
            // (per-partition counts + offsets; no single-partition pass)
            val lines1 = spark.read.textFile(realPath)
            // COMMENT marker: lines whose RAW prefix matches are skipped
            // before unquoting (load_data/external_csv_comment.sql)
            val lines0 = opts.get("comment") match {
              case Some(marker) if marker.nonEmpty =>
                val mk = marker
                lines1.filter(!_.startsWith(mk))
              case _ => lines1
            }
            val lines =
              if (skip == 0) lines0
              else spark.createDataset(
                lines0.rdd.zipWithIndex().filter(_._2 >= skip).map(_._1))(
                org.apache.spark.sql.Encoders.STRING)
            val sepL = sep
            val quoteC: Char = if (quote.isEmpty) '\u0000' else quote.head
            val width = strSchema.length
            val raw = spark.createDataFrame(
              lines.rdd.map(l => org.apache.spark.sql.Row.fromSeq(
                MySqlCsv.split(l, sepL, quoteC, width, esc))),
              strSchema)
            val staged = raw.select(readSchema.fields.toSeq.map { f =>
              val c = col(f.name)
              (f.dataType match {
                case _: NumericType if parallel =>
                  when(c.isNull, lit("0"))
                    .when(c === "\\N", lit(null)).otherwise(c)
                case StringType =>
                  when(c.isNull, lit(""))
                    .when(c === "\\N", lit(null)).otherwise(c)
                case _ => when(c === "\\N", lit(null)).otherwise(c)
              }).as(f.name)
            }: _*)
            staged.select(readSchema.fields.toSeq.map { f =>
              f.dataType match {
                case org.apache.spark.sql.types.ArrayType(et, _) =>
                  // vector columns arrive as "[1.5, 2.5, 3.5]" text —
                  // the reference's string→vector cast applies, STRICT
                  // for declared narrow kinds (load_data_narrow_vec)
                  val kindDim = state(spark).vecCols.get(table.toLowerCase)
                    .flatMap(_.find(_._1.equalsIgnoreCase(f.name)))
                    .map(c => (c._2, c._3))
                    .getOrElse((if (et == org.apache.spark.sql.types.DoubleType)
                      "f64" else "f32", 0))
                  expr(s"CAST(mo_vec_parse_d(`${f.name}`, '${kindDim._1}', " +
                    s"${kindDim._2}) AS ${f.dataType.sql})").as(f.name)
                case _ =>
                  expr(moLoadCast(f.name, f.dataType)).as(f.name)
              }
            }: _*)
        }
        val alignedPre = listed match {
          case Some(cols) =>
            target.schema.fields.foldLeft(df) { (acc, f) =>
              if (cols.exists(_.equalsIgnoreCase(f.name))) acc
              else acc.withColumn(f.name, lit(null).cast(f.dataType))
            }.select(target.columns.map(col): _*)
          case None => df.toDF(target.columns.toSeq: _*)
        }
        // enum/set columns canonicalize their loaded text (bitmask /
        // member-order normalization, membership errors — dtype/set's
        // set_load)
        val aligned0 =
          EnumSet.canonicalizeDf(spark, table, target.columns.toSeq, alignedPre)
        // auto_increment columns: NULL/absent cells take freshly
        // allocated ids in FILE ORDER and explicit values advance the
        // counter (the reference's incrservice fill). The allocation is
        // prefix-dependent, but each partition's effect on the counter
        // summarizes to two numbers — (nulls allocated, explicit peak +
        // nulls after it) — so a cheap summary pass plus a driver fold
        // over #partitions hands every partition its incoming counter
        // and the fill itself stays fully parallel (no coalesce(1)).
        val aligned = state(spark).autoIncCols.get(table.toLowerCase) match {
          case Some(acs0) =>
            val cn = aligned0.columns
            val acs = acs0.zipWithIndex.flatMap { case ((c, base), ri) =>
              val ai = cn.indexWhere(_.equalsIgnoreCase(c))
              if (ai >= 0 && aligned0.filter(col(c).isNull).limit(1).count() > 0)
                Some((c, base, ai, ri))
              else None
            }
            if (acs.isEmpty) aligned0
            else {
              val schema = aligned0.schema
              val src = aligned0.rdd
              src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              def explicitVal(v: Any): Option[Long] = v match {
                case null => None
                case n: Number => Some(n.longValue())
                case d: java.math.BigDecimal => Some(d.longValue())
                case _ => None
              }
              // pass 1: per-partition (nullCount k, explicit peak m where
              // m already carries the nulls allocated after the peak);
              // counter_out = max(counter_in + k, m)
              val summaries = src.mapPartitionsWithIndex { (pi, it) =>
                val k = Array.fill(acs.length)(0L)
                val m = Array.fill(acs.length)(Long.MinValue)
                it.foreach { r =>
                  var x = 0
                  while (x < acs.length) {
                    val ai = acs(x)._3
                    r.get(ai) match {
                      case null =>
                        k(x) += 1
                        if (m(x) != Long.MinValue) m(x) += 1
                      case v =>
                        explicitVal(v).foreach(n =>
                          if (n > m(x)) m(x) = n)
                    }
                    x += 1
                  }
                }
                Iterator.single((pi, k, m))
              }.collect().sortBy(_._1)
              // driver fold over #partitions (tiny): incoming counters
              val incoming = Array.ofDim[Long](summaries.length, acs.length)
              val ctr0 = acs.map(_._2).toArray
              summaries.zipWithIndex.foreach { case ((_, k, m), pi) =>
                var x = 0
                while (x < acs.length) {
                  incoming(pi)(x) = ctr0(x)
                  ctr0(x) = math.max(ctr0(x) + k(x), m(x))
                  x += 1
                }
              }
              val bc = spark.sparkContext.broadcast(incoming)
              val filledRdd = src.mapPartitionsWithIndex { (pi, it) =>
                val ctrs = scala.collection.mutable.Map(
                  acs.zipWithIndex.map { case (a, x) =>
                    a._3 -> bc.value(pi)(x) }: _*)
                it.map { r =>
                  var vals = r.toSeq
                  acs.foreach { case (_, _, ai, _) =>
                    vals(ai) match {
                      case null =>
                        ctrs(ai) += 1
                        val v: Any = schema.fields(ai).dataType match {
                          case org.apache.spark.sql.types.IntegerType => ctrs(ai).toInt
                          case org.apache.spark.sql.types.ShortType => ctrs(ai).toShort
                          case _: org.apache.spark.sql.types.DecimalType =>
                            new java.math.BigDecimal(ctrs(ai))
                          case _ => ctrs(ai)
                        }
                        vals = vals.updated(ai, v)
                      case n: Number =>
                        if (n.longValue() > ctrs(ai)) ctrs(ai) = n.longValue()
                      case d: java.math.BigDecimal =>
                        if (d.longValue() > ctrs(ai)) ctrs(ai) = d.longValue()
                      case _ =>
                    }
                  }
                  org.apache.spark.sql.Row.fromSeq(vals)
                }
              }
              val filled = spark.createDataFrame(filledRdd, schema)
                .localCheckpoint(true)
              src.unpersist(false)
              // committed counter = max over the stored column
              val maxes = filled.agg(
                acs.head._1 -> "max",
                acs.tail.map(a => a._1 -> "max"): _*).head
              state(spark).autoIncCols.put(table.toLowerCase,
                acs0.zipWithIndex.map { case ((c, base), ri) =>
                  acs.indexWhere(_._4 == ri) match {
                    case -1 => (c, base)
                    case k =>
                      val mv = maxes.get(k) match {
                        case n: Number => n.longValue()
                        case d: java.math.BigDecimal => d.longValue()
                        case _ => base
                      }
                      (c, math.max(base, mv))
                  }
                })
              filled
            }
          case _ => aligned0
        }
        setRowCount(spark,
          commitTable(spark, table, Effect(appended = Some(aligned))).appended)
        // record the source for the __mo_filepath metadata column
        // (issue_25908: external scans expose the originating file)
        state(spark).loadPaths.put(table.toLowerCase, path)
        Some(Seq((table, path, "loaded")).toDF("table_name", "file", "status"))
      case _ => None
    }
  }

  /** `DESC <view>` in MO's 7-column shape (Field/Type/Null/Key/Default/
    * Extra/Comment) from the view's inferred column metadata
    * (expression/case_when's desc goldens). Tables and unregistered
    * views fall through.
    */
  private def descRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    val m = """(?is)^desc(?:ribe)?\s+`?([\w$]+)`?\s*;?\s*$""".r
      .findFirstMatchIn(q).getOrElse(return None)
    val phys = resolveTableName(spark, None, m.group(1))
    val cols = MoTypeInfer.colsOf(spark, phys)
    if (cols.isEmpty) return None
    Some(cols.map { case (n, t) =>
      (n, MoTypeInfer.render(t), if (t.nullable) "YES" else "NO",
        "", null: String, "", "")
    }.toDF("Field", "Type", "Null", "Key", "Default", "Extra", "Comment"))
  }

  /** INSERT..SELECT into a table with enum/set columns: run the source
    * select, canonicalize the enum/set positions (MySQL store
    * conversion — int source maps the 1-based ordinal, text source
    * matches a member, dtype/enum_1 t4/t5/t6), append through
    * [[commitTable]].
    */
  private def enumInsertSelectRewrite(spark: SparkSession,
      q: String): Option[DataFrame] = {
    import spark.implicits._
    val m = """(?is)^insert\s+into\s+`?([\w$]+)`?\s*(\([^)]*\))?\s*(select\b.+|with\b.+)$""".r
      .findFirstMatchIn(q).getOrElse(return None)
    val table = m.group(1)
    if (EnumSet.colsOf(spark, table).isEmpty) return None
    if (!spark.catalog.tableExists(table)) return None
    val target = spark.table(table)
    val listed = Option(m.group(2)).map(l => SqlText.splitTop(
        l.trim.stripPrefix("(").stripSuffix(")"))
      .map(_.trim.stripPrefix("`").stripSuffix("`")))
      .getOrElse(target.columns.toSeq)
    val src = spark.sql(m.group(3))
    val canon = EnumSet.canonicalizeDf(spark, table, listed, src)
    // align to the full table schema (absent columns insert NULL)
    val full =
      if (listed.map(_.toLowerCase) == target.columns.toSeq.map(_.toLowerCase))
        canon.toDF(target.columns.toSeq: _*)
      else {
        val byPos = listed.map(_.toLowerCase).zip(canon.columns.toSeq).toMap
        canon.select(target.schema.fields.toSeq.map { f =>
          byPos.get(f.name.toLowerCase) match {
            case Some(srcCol) => col(srcCol).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      }
    setRowCount(spark, commitTable(spark, table, Effect(appended = Some(full))).appended)
    Some(spark.emptyDataFrame)
  }


  private def moFilepathRewrite(spark: SparkSession, q: String): String = {
    if (!q.contains("__mo_filepath")) return q
    // the bare token only — `customer.__mo_filepath` backtick-quoted
    // column names are ordinary columns (issue_25908's decoys)
    val masked = SqlText.mask(q)
    val tbl = """(?is)\bfrom\s+`?(\w+)`?""".r.findAllMatchIn(masked)
      .map(_.group(1).toLowerCase).find(state(spark).loadPaths.contains)
      .getOrElse(return q)
    // a glob load path (`mix/*/*/*/x.csv`) names no concrete file — when
    // it resolves to exactly one, substitute the real path (the
    // reference's column is the per-row source file; mo_log_date reads
    // date segments out of it, func_mo_log_date.sql:17)
    val rawPath = state(spark).loadPaths(tbl)
    val resolved =
      if (!rawPath.contains("*")) rawPath
      else try {
        val p = new org.apache.hadoop.fs.Path(rawPath)
        val st = p.getFileSystem(spark.sessionState.newHadoopConf()).globStatus(p)
        if (st != null && st.length == 1) st(0).getPath.toUri.getPath
        else rawPath
      } catch { case _: Exception => rawPath }
    val lit = "'" + resolved.replace("'", "''") + "'"
    val sb = new java.lang.StringBuilder
    var last = 0
    """(?<![\w.$`])__mo_filepath\b""".r.findAllMatchIn(masked).foreach { m =>
      sb.append(q, last, m.start).append(lit)
      last = m.end
    }
    sb.append(q, last, q.length)
    sb.toString
  }

  /** Extract the first regular file from a `.tar.gz` archive to a temp
    * file (the reference's `'compression'='tar.gz'` LOAD path,
    * `pkg/sql/colexec/external`). Driver-side by necessity: gzip is a
    * serial stream — the same cost shape as the reference's
    * decompressor; the extracted file then splits distributed as usual.
    */
  private def untarGz(path: String): String = {
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path))
    try {
      val hdr = new Array[Byte](512)
      def readFull(len: Int): Boolean = {
        var off = 0
        while (off < len) {
          val r = in.read(hdr, off, len - off)
          if (r < 0) return false
          off += r
        }
        true
      }
      while (readFull(512)) {
        val name = new String(hdr, 0, 100, "US-ASCII").takeWhile(_ != 0)
        if (name.isEmpty) // two zero blocks mark EOF
          throw new IllegalArgumentException(s"tar.gz: no file entry in $path")
        val sizeTxt = new String(hdr, 124, 12, "US-ASCII").replaceAll("[^0-7]", "")
        val size = if (sizeTxt.isEmpty) 0L else java.lang.Long.parseLong(sizeTxt, 8)
        val typeflag = hdr(156)
        if ((typeflag == '0' || typeflag == 0) && !name.endsWith("/") && size > 0) {
          val tmp = java.nio.file.Files.createTempFile("graft_untar", ".csv")
          val out = java.nio.file.Files.newOutputStream(tmp)
          try {
            val buf = new Array[Byte](65536)
            var rem = size
            while (rem > 0) {
              val r = in.read(buf, 0, math.min(buf.length.toLong, rem).toInt)
              if (r < 0) rem = 0 else { out.write(buf, 0, r); rem -= r }
            }
          } finally out.close()
          return tmp.toString
        } else {
          var rem = ((size + 511) / 512) * 512
          while (rem > 0) { val r = in.skip(rem); if (r <= 0) rem = 0 else rem -= r }
        }
      }
      throw new IllegalArgumentException(s"tar.gz: no file entry in $path")
    } finally in.close()
  }

  /** `SELECT ... INTO OUTFILE 'path'` — the reference's export statement
    * (`pkg/sql/colexec/output`): runs the SELECT minus the clause and
    * writes ONE csv file at `path` (MySQL field defaults; header row
    * included, matching the reference's csv export). The DataFrame
    * returned reports the written row count.
    */
  private val OutfileRe =
    """(?is)^(select\b.*?)\s+into\s+outfile\s+'([^']+)'\s*(.*)$""".r

  private def outfileRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    q match {
      case OutfileRe(select, path0, tail) =>
        val path = Stages.resolvePath(spark, path0)
        def clause(re: String): Option[String] =
          re.r.findFirstMatchIn(tail).map(_.group(1))
        val sep = clause("""(?is)fields\s+terminated\s+by\s+'([^']*)'""")
          .getOrElse(",").replace("\\t", "\t")
        // the reference writes a header row by default; `header 'false'`
        // suppresses it (stage/external_stage.sql:160)
        val header = clause("""(?is)\bheader\s+'(\w+)'""")
          .forall(_.equalsIgnoreCase("true"))
        val rows0 = sql(spark, select)
        def vecTextFn(dt: org.apache.spark.sql.types.DataType): Option[String] =
          dt match {
            case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType |
              org.apache.spark.sql.types.LongType, _) => Some("mo_vec_text_d")
            case _: org.apache.spark.sql.types.ArrayType => Some("mo_vec_text_f")
            case _ => None
          }
        val jsonl = path.endsWith(".jsonl") || path.endsWith(".jl")
        // vector columns export as their Go-style array string (the
        // reference's constructByte / vectorValueToJSON batch routes,
        // array_vecnarrow_export.sql: uint8 as numbers, NOT raw bytes)
        val rows =
          if (jsonl) {
            // JSONL: one compact object per row, keys alphabetical
            val parts = rows0.schema.fields.sortBy(_.name).map { f =>
              val sv = f.dataType match {
                case org.apache.spark.sql.types.StringType =>
                  s"concat('\"', replace(replace(`${f.name}`, '\\\\', '\\\\\\\\'), '\"', '\\\\\"'), '\"')"
                case dt => vecTextFn(dt) match {
                  case Some(fn) => s"$fn(`${f.name}`, ',')"
                  case None => s"CAST(`${f.name}` AS STRING)"
                }
              }
              s"concat('\"${f.name}\":', coalesce($sv, 'null'))"
            }
            rows0.select(expr(
              s"concat('{', concat_ws(',', ${parts.mkString(", ")}), '}')").as("j"))
          } else rows0.select(rows0.schema.fields.toSeq.map { f =>
            vecTextFn(f.dataType) match {
              case Some(fn) => expr(s"$fn(`${f.name}`, ', ')").as(f.name)
              case None => col(f.name)
            }
          }: _*)
        // single file at the exact path: write to a temp dir, move the
        // one part file (driver-side rename — export is a terminal sink)
        val tmp = java.nio.file.Files.createTempDirectory("graft_outfile")
        if (jsonl)
          rows.coalesce(1).write.mode("overwrite").text(tmp.toString)
        else rows.coalesce(1).write.mode("overwrite")
          .option("sep", sep).option("header", header.toString).csv(tmp.toString)
        val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
          .find(p => p.matches(".*part-.*\\.csv") || p.matches(".*part-.*\\.txt"))
          .getOrElse(throw new IllegalStateException("no part file written"))
        val dest = java.nio.file.Paths.get(path)
        Option(dest.getParent).foreach(p => java.nio.file.Files.createDirectories(p))
        java.nio.file.Files.move(java.nio.file.Paths.get(part), dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Some(Seq((path, rows.count())).toDF("file", "rows"))
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // Quantified comparison subqueries: x OP ALL|ANY|SOME (SELECT ...)
  // ------------------------------------------------------------------

  /** Spark has no `x > ALL (SELECT ...)` surface (MySQL/the reference
    * parse it, `subquery-with-any.sql`, `subquery-with-exists.sql:221`);
    * rewrite into NULL-aware min/max scalar-subquery forms:
    *   - `<> ALL` → `NOT IN`, `= ANY` → `IN` (Spark's native NULL-aware
    *     [anti-]semi joins — the scale path);
    *   - ordering ops → compare against `max`/`min` with empty-set and
    *     NULL-in-set handling per 3VL (ALL over ∅ is TRUE, ANY over ∅ is
    *     FALSE; a NULL element forces UNKNOWN unless the comparison is
    *     already decided FALSE for ALL / TRUE for ANY).
    * The scalar subqueries this emits are uncorrelated w.r.t. the left
    * operand, so Catalyst plans each once (ReusedSubquery) — no per-row
    * re-execution. Known divergence: in a filter context UNKNOWN and
    * FALSE both drop the row, but under an enclosing NOT(...) the
    * rewrite's FALSE-vs-UNKNOWN choice for a NULL left operand can
    * differ from strict 3VL.
    */
  private[graft] def quantifiedRewrite(q0: String): String = {
    val KeyRe = """(?i)\b(all|any|some)\s*\(""".r
    var s = q0
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      changed = false; guard += 1
      val hit = KeyRe.findAllMatchIn(s).flatMap { m =>
        lhsBefore(s, m.start).flatMap { case (lhs, op, lhsStart) =>
          val open = s.indexOf('(', m.start)
          SqlText.balancedSpan(s, open).flatMap { case (inner, end) =>
            if ("""(?is)^\s*(select|with)\b""".r.findFirstIn(inner).isDefined)
              Some((lhs, op, m.group(1).toLowerCase, inner, lhsStart, end))
            else None
          }
        }
      }.toSeq.headOption
      hit.foreach { case (lhs, op, kind, sq, from, to) =>
        s = s.substring(0, from) + quantTemplate(lhs, op, kind, sq) + s.substring(to)
        changed = true
      }
    }
    s
  }

  /** Left operand + comparison operator ending right before `idx`
    * (a bare column/literal/qualified name, or one balanced
    * parenthesized expression / call).
    */
  private def lhsBefore(s: String, idx: Int): Option[(String, String, Int)] = {
    val pre = s.substring(0, idx)
    val m = """(?s)(<=|>=|<>|!=|=|<|>)\s*$""".r.findFirstMatchIn(pre).getOrElse(return None)
    val op = m.group(1)
    var e = m.start
    while (e > 0 && Character.isWhitespace(pre(e - 1))) e -= 1
    if (e == 0) return None
    if (pre(e - 1) == ')') {
      var depth = 0
      var i = e - 1
      while (i >= 0) {
        val c = pre(i)
        if (c == ')') depth += 1
        else if (c == '(') {
          depth -= 1
          if (depth == 0) {
            // include a function name directly before the '('
            var j = i
            while (j > 0 && (pre(j - 1).isLetterOrDigit || pre(j - 1) == '_' || pre(j - 1) == '.')) j -= 1
            return Some((pre.substring(j, e), op, j))
          }
        }
        i -= 1
      }
      None
    } else {
      """[\w.`']+$""".r.findFirstIn(pre.substring(0, e))
        .map(t => (t, op, e - t.length))
    }
  }

  private def quantTemplate(x: String, op0: String, kind: String, sq: String): String = {
    val a = s"__q${viewSeq.incrementAndGet()}"
    val cnt = s"(SELECT count(*) FROM ($sq) ${a}c)"
    val nulls = s"(SELECT count(*) FROM ($sq) ${a}n(__qv) WHERE __qv IS NULL)"
    val mx = s"(SELECT max(__qv) FROM ($sq) ${a}x(__qv))"
    val mn = s"(SELECT min(__qv) FROM ($sq) ${a}m(__qv))"
    val dc = s"(SELECT count(DISTINCT __qv) FROM ($sq) ${a}d(__qv))"
    val nul = "CAST(NULL AS BOOLEAN)"
    val op = if (op0 == "!=") "<>" else op0
    val all = kind == "all"
    (op, all) match {
      case ("<>", true) => s"(($x) NOT IN ($sq))"
      case ("=", false) => s"(($x) IN ($sq))"
      case ("=", true) =>
        // NULL = ALL (non-empty set) is UNKNOWN in 3VL even when the set
        // has >=2 distinct values, so test the NULL left operand first.
        s"(CASE WHEN $cnt = 0 THEN TRUE WHEN ($x) IS NULL THEN $nul " +
          s"WHEN $dc > 1 THEN FALSE " +
          s"WHEN NOT(($x) = $mx) THEN FALSE " +
          s"WHEN $nulls > 0 THEN $nul ELSE TRUE END)"
      case ("<>", false) =>
        s"(CASE WHEN $cnt = 0 THEN FALSE WHEN ($x) IS NULL THEN $nul " +
          s"WHEN $dc > 1 THEN TRUE WHEN $dc = 1 AND ($x) <> $mx THEN TRUE " +
          s"WHEN $nulls > 0 THEN $nul ELSE FALSE END)"
      case (o, true) => // >, >=, <, <= ALL: compare against the extreme
        val m = if (o == ">" || o == ">=") mx else mn
        s"(CASE WHEN $cnt = 0 THEN TRUE " +
          s"WHEN $nulls > 0 THEN (CASE WHEN NOT(($x) $o $m) THEN FALSE ELSE $nul END) " +
          s"ELSE ($x) $o $m END)"
      case (o, false) => // >, >=, <, <= ANY
        val m = if (o == ">" || o == ">=") mn else mx
        s"(CASE WHEN $cnt = 0 THEN FALSE WHEN ($x) $o $m THEN TRUE " +
          s"WHEN $nulls > 0 OR ($x) IS NULL THEN $nul ELSE FALSE END)"
    }
  }

  // ------------------------------------------------------------------
  // CREATE FULLTEXT INDEX / ALTER TABLE ... ADD FULLTEXT INDEX
  // ------------------------------------------------------------------

  /** table-key → (index name, column set, parser). The reference
    * REJECTS a CREATE/ALTER ADD whose column set EQUALS an existing
    * fulltext index's set — same length and same members, not mere
    * overlap ("not allowed to use the same column",
    * `pkg/fulltext/plugin/plan/schema.go:77-95`; golden accepts
    * `(json1)` then `(json1, json2)` at `fulltext.result:285-291`,
    * rejects a second `(body, title)` at `:46`). MATCH over a table
    * with registered indexes requires one whose column set matches.
    * Tables with NO registered index build postings on demand — the
    * programmatic convenience surface.
    */

  private val CreateFtRe =
    ("""(?is)^create\s+fulltext\s+index\s+`?(\w+)`?\s+on\s+(?:`?\w+`?\.)?`?(\w+)`?""" +
      """\s*\(([^)]*)\)\s*(?:with\s+parser\s+(\w+))?\s*$""").r
  private val AlterFtRe =
    ("""(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+add\s+fulltext\s+index\s+""" +
      """`?(\w+)`?\s*\(([^)]*)\)\s*(?:with\s+parser\s+(\w+))?\s*$""").r

  private def ftCols(txt: String): Set[String] =
    SqlText.splitTop(txt).map(_.trim.stripPrefix("`").stripSuffix("`").toLowerCase)
      .filter(_.nonEmpty).toSet

  private def fulltextDdlRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    def register(table: String, name: String, cols: Set[String],
        parser: String): DataFrame = {
      val key = table.toLowerCase
      val existing = state(spark).ftIndexCols.getOrElse(key, Vector.empty)
      if (existing.exists(_._2 == cols))
        throw new IllegalArgumentException(
          "not supported: Fulltext index are not allowed to use the same column")
      state(spark).ftIndexCols.put(key,
        existing :+ ((name, cols, Option(parser).getOrElse("").toLowerCase)))
      Seq((name, table, cols.mkString(","), "created"))
        .toDF("index_name", "table_name", "columns", "status")
    }
    q match {
      case CreateFtRe(name, table, colsTxt, parser) =>
        Some(register(table, name, ftCols(colsTxt), parser))
      case AlterFtRe(table, name, colsTxt, parser) =>
        Some(register(table, name, ftCols(colsTxt), parser))
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // PREPARE name FROM 'sql' / EXECUTE name [USING @a, ...] /
  // DEALLOCATE PREPARE name / SET @var = expr
  // ------------------------------------------------------------------

  private[sql] def sqlLiteral(v: Any): String = sqlLit(v)
  private[sql] def userVarLiteral(spark: SparkSession, name: String): String =
    userVarLit(spark, name)
  private[sql] def setUserVar(spark: SparkSession, name: String, lit: String): Unit =
    state(spark).userVars.put(name.toLowerCase, lit)

  private def userVarLit(spark: SparkSession, name: String): String =
    state(spark).userVars.getOrElse(name.toLowerCase, "NULL")

  /** Body of a prepared statement, if registered (e.g. for a conformance
    * harness that needs to know which table an EXECUTE touches).
    */
  def preparedBody(spark: SparkSession, name: String): Option[String] =
    state(spark).preparedStmts.get(name.toLowerCase)

  private val FtAlgoRe =
    """(?is)^set\s+ft_relevancy_algorithm\s*=\s*["']?([\w-]+)["']?$""".r
  private def sessionAlgo(spark: SparkSession): String = state(spark).ftAlgo

  private val PrepareRe = """(?is)^prepare\s+(\w+)\s+from\s+(.+)$""".r
  private val ExecuteRe = """(?is)^execute\s+(\w+)(?:\s+using\s+(.+))?$""".r
  private val DeallocRe = """(?is)^deallocate\s+(?:prepare\s+)?(\w+)$""".r
  private val SetVarRe = """(?is)^set\s+(@\w.*)$""".r

  /** Render a driver-side value as a SQL literal for `?` / `@var`
    * substitution.
    */
  private def sqlLit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case b: Array[Byte] => "X'" + b.map("%02X".format(_)).mkString + "'"
    case x: java.math.BigDecimal => x.toPlainString
    case x => x.toString
  }

  /** A user variable `@name` (not a `@@` system variable) and a `?`
    * placeholder, substituted outside quoted text.
    */
  private val UserVarRe = """(?<!@)@(\p{javaUnicodeIdentifierPart}+)""".r
  private val PlaceholderRe = """\?""".r

  /** MySQL prepared-statement surface (reference
    * `test/distributed/cases/prepare/prepare.test`; wire-protocol
    * prepare in `pkg/frontend/mysql_cmd_executor.go`): PREPARE stores
    * the text, EXECUTE substitutes `?` placeholders with the USING
    * variables' SET-time values and re-enters [[sql]], so a prepared
    * reference-dialect statement (MATCH, interval, sample) still hits
    * its rewrite. SET @v evaluates the RHS eagerly to a literal.
    */
  private def prepareRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    // procedures resolve BEFORE @-var substitution: `CALL p(@out)` must
    // see the variable NAME (it writes OUT/INOUT params back into it)
    procedureRewrite(spark, q).orElse(q match {
      case FtAlgoRe(algo) =>
        // "TF-IDF" → "tfidf"
        state(spark).ftAlgo = algo.toLowerCase.replace("-", "")
        Some(spark.emptyDataFrame)
      case PrepareRe(name, bodyRaw) =>
        var b = bodyRaw.trim
        // `PREPARE s FROM @var` takes the variable's STRING value as the
        // body (ivfflat_include files build their SQL with concat())
        if (b.matches("""^@\w+$""")) b = userVarLit(spark, b.drop(1)).trim
        val body =
          if (b.length >= 2 && (b.head == '\'' || b.head == '"') && b.last == b.head)
            b.substring(1, b.length - 1)
              .replace("\\" + b.head, b.head.toString)
              .replace("" + b.head + b.head, b.head.toString)
          else b
        // the reference rejects a parameterized result_scan at PREPARE
        // time (query_result.result:24 "invalid argument of result_scan");
        // meta_scan(?) is legal
        if ("""(?i)result_scan\s*\(\s*\?\s*\)""".r.findFirstIn(body).isDefined)
          throw new IllegalArgumentException(
            "invalid input: invalid argument of result_scan")
        state(spark).preparedStmts.put(name.toLowerCase, body)
        Some(spark.emptyDataFrame)
      case ExecuteRe(name, usingOrNull) =>
        val body = state(spark).preparedStmts.getOrElse(name.toLowerCase,
          throw new IllegalStateException(
            s"prepared statement '$name' does not exist"))
        val params = Option(usingOrNull).toSeq
          .flatMap(u => SqlText.splitTop(u)).map(_.trim).map {
            case v if v.startsWith("@") => userVarLit(spark, v.drop(1))
            case v => v // literal argument
          }
        val it = params.iterator
        val bound = SqlText.replaceOutside(body, PlaceholderRe,
          _ => if (it.hasNext) it.next()
          else throw new IllegalArgumentException(
            s"not enough USING parameters for '$name'"))
        // the reference rejects a PREPARED multi-assignment SET that
        // mixes user variables with system variables
        // (prepare_all.result:810) — and leaves every variable untouched
        if (bound.matches("(?is)^set\\s+@.*") && SqlText.splitTop(
          bound.trim.replaceFirst("(?is)^set\\s+", "")).exists(a =>
          !a.trim.startsWith("@") && a.contains("=")))
          throw new UnsupportedOperationException(
            "not supported: prepared multi-assignment SET supports user variables only")
        Some(sql(spark, bound))
      case DeallocRe(name) =>
        state(spark).preparedStmts.remove(name.toLowerCase)
        Some(spark.emptyDataFrame)
      case SetVarRe(assigns) =>
        // MySQL multi-assignment SET is ATOMIC: every RHS evaluates (a
        // later item sees earlier items' NEW values) and assignments
        // commit only if the whole list succeeds — an erroring subquery
        // leaves all variables untouched (prepare_all.result:779-785)
        val overlay = scala.collection.mutable.LinkedHashMap[String, String]()
        SqlText.splitTop(assigns).foreach { a =>
          """(?is)^\s*@(\w+)\s*:?=\s*(.+)$""".r.findFirstMatchIn(a).foreach { m =>
            val rhs = SqlText.replaceOutside(m.group(2).trim, UserVarRe, v =>
              overlay.getOrElse(v.group(1).toLowerCase, userVarLit(spark, v.group(1))))
            // a parenthesized subquery RHS follows MySQL SET semantics:
            // the FIRST column of the single row (multi-column scalar
            // subqueries are legal here, seq_func2.result:79-84), and
            // >1 row is the reference's hard error (seq_func2.result:75)
            val subq = """(?is)^\((\s*select\b.*)\)$""".r.findFirstMatchIn(rhs)
            val v = subq match {
              case Some(s) =>
                val rows = sql(spark, s.group(1)).take(2)
                if (rows.length > 1) throw new IllegalArgumentException(
                  "Subquery returns more than 1 row")
                rows.headOption.map(r => sqlLit(r.get(0))).getOrElse("NULL")
              case None =>
                // unparseable/unresolvable RHS degrades: a bare word is
                // MySQL's unquoted string value (`SET @v = xxx` stores
                // 'xxx', ddl/mysql_ddl_1.sql:56), anything else NULL;
                // runtime errors must surface
                try sqlLit(sql(spark, s"SELECT $rhs").collect().head.get(0))
                catch {
                  case _: org.apache.spark.sql.AnalysisException =>
                    if (rhs.matches("""(?i)^[a-z_]\w*$""")) sqlLit(rhs)
                    else "NULL"
                }
            }
            overlay.put(m.group(1).toLowerCase, v)
          }
        }
        overlay.foreach { case (n, v) => state(spark).userVars.put(n.toLowerCase, v) }
        Some(spark.emptyDataFrame)
      case _ => None
    })

  // ------------------------------------------------------------------
  // Narrow vector column types (vecint8/vecuint8/vecf16/vecbf16 —
  // reference `types.go` vector family; BVT array/array_vecnarrow*).
  // CREATE TABLE maps them to Spark array types and records the declared
  // kind+dim so INSERT literals keep the reference's STRICT store
  // semantics and index DDL can enforce the quantization width rule.
  // ------------------------------------------------------------------


  // column name, a type token with optional (args), then no comma or
  // paren before AUTO_INCREMENT — the paren guard keeps `PRIMARY KEY
  // (id)) ... AUTO_INCREMENT=100` (a table OPTION) from minting a
  // phantom column while `int(11) unsigned AUTO_INCREMENT` still matches
  private val AutoIncColDefRe =
    """(?i)[(,]\s*`?(\w+)`?\s+\w+\s*(?:\([^()]*\))?[^,()]*?\bauto_increment\b""".r

  /** Record + strip AUTO_INCREMENT from CREATE TABLE (Spark has no
    * engine counter; INSERT/LOAD fill NULL ids from the recorded one).
    * A `) AUTO_INCREMENT = N` table option moves the allocator start.
    */
  private def autoIncDdl(spark: SparkSession, q: String): String = {
    if (!q.toLowerCase.contains("auto_increment")) return q
    q match {
      case CreateTableNameRe(table) =>
        val acs = AutoIncColDefRe.findAllMatchIn(q)
          .map(m => (m.group(1), 0L)).toVector
        if (acs.nonEmpty) {
          val start = """(?i)\bauto_increment\s*=\s*(\d+)""".r
            .findFirstMatchIn(q).map(_.group(1).toLong - 1).getOrElse(0L)
          state(spark).autoIncCols.put(table.toLowerCase,
            acs.map { case (c, _) => (c, start) })
        }
        q.replaceAll("(?i)\\s+AUTO_INCREMENT\\s*=\\s*\\d+", "")
          .replaceAll("(?i)\\s+AUTO_INCREMENT", "")
      case _ => q
    }
  }

  // ------------------------------------------------------------------
  // AUTO_INCREMENT fill for INSERT/REPLACE (reference `pkg/incrservice`
  // fill semantics): NULL/0 cells allocate the next id, explicit
  // POSITIVE values advance the counter to max(counter, value),
  // negatives store without advancing, and failed statements do not
  // consume ids — the counter advance commits only on success. DELETE
  // never resets the counter; TRUNCATE and re-CREATE do.
  // ------------------------------------------------------------------

  private val AiInsertColsRe =
    """(?is)^((?:insert|replace)\s+(?:ignore\s+)?into)\s+`?(\w+)`?\s*\(([^)]*)\)\s*values\s*(.+)$""".r
  private val AiInsertValsRe =
    """(?is)^((?:insert|replace)\s+(?:ignore\s+)?into)\s+`?(\w+)`?\s*values\s*(.+)$""".r
  private val AiInsertSelRe =
    """(?is)^((?:insert|replace)\s+(?:ignore\s+)?into)\s+`?(\w+)`?\s*\(([^)]*)\)\s*(select\b.+)$""".r
  private val AiUpdateRe =
    """(?is)^update\s+(?:ignore\s+)?`?(\w+)`?\s+set\s+(.+?)(?:\s+where\b.*)?$""".r
  private val AiAlterRe =
    """(?is)^alter\s+table\s+`?(\w+)`?\s+auto_increment\s*=\s*(\d+)\s*$""".r
  private val AiTruncRe =
    """(?is)^truncate\s+(?:table\s+)?`?(\w+)`?\s*$""".r

  private def aiCommitCtrs(spark: SparkSession, key: String, ctrs: Vector[Long]): Unit =
    state(spark).autoIncCols.updateWith(key)(
      _.map(_.zip(ctrs).map { case ((c, _), n) => (c, n) }))

  /** Splice allocated ids into a VALUES row list. `posIdx` maps the row
    * item position to the auto-column index in the registry entry.
    */
  private def aiXformRows(spark: SparkSession, key: String, posIdx: Seq[(Int, Int)],
      rows: Seq[String]): (Seq[String], Vector[Long]) = {
    val ctrs = state(spark).autoIncCols(key).map(_._2).toArray
    val out = rows.map { r =>
      val inner = r.trim.stripPrefix("(").stripSuffix(")")
      var items = SqlText.splitTop(inner).map(_.trim)
      posIdx.foreach { case (pos, ai) =>
        if (pos < items.length) {
          val raw = items(pos).replaceAll("^'|'$", "").trim
          val isAuto = raw.equalsIgnoreCase("null") ||
            raw.matches("-?0+(\\.0*)?")
          if (isAuto) {
            ctrs(ai) += 1
            items = items.updated(pos, ctrs(ai).toString)
          } else try {
            // out-of-Long values pass through for the engine to reject
            val n = raw.toDouble
            if (n > ctrs(ai) && n <= Long.MaxValue.toDouble) ctrs(ai) = n.toLong
          } catch { case _: NumberFormatException => }
        }
      }
      s"(${items.mkString(", ")})"
    }
    (out, ctrs.toVector)
  }

  /** Rewrite one INSERT/REPLACE against an auto-increment table so every
    * auto column carries explicit ids, returning the new text plus the
    * counter commit to run on success. Any rewrite surprise degrades to
    * the original statement — the engine's own error then surfaces in
    * the normal path.
    */
  private def autoIncInsertFill(spark: SparkSession,
      sql0: String): (String, () => Unit) =
    try autoIncInsertFill0(spark, sql0)
    catch { case _: Exception => (sql0, () => ()) }

  private def autoIncInsertFill0(spark: SparkSession,
      sql0: String): (String, () => Unit) = {
    val aiCols = state(spark).autoIncCols
    // an ON DUPLICATE KEY tail is not VALUES text — split it off so the
    // row transform never sees it, reattach verbatim
    val dupAt = """(?i)\son\s+duplicate\s+key\s+update\s""".r
      .findFirstMatchIn(SqlText.mask(sql0)).map(_.start)
    val (head, dupTail) = dupAt
      .map(i => (sql0.substring(0, i), sql0.substring(i)))
      .getOrElse((sql0, ""))
    head match {
      case AiInsertColsRe(pre, t, cols, valuesTxt)
          if aiCols.contains(t.toLowerCase) =>
        val key = t.toLowerCase
        val acols = aiCols(key)
        val listed = cols.split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
        val present = acols.zipWithIndex.flatMap { case ((c, _), ai) =>
          val p = listed.indexWhere(_.equalsIgnoreCase(c))
          if (p >= 0) Some((p, ai)) else None
        }
        val missing = acols.zipWithIndex
          .filter { case ((c, _), _) => !listed.exists(_.equalsIgnoreCase(c)) }
        val rows0 = SqlText.splitTop(valuesTxt)
        val (rows1, ctrs1) = aiXformRows(spark, key, present, rows0)
        val ctrs = ctrs1.toArray
        // MISSING auto columns prepend, each running its own counter
        val rows2 = rows1.zipWithIndex.map { case (r, k) =>
          val inner = r.trim.stripPrefix("(").stripSuffix(")")
          val ids = missing.map { case (_, ai) => (ctrs(ai) + k + 1).toString }
          s"(${(ids :+ inner).mkString(", ")})"
        }
        missing.foreach { case (_, ai) => ctrs(ai) += rows0.length }
        val missNames = missing.map(_._1._1)
        (s"$pre $t (${(missNames ++ listed).mkString(", ")}) VALUES ${rows2.mkString(", ")}$dupTail",
          () => aiCommitCtrs(spark, key, ctrs.toVector))
      case AiInsertSelRe(pre, t, cols, selTxt)
          if aiCols.contains(t.toLowerCase) &&
            aiCols(t.toLowerCase).exists { case (c, _) =>
              !cols.split(",").exists(_.trim.stripPrefix("`").stripSuffix("`")
                .equalsIgnoreCase(c)) } =>
        // SELECT-sourced insert omitting auto column(s): allocate with a
        // row_number over the source (sequential by definition — the
        // reference's allocator is too); counters commit from the
        // table's max after success
        val key = t.toLowerCase
        val listed = cols.split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
        val missing = aiCols(key).filter { case (c, _) =>
          !listed.exists(_.equalsIgnoreCase(c)) }
        val ids = missing.map { case (_, base) => s"$base + __rn" }
        val missNames = missing.map(_._1)
        // the subquery alias column list renames the source columns to
        // the insert's target names so the outer select can project them
        (s"$pre $t (${(missNames ++ listed).mkString(", ")}) " +
          s"SELECT ${ids.mkString(", ")}, ${listed.mkString(", ")} FROM " +
          s"(SELECT __s0.*, row_number() OVER (ORDER BY __mono) AS __rn FROM " +
          s"(SELECT __sq.*, monotonically_increasing_id() AS __mono FROM " +
          s"($selTxt) AS __sq(${listed.mkString(", ")})) __s0) __src$dupTail",
          () => {
            val ctrs = aiCols(key).map { case (c, base) =>
              if (!missing.exists(_._1 == c)) base
              else {
                val mx = spark.sql(s"SELECT max(`$c`) FROM `$t`").head.get(0)
                mx match {
                  case n: Number => math.max(base, n.longValue())
                  case _ => base
                }
              }
            }
            aiCommitCtrs(spark, key, ctrs)
          })
      case AiInsertValsRe(pre, t, valuesTxt)
          if aiCols.contains(t.toLowerCase) =>
        val key = t.toLowerCase
        val tblCols = try spark.table(t).columns.toSeq
          catch { case _: Exception => Seq.empty[String] }
        val posIdx = aiCols(key).zipWithIndex.flatMap { case ((c, _), ai) =>
          val p = tblCols.indexWhere(_.equalsIgnoreCase(c))
          if (p >= 0) Some((p, ai)) else None
        }
        if (posIdx.isEmpty) (sql0, () => ())
        else {
          val (rows, ctrs) = aiXformRows(spark, key, posIdx, SqlText.splitTop(valuesTxt))
          (s"$pre $t VALUES ${rows.mkString(", ")}$dupTail",
            () => aiCommitCtrs(spark, key, ctrs))
        }
      case _ => (sql0, () => ())
    }
  }

  /** Statement-level allocator hooks: rewrites the text (id fill) and
    * returns the completion callback [[sql]] runs with the statement's
    * outcome. ALTER ... AUTO_INCREMENT moves the start immediately;
    * TRUNCATE resets on success; an UPDATE storing an explicit value
    * into an auto column advances the allocator on success AND on an FK
    * RESTRICT reject (the value binds before the check —
    * foreign_key.result:336-363), while value-level rejects advance
    * nothing.
    */
  private def autoIncStmtRewrite(spark: SparkSession,
      sql0: String): (String, Option[Throwable] => Unit) = {
    val aiCols = state(spark).autoIncCols
    // a FAILED re-CREATE must not clobber the live table's allocator
    // (autoIncDdl registers from text before execution) — snapshot the
    // entry here and restore it if the statement errors
    val createSnap: Option[(String, Option[Vector[(String, Long)]])] =
      if (!sql0.toLowerCase.contains("auto_increment")) None
      else sql0 match {
        case CreateTableNameRe(t) =>
          Some((t.toLowerCase, aiCols.get(t.toLowerCase)))
        case _ => None
      }
    if (createSnap.nonEmpty)
      return (sql0, {
        case None => ()
        case Some(_) => createSnap.foreach { case (k, old) =>
          old match {
            case Some(v) => aiCols.put(k, v)
            case None => aiCols.remove(k)
          }
        }
      })
    if (aiCols.isEmpty) return (sql0, _ => ())
    AiAlterRe.findFirstMatchIn(sql0).foreach { m =>
      val k = m.group(1).toLowerCase
      aiCols.get(k).foreach { v =>
        aiCols.put(k, v.map { case (c, cur) =>
          (c, math.max(cur, m.group(2).toLong - 1)) })
      }
    }
    val updAdvance: Option[() => Unit] =
      AiUpdateRe.findFirstMatchIn(sql0).flatMap { um =>
        val k = um.group(1).toLowerCase
        if (!aiCols.contains(k)) None
        else Some(() => aiCols.get(k).foreach { v =>
          aiCols.put(k, v.map { case (c, cur) =>
            val nv = ("(?i)\\b" + java.util.regex.Pattern.quote(c) +
              "\\s*=\\s*'?(-?\\d+)'?").r
              .findFirstMatchIn(um.group(2)).map(_.group(1).toLong)
            (c, nv.filter(_ > cur).getOrElse(cur))
          })
        })
      }
    val (filled, commit) = autoIncInsertFill(spark, sql0)
    val onDone: Option[Throwable] => Unit = {
      case None =>
        commit()
        updAdvance.foreach(_())
        AiTruncRe.findFirstMatchIn(sql0).foreach { m =>
          val k = m.group(1).toLowerCase
          aiCols.get(k).foreach { v =>
            aiCols.put(k, v.map { case (c, _) => (c, 0L) })
          }
        }
      case Some(e) =>
        val msg = Option(e.getMessage).getOrElse("")
        // a partition-routing reject happens AFTER id binding — the
        // reference's allocator advanced (hash_key_partition)
        if (msg.contains("no partition for value")) commit()
        if (msg.contains("foreign key constraint fails"))
          updAdvance.foreach(_())
    }
    (filled, onDone)
  }

  private val NarrowVecTypeRe =
    """(?i)\bvec(int8|uint8|f16|bf16)\s*\(\s*(\d+)\s*\)""".r
  private val NarrowColDefRe =
    """(?i)`?(\w+)`?\s+vec(int8|uint8|f16|bf16)\s*\(\s*(\d+)\s*\)""".r
  private val CreateTableNameRe =
    """(?is)^create\s+(?:temporary\s+)?table\s+(?:if\s+not\s+exists\s+)?(?:`?\w+`?\.)?`?(\w+)`?.*""".r

  /** Text-level pre-step: rewrite narrow vec column types in CREATE
    * TABLE (int8 → ARRAY<TINYINT>, uint8 → ARRAY<SMALLINT> — no unsigned
    * byte in Spark — f16/bf16 → ARRAY<FLOAT> carrying precision-rounded
    * values) and record the declared kinds.
    */
  private def narrowVecDdl(spark: SparkSession, q: String): String = {
    val low = q.toLowerCase
    if (!low.contains("vecint8") && !low.contains("vecuint8") &&
      !low.contains("vecf16") && !low.contains("vecbf16")) return q
    q match {
      case CreateTableNameRe(table) =>
        val cols = NarrowColDefRe.findAllMatchIn(q).map(m =>
          (m.group(1), m.group(2).toLowerCase, m.group(3).toInt)).toVector
        if (cols.nonEmpty) state(spark).vecCols.put(table.toLowerCase, cols)
        NarrowVecTypeRe.replaceAllIn(q, m => m.group(1).toLowerCase match {
          case "int8" => "ARRAY<TINYINT>"
          case "uint8" => "ARRAY<SMALLINT>"
          case _ => "ARRAY<FLOAT>"
        })
      case _ => q
    }
  }

  /** vec→vec functions keep the narrow RESULT type in the reference
    * (normalize_l2(vecbf16) → vecbf16): re-round the double result to
    * the column's declared kind so the reduced precision shows through
    * (array_vecnarrow.sql normalize goldens).
    */
  /** `CROSS APPLY fulltext_index_tokenize('{json}', srcId, idCol, txtCol)
    * AS f` (`pkg/fulltext/tokenize`, gojieba.sql:429) — one row per
    * token of txtCol. Spark mapping: LATERAL VIEW explode over the
    * tokenizer kernel.
    */
  private val FtTokenizeRe =
    ("""(?is)\bcross\s+apply\s+fulltext_index_tokenize\s*\(\s*('[^']*')\s*,""" +
      """\s*\d+\s*,\s*`?\w+`?\s*,\s*`?(\w+)`?\s*\)\s*(?:as\s+(\w+))?""").r
  private def ftTokenizeApply(q: String): String = {
    if (!q.toLowerCase.contains("fulltext_index_tokenize")) return q
    FtTokenizeRe.replaceAllIn(q, m => java.util.regex.Matcher.quoteReplacement(
      s" LATERAL VIEW explode(mo_ft_tokenize(${m.group(1)}, `${m.group(2)}`)) " +
        s"${Option(m.group(3)).getOrElse("f")} AS tk"))
  }

  private def narrowVecFns(spark: SparkSession, q: String): String = {
    val vecCols = state(spark).vecCols
    if (vecCols.isEmpty || !q.toLowerCase.contains("normalize_l2")) return q
    var s = q
    vecCols.foreach { case (t, cols) =>
      if (s"(?i)\\b$t\\b".r.findFirstIn(s).isDefined)
        cols.foreach { case (c, kind, dim) =>
          if (kind == "bf16" || kind == "f16")
            s = s"(?i)\\bnormalize_l2\\s*\\(\\s*`?$c`?\\s*\\)".r.replaceAllIn(s, _ =>
              java.util.regex.Matcher.quoteReplacement(
                s"mo_vec_quant_f(CAST(normalize_l2($c) AS ARRAY<DOUBLE>), '$kind', $dim)"))
        }
    }
    s
  }

  /** `table_stats('db.t', 'patch', '{json}')` — the reference's stats
    * patching TVF (`pkg/sql/plan/function/table_stats`,
    * optimizer/associative.sql): applies optimizer-stat overrides and
    * echoes them. Catalyst estimates its own stats, so the patch is a
    * no-op here — the TVF becomes a one-row SELECT echoing the patch
    * (numbers as DOUBLE, nested maps as their JSON text).
    */
  private lazy val statsJson = new com.fasterxml.jackson.databind.ObjectMapper()
  private def tableStatsRewrite(spark: SparkSession, q: String): (String, Seq[String]) = {
    if (!q.toLowerCase.contains("table_stats")) return (q, Nil)
    var s = q
    val views = Seq.newBuilder[String]
    var changed = true
    while (changed) {
      changed = false
      """(?i)\btable_stats\s*\(""".r.findFirstMatchIn(SqlText.mask(s)).foreach { m =>
        SqlText.balancedSpan(s, s.indexOf('(', m.start)).foreach { case (inner, end) =>
          val args = SqlText.splitTop(inner).map(_.trim)
          val fullName = args.head.replaceAll("[\"'`]", "")
          val tbl = fullName.split("\\.").last.toLowerCase
          val cmd = args.lift(1)
            .map(_.replaceAll("[\"']", "").trim.toLowerCase)
          cmd.foreach {
            case "get" | "refresh" | "patch" => ()
            case other => throw new IllegalStateException(
              s"internal error: unknown command: $other")
          }
          if (cmd.contains("refresh") && args.lengthIs == 3) {
            val mode = args(2).replaceAll("[\"']", "").trim.toLowerCase
            if (mode != "auto" && mode != "full")
              throw new IllegalStateException(
                s"internal error: invalid refresh mode: $mode")
          }
          // 'patch' calls accumulate optimizer-stat overrides; Catalyst
          // estimates its own stats, so patches only affect the echo
          if (cmd.contains("patch")) {
            if (args.lengthIs < 3)
              throw new IllegalStateException(
                "internal error: patch command requires args")
            val json = args(2).stripPrefix("'").stripSuffix("'")
            val node =
              try statsJson.readTree(json)
              catch { case _: Exception => null }
            if (node == null || !node.isObject)
              throw new IllegalStateException(
                s"internal error: invalid patch args: $json")
            val acc = state(spark).statPatches.getOrElseUpdate(tbl,
              scala.collection.mutable.LinkedHashMap.empty)
            node.fields().forEachRemaining(e => acc.put(e.getKey, e.getValue))
          }
          val view = statsView(spark, fullName, tbl)
          views += view
          s = s.substring(0, m.start) + view + s.substring(end)
          changed = true
        }
      }
    }
    (s, views.result())
  }

  /** Materialize the stats row for a table as a temp view: exact
    * table_cnt + per-column approx NDV / min / max / type / null-count
    * maps (the reference's physical fields — block numbers, object
    * sizes — are storage layout and take nominal single-object values).
    * Accumulated 'patch' overrides replace matching fields.
    */
  private def statsView(spark: SparkSession, fullName0: String, tbl0: String): String = {
    import spark.implicits._
    // a db.table.N form carries an ACCOUNT id suffix: 0 is the sys
    // account (cross-account probes reject), otherwise it strips
    var fullName = fullName0
    var tbl = tbl0
    val parts = fullName0.split("\\.")
    if (parts.length == 3 && parts(2).matches("\\d+")) {
      if (parts(2) == "0")
        throw new IllegalStateException(
          "internal error: only sys account can query stats for other accounts")
      fullName = parts(0) + "." + parts(1)
      tbl = parts(1).toLowerCase
    }
    val isMoCatalog = fullName.toLowerCase.startsWith("mo_catalog.")
    if (!isMoCatalog && !spark.catalog.tableExists(tbl))
      throw new IllegalStateException(
        s"internal error: table $fullName not found: no such table $fullName")
    if (isMoCatalog)
      MoCatalog.ensureViews(spark, t => state(spark).primaryKeys.contains(t.toLowerCase))
    val df =
      if (isMoCatalog) spark.table("_graft_" + fullName.split("\\.").last.toLowerCase)
      else spark.table(tbl)
    val cnt = df.count()
    val fields = df.schema.fields
    val aggs = fields.map(f => approx_count_distinct(col(s"`${f.name}`")))
    val ndvRow =
      if (fields.isEmpty || cnt == 0) Array.fill(fields.length)(0L)
      else df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head.toSeq
        .map { case n: Number => n.longValue(); case _ => 0L }.toArray
    val ndvMap = fields.zip(ndvRow).map { case (f, v) => s"\"${f.name}\": $v" }
      .mkString("{", ", ", "}")
    val typeMap = fields.map(f =>
      s"\"${f.name}\": \"${f.dataType.sql}\"").mkString("{", ", ", "}")
    val nullMap = fields.map(f => s"\"${f.name}\": 0").mkString("{", ", ", "}")
    var row: scala.collection.mutable.LinkedHashMap[String, String] =
      scala.collection.mutable.LinkedHashMap(
        "table_name" -> s"'$fullName'",
        "table_cnt" -> s"CAST($cnt AS DOUBLE)",
        "block_number" -> "CAST(1 AS BIGINT)",
        "approx_object_number" -> "CAST(2 AS BIGINT)",
        "accurate_object_number" -> "CAST(1 AS BIGINT)",
        "sampling_ratio" -> "CAST(1.0 AS DOUBLE)",
        "ndv_map" -> s"'${ndvMap.replace("'", "''")}'",
        "min_val_map" -> s"'$nullMap'",
        "max_val_map" -> s"'$nullMap'",
        "data_type_map" -> s"'${typeMap.replace("'", "''")}'",
        "null_cnt_map" -> s"'$nullMap'",
        "size_map" -> s"'$nullMap'",
        "shuffle_range_map" -> "'{}'")
    state(spark).statPatches.get(tbl).foreach(_.foreach { case (k, v) =>
      row.put(k,
        if (v.isNumber) s"CAST(${v.asText} AS DOUBLE)"
        else s"'${v.toString.replace("'", "''")}'")
    })
    val view = s"__graft_stats_${viewCounter.incrementAndGet()}"
    spark.sql("SELECT " +
      row.map { case (k, e) => s"$e AS `$k`" }.mkString(", "))
      .createOrReplaceTempView(view)
    view
  }

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `parse_jsonl_data('…' [,spec])` / `parse_jsonl_file('path' [,spec])`
    * table functions ([[ParseJsonl]]): materialize as a temp view and
    * splice the view name in place of the call.
    */
  private def parseJsonlRewrite(spark: SparkSession, q: String): (String, Seq[String]) = {
    if (!q.toLowerCase.contains("parse_jsonl_")) return (q, Nil)
    var s = q
    val views = Seq.newBuilder[String]
    var changed = true
    while (changed) {
      changed = false
      """(?i)\bparse_jsonl_(data|file)\s*\(""".r.findFirstMatchIn(SqlText.mask(s)).foreach { m =>
        SqlText.balancedSpan(s, s.indexOf('(', m.end - 2)).foreach { case (inner, end) =>
          val args = SqlText.splitTop(inner).map(_.trim)
          def lit(a: String): String = {
            val body = a.stripPrefix("'").stripSuffix("'")
            body.replace("\\'", "'").replace("\\\\", "\\")
              .replace("\\n", "\n").replace("\\t", "\t")
          }
          val spec = args.lift(1).map(lit)
          val df =
            if (m.group(1).equalsIgnoreCase("data"))
              ParseJsonl.frame(spark, Some(lit(args.head)), None, spec)
            else ParseJsonl.frame(spark, None, Some(lit(args.head)), spec)
          val view = s"__graft_jsonl_${viewCounter.incrementAndGet()}"
          df.createOrReplaceTempView(view)
          views += view
          s = s.substring(0, m.start) + view + s.substring(end)
          changed = true
        }
      }
    }
    (s, views.result())
  }

  /** An `interval(ts, n, unit)` time-window query nested INSIDE a
    * subquery (optimizer/column_pruning.sql) can't take the top-level
    * DataFrame rewrite — materialize the inner query as a temp view and
    * splice the view name into the outer statement.
    */
  private def subqueryIntervalViews(spark: SparkSession, q: String): (String, Seq[String]) = {
    if (!q.toLowerCase.contains("interval(")) return (q, Nil)
    var s = q
    val views = Seq.newBuilder[String]
    var changed = true
    var guard = 0
    while (changed && guard < 16) {
      changed = false; guard += 1
      // deepest-first: the first parenthesized `(select … interval(…))`
      // to close
      val quoted = SqlText.spans(s)
      s.indices.filter(i => s(i) == '(' && !quoted.exists(_.contains(i)))
        .map(open => (open, SqlText.closeParen(s, open)))
        .filter { case (open, close) =>
          close > 0 && {
            val inner = s.substring(open + 1, close)
            """(?is)^\s*select\b""".r.findFirstIn(inner).isDefined &&
              IntervalRe.findFirstMatchIn(inner).isDefined
          }
        }
        .minByOption(_._2).foreach { case (open, close) =>
          intervalRewrite(spark, s.substring(open + 1, close).trim).foreach { df =>
            val view = s"__graft_itw_${viewCounter.incrementAndGet()}"
            df.createOrReplaceTempView(view)
            views += view
            s = s.substring(0, open) + view + s.substring(close + 1)
            changed = true
          }
        }
    }
    (s, views.result())
  }

  private val NarrowInsertRe =
    """(?is)^insert\s+into\s+(?:`?\w+`?\.)?`?(\w+)`?\s*(?:\(([^)]*)\))?\s*values\s*(.+)$""".r

  /** Wrap INSERT values destined for narrow vec columns with the strict
    * store kernel (mo_vec_store / mo_vec_parse): integer kinds reject
    * non-integral or out-of-range elements — "error while casting 1.4 to
    * VECINT8" — and f16/bf16 store precision-rounded values, exactly the
    * reference's insert-time cast.
    */
  private def narrowVecInsert(spark: SparkSession, q: String): String = q match {
    case NarrowInsertRe(table, colsOrNull, valuesTxt) =>
      state(spark).vecCols.get(table.toLowerCase) match {
        case Some(narrow) =>
          val byName = narrow.map(c => c._1.toLowerCase -> c).toMap
          val order: Seq[Option[(String, String, Int)]] =
            if (colsOrNull != null)
              colsOrNull.split(",").toSeq.map(c =>
                byName.get(c.trim.stripPrefix("`").stripSuffix("`").toLowerCase))
            else {
              val schema = try spark.table(table).columns.toSeq
                catch { case _: Exception => return q }
              schema.map(c => byName.get(c.toLowerCase))
            }
          if (!order.exists(_.isDefined)) return q
          // Spark inline tables must be foldable — the strict kernels
          // are UDFs, so the VALUES stay raw and the kernel applies in a
          // SELECT projection over them
          val rows = SqlText.splitTop(valuesTxt).map(_.trim)
          if (rows.exists(r => !r.startsWith("(") || !r.endsWith(")"))) return q
          val fieldRows = rows.map(r => SqlText.splitTop(r.substring(1, r.length - 1)))
          if (fieldRows.exists(_.length != order.length)) return q
          // per narrow column: all-string literals → strict parse path,
          // otherwise the numeric-array store path
          val stringCol: Seq[Boolean] = order.indices.map { j =>
            order(j).isDefined && fieldRows.forall { fs =>
              val t = fs(j).trim
              t.equalsIgnoreCase("null") || t.startsWith("'") || t.startsWith("\"")
            }
          }
          val names = order.indices.map(j => s"__c${j + 1}")
          val projections = order.indices.map { j =>
            order(j) match {
              case Some((_, kind, dim)) =>
                if (stringCol(j)) s"mo_vec_parse_d(${names(j)}, '$kind', $dim)"
                else s"mo_vec_store(CAST(${names(j)} AS ARRAY<DOUBLE>), '$kind', $dim)"
              case None => names(j)
            }
          }
          s"INSERT INTO $table " +
            (if (colsOrNull != null) s"($colsOrNull) " else "") +
            s"SELECT ${projections.mkString(", ")} FROM VALUES " +
            rows.mkString(", ") + s" AS __nvt(${names.mkString(", ")})"
        case None => q
      }
    case _ => q
  }

  // ------------------------------------------------------------------
  // CREATE INDEX name USING {IVFFLAT|HNSW|IVFPQ} ON tbl(col) [options]
  // ------------------------------------------------------------------

  private val CreateIndexRe =
    ("""(?is)^create\s+index\s+(`?\w+`?)\s+using\s+(ivfflat|hnsw|ivfpq)\s+""" +
      """on\s+`?([A-Za-z_]\w*)`?\s*\(\s*`?([A-Za-z_]\w*)`?\s*\)\s*(.*)$""").r
  /** Unquoted reserved words are a parse error in the reference
    * (`vector_index.result`: `create index add using ivfflat` fails,
    * backticked it works). The regex accepts both; reject bare keywords.
    */
  private val ReservedIndexNames =
    Set("add", "index", "key", "primary", "select", "from", "where", "using")
  private val DropIndexRe =
    """(?is)^drop\s+index\s+(\w+)(?:\s+on\s+([A-Za-z_]\w*))?$""".r

  // CREATE [UNIQUE|SPATIAL] INDEX name [USING algo] ON tbl(cols ...) —
  // physical-layout advice for Catalyst, real mo_catalog surface
  private val CreatePlainIndexRe =
    ("""(?is)^create\s+(unique\s+|spatial\s+)?index\s+`?([\w$]+)`?\s*""" +
      """(?:using\s+(\w+)\s+)?on\s+(?:`?\w+`?\.)?`?(\w+)`?\s*\((.*?)\)\s*(.*)$""").r
  // ALTER TABLE t ADD [CONSTRAINT c] [UNIQUE|SPATIAL] [INDEX|KEY] [name]
  // [USING algo] (cols) — the kind-or-keyword guard below keeps ADD
  // COLUMN out of this shape
  private val AlterAddIndexRe =
    ("""(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+add\s+""" +
      """(?:constraint\s+`?([\w$]+)`?\s+)?""" +
      """(?:(unique|spatial)\s+)?(?:(index|key)\s*)?""" +
      """`?([\w$]*)`?\s*(?:using\s+(\w+)\s*)?\((.*?)\)\s*(.*)$""").r
  private val AlterDropIndexRe =
    """(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+drop\s+(?:index|key)\s+`?([\w$]+)`?\s*$""".r

  /** True when `stmt` is secondary-index DDL this engine registers
    * (harness probe: unmatched variants stay physical-layout no-ops).
    */
  def handlesIndexDdl(stmt: String): Boolean = stmt.trim.stripSuffix(";") match {
    case CreatePlainIndexRe(_*) => true
    case AlterAddIndexRe(_, _, kind, kw, _, _, _, _) => kind != null || kw != null
    case AlterDropIndexRe(_*) => true
    case _ => false
  }

  private def indexColNames(colsTxt: String): Seq[String] =
    SqlText.splitTop(colsTxt).map(_.trim
      .replaceAll("(?i)\\s+(asc|desc)$", "")
      .replaceAll("\\(\\s*\\d+\\s*\\)$", "") // prefix length `col(10)`
      .stripPrefix("`").stripSuffix("`").trim).filter(_.nonEmpty)

  private def registerPlain(spark: SparkSession, name0: String, table: String,
      kindOrNull: String, usingOrNull: String, colsTxt: String): DataFrame = {
    import spark.implicits._
    val kind = Option(kindOrNull).map(_.trim.toLowerCase).getOrElse("")
    val cols = indexColNames(colsTxt)
    val name = if (name0.nonEmpty) name0 else cols.headOption.getOrElse("idx")
    val idxType = kind match {
      case "unique" => "UNIQUE"
      case "spatial" => "SPATIAL"
      case _ => "MULTIPLE"
    }
    // SPATIAL defaults to the rtree algo (pkg/sql/compile/util.go)
    val algo = Option(usingOrNull).map(_.toLowerCase)
      .getOrElse(if (kind == "spatial") "rtree" else "")
    val pkCols = state(spark).primaryKeys.get(table.toLowerCase)
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    MoCatalog.registerPlainIndex(spark, name, table, idxType, algo, cols, pkCols)
    if (idxType == "UNIQUE") registerUniqueKey(spark, table, name, cols)
    // nullable flag from the live schema (information_schema.statistics)
    val nullability = try {
      val sch = spark.table(table).schema
      cols.map(c => (c, sch.find(_.name.equalsIgnoreCase(c)).forall(_.nullable)))
    } catch { case _: Exception => cols.map(c => (c, true)) }
    MoCatalog.registerStatIndex(spark, table, name,
      if (idxType == "UNIQUE") 0 else 1, nullability)
    Seq((name, table, "created")).toDF("index_name", "table_name", "status")
  }
  private val AlterReindexRe =
    """(?is)^alter\s+table\s+(?:`?\w+`?\.)?`?(\w+)`?\s+alter\s+reindex\s+`?(\w+)`?\s+(\w+)\s*(.*)$""".r

  // ------------------------------------------------------------------
  // ANN adaptive filter modes — `LIMIT k BY RANK WITH OPTION 'mode=x'`
  // (`vector_ivf_retry.sql`, reference adaptive-mode phases 1-6):
  //   pre/force  filter first, exact distances on the survivors
  //   post       probe the `probe_limit` nearest IVF cells WITHOUT the
  //              filter, take top-k, THEN filter (can return < k rows)
  //   auto       post; if it yields fewer than k rows, retry as pre
  // Plain ANN queries over an indexed table default to post (auto when
  // enable_vector_auto_mode_by_default=1) — vector_ivf_retry phase 6.
  // Entries stay in sync with the live table while centroids freeze at
  // build time (the reference updates the entries table on DML,
  // `pkg/vectorindex/ivfflat/`): the probe assigns live rows to the
  // frozen centroids, a distributed map; at 100 TB this materializes as
  // the incrementally-maintained entries table instead.
  // ------------------------------------------------------------------

  // the query vector may be a quoted literal, or (after the BVT shim)
  // an `array(...)` constructor, optionally CAST to a typed array
  private val AnnQueryRe =
    ("""(?is)^select\s+(.*?)\s+from\s+`?(\w+)`?\s*(?:where\s+(.*?))?\s*order\s+by\s+""" +
      """(l2_distance|l2_distance_sq|cosine_distance|cosine_similarity|inner_product)""" +
      """\s*\(\s*`?(\w+)`?\s*,\s*(['"]\[[^\]]*\]['"]|(?:cast\s*\(\s*)?array\s*\(""" +
      """[^()]*\)(?:\s*as\s+array\s*<\s*\w+\s*>\s*\))?)\s*\)\s*(asc|desc)?""" +
      """\s*limit\s+(\d+)(?:\s+offset\s+(\d+))?\s*$""").r

  private def annModeRewrite(spark: SparkSession, q: String,
      modeOpt: Option[String]): Option[DataFrame] = q match {
    case AnnQueryRe(proj, table, whereOrNull, fn0, vcol, vecArg, dirOrNull, kTxt, offTxt) =>
      try {
        val fn = fn0.toLowerCase
        // the numeric list sits inside [...] or array(...)
        val listTxt = """\[([^\]]*)\]|array\s*\(([^()]*)\)""".r
          .findFirstMatchIn(vecArg)
          .map(m => Option(m.group(1)).getOrElse(m.group(2))).getOrElse("")
        val vecNums = SqlText.splitTop(listTxt).map(_.trim).filter(_.nonEmpty)
        if (vecNums.isEmpty) return None
        val idxOpt = graft.plans.VectorIndex.indexes(spark).collectFirst {
          case ix: graft.plans.VectorIndex.IvfFlat
              if ix.name.toLowerCase.endsWith(s"-${table.toLowerCase}-${vcol.toLowerCase}") => ix
        }
        if (idxOpt.isEmpty && modeOpt.isEmpty) return None // no index, no hint
        val mode = modeOpt.getOrElse(
          if (sysVarValue(spark, "session", "enable_vector_auto_mode_by_default") == "1")
            "auto" else "post")
        val k = kTxt.toInt
        // the native distance kernels want two arrays — cast the query
        // literal to the column's own array type
        val vTyp = spark.table(table).schema(vcol).dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _) => s"array<${et.sql}>"
          case _ => "array<float>"
        }
        val distCol = expr(
          s"$fn0(`$vcol`, cast(array(${vecNums.mkString(", ")}) as $vTyp))")
        val ord0 =
          if (dirOrNull != null && dirOrNull.equalsIgnoreCase("desc")) col("__dist").desc
          else col("__dist").asc
        // deterministic tie-break on the primary key — ties are common
        // in the goldens ([1,0,0] vs [0,1,0] to origin) and the
        // reference resolves them in insertion (= pk) order
        val pkOrd = state(spark).primaryKeys.getOrElse(table, spark.table(table).columns.head)
          .split(",").map(c => col(s"`${c.trim}`").asc).toIndexedSeq
        val off = Option(offTxt).map(_.toInt).getOrElse(0)
        // the (off, off+k] slice as a top-k (sort + offset + limit), not
        // a row_number() over an unpartitioned window, which would pull
        // every candidate row into one task
        def ranked(df: DataFrame): DataFrame = df
          .withColumn("__dist", distCol)
          .orderBy(ord0 +: pkOrd: _*).offset(off).limit(k)
        def finish(df: DataFrame): DataFrame = {
          val items = SqlText.splitTop(proj).map(_.trim)
          val out = df.orderBy(ord0 +: pkOrd: _*)
          if (items == Seq("*")) out.select(
            spark.table(table).columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
          else out.selectExpr(items: _*)
        }
        def pre: DataFrame = {
          val base = Option(whereOrNull).map(_.trim).filter(_.nonEmpty)
            .foldLeft(spark.table(table))((d, c) => d.where(c))
          finish(ranked(base.filter(col(vcol).isNotNull)))
        }
        idxOpt match {
          case Some(idx) if mode == "post" || mode == "auto" || mode == "include" =>
            // the approximate modes all read the probed cells and apply
            // the filter to EVERY row in them before the top-k slice
            // (include_rounds: post with both cells probed recovers the
            // filtered top-k; vector_ivf_retry 5.1: post with nprobe=1
            // returns empty when the probed cell has no matching row).
            //   include  widens the probe until k matching rows exist
            //   auto     retries as pre when post comes up short
            val nprobe0 = sysVarValue(spark, "session", "probe_limit")
              .replaceAll("'", "").toInt
            val metric = if (fn.startsWith("cosine")) "cosine" else "l2"
            val qv = vecNums.map(_.toDouble).toArray
            val cents = idx.centroids
            val assign = udf((v: Seq[Double]) =>
              graft.operators.Centroids.nearest(cents, v.toArray))
            val assigned = spark.table(table).filter(col(vcol).isNotNull)
              .withColumn("__ivf_cell", assign(col(s"`$vcol`").cast("array<double>")))
            def candIn(n: Int): DataFrame = {
              val cells = graft.operators.Centroids.rank(cents, qv, n, metric).toSet
              Option(whereOrNull).map(_.trim).filter(_.nonEmpty)
                .foldLeft(assigned.filter(
                  col("__ivf_cell").isin(cells.toSeq: _*)))((d, c) => d.where(c))
            }
            var n = math.max(1, nprobe0)
            var cand = candIn(n)
            if (mode == "include")
              while (n < idx.nlist && cand.count() < off + k) {
                n += 1
                cand = candIn(n)
              }
            val res = ranked(cand)
            if (mode == "auto" && res.count() < k) Some(pre)
            else Some(finish(res))
          case _ => Some(pre) // pre/force, or hinted query with no index
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  /** Build and register one vector index of kind `method` (CREATE INDEX
    * and ALTER REINDEX): the DDL options map onto each kind's build
    * parameters. IVF-flat's list count is clamped to [1, `nRows`]: more
    * centroids than rows would break the kmeans.
    */
  private def buildAnnIndex(method: String, key: String, df: DataFrame,
      pk: String, vecCol: String, opts: Map[String, String],
      nRows: Long): graft.plans.VectorIndex.Index = {
    def iOpt(k: String, dflt: Int) = opts.get(k).map(_.toInt).getOrElse(dflt)
    def clamp(v: Int): Int = math.max(1, math.min(v, nRows).toInt)
    method match {
      case "ivfflat" =>
        graft.plans.VectorIndex.ivfFlat(key, df, vecCol,
          nlist = clamp(iOpt("lists", 16)), nprobe = iOpt("nprobe", 4))
      case "hnsw" =>
        graft.plans.VectorIndex.hnsw(key, df, pk, vecCol,
          m = iOpt("m", 16), efConstruction = iOpt("ef_construction", 100),
          efSearch = iOpt("ef_search", 64))
      case _ =>
        graft.plans.VectorIndex.ivfPq(key, df, pk, vecCol,
          nlist = iOpt("lists", 16), mSub = iOpt("m", 8),
          codebookSize = iOpt("codebook", 16), nprobe = iOpt("nprobe", 8))
    }
  }

  /** An IVF-flat index's centroids (the mo_catalog entries view assigns
    * by them); other kinds have none.
    */
  private def ivfCentroids(ix: graft.plans.VectorIndex.Index): Array[Array[Double]] =
    ix match {
      case f: graft.plans.VectorIndex.IvfFlat => f.centroids
      case _ => Array.empty
    }

  /** The reference's vector-index DDL (`create index ... using ivfflat on
    * t(col) lists=N op_type "vector_l2_ops"`, BVT
    * `cases/vector/vector_ivfflat_*.sql`; HNSW params `m/ef_construction/
    * ef_search`, `pkg/vectorindex/hnsw/`). Builds + registers the index
    * through the one registry the ANN planner rule probes
    * ([[graft.plans.AnnRule]]), so a subsequent plain
    * `ORDER BY l2_distance(col, array(...)) LIMIT k` takes the index —
    * exactly the reference's `ivf_create` once / `ivf_search` per query
    * split (`table_function.go:180-201`). `include(...)` carry columns
    * are accepted and ignored: the probe here always joins back to the
    * source row, so every column is available. Metric comes from the
    * QUERY (the rule matches l2/cosine sorts); `op_type` is validated
    * but not stored.
    */
  private def indexDdlRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    import spark.implicits._
    q match {
      case CreateIndexRe(nameRaw, method, table, vecCol, optsTxt) =>
        // bare reserved words are a parse error in the reference;
        // backticked they are legal identifiers (vector_index.result)
        if (!nameRaw.startsWith("`") && ReservedIndexNames(nameRaw.toLowerCase))
          throw new IllegalArgumentException(
            s"SQL parser error: syntax error near '$nameRaw'")
        val name = nameRaw.stripPrefix("`").stripSuffix("`")
        // HNSW creation is gated on the session experiment flag (every
        // BVT file sets it; `vector_index_plugin_smoke.result:8` expects
        // the un-gated create to fail with exactly this message)
        if (method.equalsIgnoreCase("hnsw") &&
          sysVarValue(spark, "session", "experimental_hnsw_index") != "1")
          throw new IllegalStateException(
            "internal error: experimental_hnsw_index is not enabled")
        if (method.equalsIgnoreCase("hnsw") &&
          """(?i)include\s*\(""".r.findFirstIn(optsTxt).isDefined)
          throw new UnsupportedOperationException(
            "not supported: HNSW index does not support INCLUDE columns")
        val opts = parseIndexOpts(optsTxt)
        val df0 = spark.table(table)
        require(df0.columns.contains(vecCol), s"no column $vecCol on $table")
        // quantization: value whitelist + the no-upcast width rule against
        // the column's DECLARED kind (narrow kinds from the DDL registry)
        val baseKind = state(spark).vecCols.get(table.toLowerCase)
          .flatMap(_.find(_._1.equalsIgnoreCase(vecCol)).map(_._2))
          .getOrElse(df0.schema(vecCol).dataType match {
            case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, _) => "f64"
            case _ => "f32"
          })
        validateQuantization(optsTxt, method.toLowerCase,
          graft.functions.NarrowVec.widthOf(baseKind), baseKind)
        // the reference rejects non-vector columns; NULL vectors are
        // simply absent from the index
        val narrowElems = df0.schema(vecCol).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType |
            org.apache.spark.sql.types.DoubleType, _) => false
          // narrow vector kinds (vecint8 → tinyint, vecuint8 → smallint):
          // legal index DDL (vector_ivf_quantization.sql); the build
          // widens to float, the probe falls back to the exact scan
          // (plan-matching keys on the unprojected table plan)
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType, _) => true
          case other => throw new IllegalArgumentException(
            s"not supported: vector index on column type ${other.simpleString}")
        }
        // an empty corpus (or all-NULL vector column) builds no cells;
        // queries simply keep the exact plan (reference builds an empty
        // index and scans, vector_index.result:97-98,183-186). More
        // centroids than rows would also break the kmeans — clamp.
        // NOTE: the index registries match user queries by the TABLE's
        // canonicalized plan, so the unfiltered df0 is what we register;
        // null-vector rows are dropped inside the build itself.
        val df =
          if (narrowElems) df0.withColumn(vecCol, col(vecCol).cast("array<float>"))
          else df0
        def moRegister(centroids: Array[Array[Double]]): Unit = {
          val includeCols = """(?i)include\s*\(([^)]*)\)""".r
            .findFirstMatchIn(optsTxt).toSeq
            .flatMap(mm => SqlText.splitTop(mm.group(1)).map(
              _.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
          MoCatalog.registerVectorIndex(spark, name, table, method.toLowerCase,
            vecCol, state(spark).primaryKeys.getOrElse(table, df.columns.head)
              .split(",").map(_.trim).toSeq,
            includeCols, centroids)
        }
        val nRows = df0.filter(col(vecCol).isNotNull).count()
        if (nRows == 0) {
          // empty corpus: no cells to build, but the index (and its live
          // entries view) still registers — rows inserted later surface
          // through it (vector_ivfflat_include_dml_sync creates the
          // index before the first INSERT)
          moRegister(Array.empty)
          return Some(Seq((name, table, vecCol, method.toLowerCase, "created"))
            .toDF("index_name", "table_name", "column_name", "method", "status"))
        }
        val pk = state(spark).primaryKeys.getOrElse(table, df.columns.head)
        val key = s"$name-$table-$vecCol"
        // one name per table (the reference errors on re-use,
        // vector_index.result: "duplicate key name 'idx01'")
        val prefix = s"$name-$table-"
        if (graft.plans.VectorIndex.indexes(spark).map(_.name).exists(_.startsWith(prefix)))
          throw new IllegalArgumentException(s"duplicate key name '$name'")
        // surface the index in the mo_catalog slice (+ the live entries
        // view for ivfflat); include(...) carry columns come from the DDL
        moRegister(ivfCentroids(
          buildAnnIndex(method.toLowerCase, key, df, pk, vecCol, opts, nRows)))
        Some(Seq((name, table, vecCol, method.toLowerCase, "created"))
          .toDF("index_name", "table_name", "column_name", "method", "status"))
      case AlterReindexRe(table, name, method0, optsTxt) =>
        val method = method0.toLowerCase
        if (!Set("ivfflat", "hnsw", "ivfpq").contains(method))
          throw new IllegalArgumentException(
            s"not supported: ALTER REINDEX method $method0")
        // per-method option whitelist (vector_reindex_options.result:
        // hnsw params on an ivfflat index — and vice versa — error)
        val allowed: Set[String] = method match {
          case "ivfflat" => Set("lists", "nprobe", "kmeans_train_percent",
            "kmeans_max_iteration", "quantization", "op_type")
          case "hnsw" => Set("m", "ef_construction", "ef_search",
            "max_index_capacity", "op_type", "quantization")
          case _ => Set("lists", "m", "codebook", "nprobe", "op_type")
        }
        """(?i)\b(\w+)\s*=""".r.findAllMatchIn(optsTxt).foreach { om =>
          val k = om.group(1).toLowerCase
          if (!allowed.contains(k))
            throw new IllegalArgumentException(
              s"""not supported: ALTER REINDEX option "$k" on a $method index""")
        }
        val prefix = s"$name-$table-"
        val existing =
          graft.plans.VectorIndex.indexes(spark).map(_.name)
            .find(_.startsWith(prefix)).getOrElse(throw new IllegalArgumentException(
              s"invalid input: index $name does not exist on $table"))
        val vecCol = existing.stripPrefix(prefix)
        val df = spark.table(table)
        val baseKind = state(spark).vecCols.get(table.toLowerCase)
          .flatMap(_.find(_._1.equalsIgnoreCase(vecCol)).map(_._2))
          .getOrElse(df.schema(vecCol).dataType match {
            case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, _) => "f64"
            case _ => "f32"
          })
        validateQuantization(optsTxt, method,
          graft.functions.NarrowVec.widthOf(baseKind), baseKind)
        val opts = parseIndexOpts(optsTxt)
        val nRows = df.filter(col(vecCol).isNotNull).count()
        // rebuild in place: drop, then re-register under the same key —
        // the reference's ALTER REINDEX is exactly a rebuild with the
        // merged option set (`alter_table.go` reindex path)
        graft.plans.VectorIndex.drop(spark, existing)
        val pk = state(spark).primaryKeys.getOrElse(table, df.columns.head)
        val centroids =
          if (nRows > 0) ivfCentroids(buildAnnIndex(method, existing, df, pk, vecCol, opts, nRows))
          else Array.empty[Array[Double]]
        // the live entries view assigns rows by the REBUILT centroids,
        // keeping the include(...) columns of the CREATE
        MoCatalog.registerVectorIndex(spark, name, table, method, vecCol,
          pk.split(",").map(_.trim).toSeq, MoCatalog.vectorIndexIncludes(spark, name, table),
          centroids)
        Some(Seq((name, table, method, "rebuilt"))
          .toDF("index_name", "table_name", "method", "status"))
      case CreatePlainIndexRe(kindOrNull, name, usingOrNull, table, colsTxt, _) =>
        if (!spark.catalog.tableExists(table)) return None
        Some(registerPlain(spark, name, table, kindOrNull, usingOrNull, colsTxt))
      case AlterAddIndexRe(table, constrOrNull, kindOrNull, kwOrNull,
          nameOrEmpty, usingOrNull, colsTxt, _)
          if kindOrNull != null || kwOrNull != null =>
        if (!spark.catalog.tableExists(table)) return None
        val nm =
          if (nameOrEmpty.nonEmpty) nameOrEmpty
          else Option(constrOrNull).getOrElse("")
        Some(registerPlain(spark, nm, table, kindOrNull, usingOrNull, colsTxt))
      case AlterDropIndexRe(table, name) =>
        if (fkNeededIndexNames(spark, table).exists(_.equalsIgnoreCase(name)))
          throw new IllegalStateException(
            s"Cannot drop index '$name': needed in a foreign key constraint")
        MoCatalog.dropIndex(spark, name, table)
        dropUniqueKey(spark, table, name)
        Some(Seq((name, "dropped")).toDF("index_name", "status"))
      case DropIndexRe(name, tableOrNull) =>
        Option(tableOrNull).foreach { t =>
          if (fkNeededIndexNames(spark, t).exists(_.equalsIgnoreCase(name)))
            throw new IllegalStateException(
              s"Cannot drop index '$name': needed in a foreign key constraint")
        }
        val table = Option(tableOrNull)
        val prefix = table.map(t => s"$name-$t-").getOrElse(s"$name-")
        val dropped =
          graft.plans.VectorIndex.indexes(spark).map(_.name)
            .filter(n => n == name || n.startsWith(prefix)).distinct
        dropped.foreach { n =>
          graft.plans.VectorIndex.drop(spark, n)
          n.split("-") match {
            case Array(i, t, _*) => MoCatalog.dropIndex(spark, i, t)
            case _ =>
          }
        }
        // the catalog rows drop even when no physical index was built
        // (index created on an empty corpus registers metadata only)
        Option(tableOrNull) match {
          case Some(t) =>
            MoCatalog.dropIndex(spark, name, t)
            dropUniqueKey(spark, t, name)
          case None => MoCatalog.dropIndexByName(spark, name)
        }
        // fulltext indexes drop by the same statement (fulltext1.sql:11
        // `drop index fdx_01 on articles` then recreates the same columns)
        var ftDropped = false
        val ftIdx = state(spark).ftIndexCols
        table.foreach { t =>
          val key = t.toLowerCase
          ftIdx.get(key).foreach { idxs =>
            val kept = idxs.filterNot(_._1.equalsIgnoreCase(name))
            if (kept.size != idxs.size) { ftDropped = true; ftIdx.put(key, kept) }
          }
        }
        Some(Seq((name, if (dropped.nonEmpty || ftDropped) "dropped" else "not found"))
          .toDF("index_name", "status"))
      case _ => None
    }
  }

  /** `lists=2 m=16 ef_construction=100 op_type "vector_l2_ops"
    * include(a, b)` → key/value map (include list and op_type validated,
    * then dropped).
    */
  private def parseIndexOpts(txt: String): Map[String, String] = {
    // both `lists=2` and the bare `LISTS 2` form appear in the corpus
    val kv = """(?i)(\w+)\s*=?\s*(\d+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
    """(?i)op_type\s*=?\s*["']?(\w+)["']?""".r.findFirstMatchIn(txt).foreach { m =>
      val ot = m.group(1).toLowerCase
      // the reference's metric registry (`pkg/vectorindex/metric`):
      // l2 / l1 / cosine / ip are real ops, anything else is an error
      // (vector_reindex_options.result: 'vector_bogus_ops',
      // vector_ivf_mode_advanced.result: 'vector_inner_product')
      if (!Set("vector_l2_ops", "vector_l1_ops", "vector_cosine_ops",
        "vector_ip_ops").contains(ot))
        throw new IllegalArgumentException(
          s"invalid input: invalid op_type: '$ot'")
    }
    validateQuantization(txt, method = "ivfflat", baseWidth = -1)
    kv
  }

  /** QUANTIZATION 'x' option: value whitelist + the no-upcast width rule
    * (`vector_ivf_quant_upcast.result`: a 4-byte quantization over a
    * 1-byte vecint8 column errors). `baseWidth` < 0 skips the width
    * check (value validation only).
    */
  private def validateQuantization(txt: String, method: String,
      baseWidth: Int, baseKind: String = "f32"): Option[String] = {
    """(?i)quantization\s*=?\s*["']([^"']*)["']""".r.findFirstMatchIn(txt).map { m =>
      val qv = m.group(1).toLowerCase
      if (!Set("float32", "float16", "bf16", "int8", "uint8").contains(qv))
        throw new IllegalArgumentException(
          s"not supported: $method: unsupported quantization '${m.group(1)}' " +
            "(supported: 'float32', 'float16', 'bf16', 'int8', 'uint8')")
      val qw = graft.functions.NarrowVec.widthOf(qv)
      if (baseWidth > 0 && qw > baseWidth)
        throw new IllegalArgumentException(
          s"not supported: $method QUANTIZATION '${m.group(1)}' ($qw bytes/element) " +
            s"cannot upcast base column VEC${baseKind.toUpperCase} ($baseWidth bytes/element); " +
            "use a quantization of equal or smaller width, or omit it to keep the base type")
      qv
    }
  }

  // ------------------------------------------------------------------
  // interval(ts, N, unit) [sliding(M, unit)] [fill(mode[, value])]
  // ------------------------------------------------------------------

  private val IntervalRe =
    """(?is)^\s*select\s+(.*?)\s+from\s+(.*?)\s*\binterval\s*\(\s*([A-Za-z_][\w.]*)\s*,\s*(\d+)\s*,\s*(\w+)\s*\)\s*(.*)$""".r
  private val SlidingRe = """(?is)^sliding\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*(.*)$""".r
  private val FillRe =
    """(?is)^fill\s*\(\s*(prev|next|none|null|linear|value\s*,\s*(-?[\d.]+))\s*\)\s*(.*)$""".r

  private def unitSeconds(u: String): Long = u.toLowerCase match {
    case "second" | "seconds" => 1L
    case "minute" | "minutes" => 60L
    case "hour" | "hours" => 3600L
    case "day" | "days" => 86400L
    case other => throw new IllegalArgumentException(
      s"interval(): unsupported unit '$other' (second|minute|hour|day)")
  }

  private def intervalRewrite(spark: SparkSession, q: String): Option[DataFrame] =
    IntervalRe.findFirstMatchIn(q).map { m =>
      val (selectList, fromPart0, tsCol, n, unit) =
        (m.group(1), m.group(2), m.group(3), m.group(4).toLong, m.group(5))
      // `FROM t GROUP BY k interval(ts, …)`: extra grouping keys compose
      // with the window group (optimizer/column_pruning.sql `group by p
      // interval(…)`); fills then run per key partition
      val gbM = """(?is)^(.*?)\s+group\s+by\s+(.+)$""".r.findFirstMatchIn(fromPart0)
      val fromPart = gbM.map(_.group(1)).getOrElse(fromPart0)
      val extraKeys: Seq[String] =
        gbM.map(g => SqlText.splitTop(g.group(2)).map(_.trim)).getOrElse(Nil)
      var rest = m.group(6).trim
      var widthSec = n * unitSeconds(unit)
      var stepSec = widthSec
      rest match {
        case SlidingRe(sn, su, tail) =>
          stepSec = sn.toLong * unitSeconds(su)
          rest = tail.trim
        case _ =>
      }
      var fill: TimeWindow.FillMode = TimeWindow.FillNone
      rest match {
        case FillRe(mode, value, tail) =>
          fill = mode.toLowerCase.takeWhile(_.isLetter) match {
            case "prev" => TimeWindow.FillPrev
            case "next" => TimeWindow.FillNext
            case "none" => TimeWindow.FillNone
            case "null" => TimeWindow.FillNull
            case "linear" => TimeWindow.FillLinear
            case "value" => TimeWindow.FillValue(value.toDouble)
          }
          rest = tail.trim
        case _ =>
      }

      // rewrite the select list onto the standard window() group:
      // _wstart/_wend come from the window struct; everything else is a
      // grouped aggregate and passes through verbatim
      val items = SqlText.splitTop(selectList)
      // un-aliased aggregates get an explicit alias equal to their item
      // text — Spark's natural output name can differ from it
      // (approx_percentile(v, 0) surfaces as approx_percentile(v, 0,
      // 10000)), which broke the final by-name projection
      val mapped = items.map { it =>
        val lower = it.toLowerCase
        if (lower == "_wstart") "window.start AS _wstart"
        else if (lower == "_wend") "window.end AS _wend"
        else {
          // `_wstart AS a` / `_wend AS d` (and any embedded use): the
          // pseudo-columns resolve to the window struct's bounds
          val it2 = it.replaceAll("(?i)\\b_wstart\\b", "window.start")
            .replaceAll("(?i)\\b_wend\\b", "window.end")
          if (itemName(it) != it.trim) it2 // already aliased
          else s"$it2 AS `${it.trim.replace("`", "")}`"
        }
      }
      // always carry _wstart internally: the fill stage needs the spine.
      // Repeated select items (e.g. `_wstart, ..., _wstart`) collapse to
      // one grouped column — the final projection re-duplicates by name
      val withStart =
        (if (items.exists(_.equalsIgnoreCase("_wstart"))) mapped
         else "window.start AS _wstart" +: mapped).distinct
      // startTime aligns the window grid to the reference's Datetime
      // origin (0001-01-01) — see TimeWindow.moOffsetSec
      // sliding grids anchor at floor_WIDTH(min ts) on the MO-origin
      // width grid and step by the slide from there — 365d/200d windows
      // start at a 365-day-aligned point (time_window.result:204 block's
      // 2020-08-29 grid), NOT on the 200-day grid. Tumbling keeps the
      // width(=step) alignment. The min/max scan is one small agg job.
      val bounds =
        if (stepSec >= widthSec) None
        else {
          val b = spark.sql(s"SELECT min($tsCol), max($tsCol) FROM $fromPart").head
          if (b.isNullAt(0)) None
          else Some((b.getTimestamp(0).getTime / 1000, b.getTimestamp(1).getTime / 1000))
        }
      val offW = TimeWindow.moOffsetSec(widthSec)
      val anchor = bounds.map { case (mnE, _) =>
        Math.floorDiv(mnE - offW, widthSec) * widthSec + offW
      }
      val offsetSec = anchor
        .map(a => ((a % stepSec) + stepSec) % stepSec)
        .getOrElse(TimeWindow.moOffsetSec(stepSec))
      val groupExprs = (extraKeys :+
        s"window($tsCol, '$widthSec seconds', '$stepSec seconds', '$offsetSec seconds')")
        .mkString(", ")
      val grouped = spark.sql(
        s"""SELECT ${withStart.mkString(", ")}
           |FROM $fromPart
           |GROUP BY $groupExprs""".stripMargin)

      val keyNames = extraKeys.map(_.stripPrefix("`").stripSuffix("`"))
        .filter(k => grouped.columns.exists(_.equalsIgnoreCase(k)))
      // SLIDING emits the DENSE aligned grid: every slide-aligned window
      // start s with s + width > min(ts) and s <= max(ts), including
      // interior EMPTY windows as NULL rows even without fill
      // (time_window.result sliding goldens). Tumbling stays sparse —
      // data-bearing windows only (time_window.result:272-281 keeps the
      // 03:30→12:00 gap absent under fill(prev)).
      // output stays SPARSE — a window row exists iff at least one
      // source row falls in it (aggregates may still be NULL when the
      // aggregated column is NULL for every row in the window). The one
      // sliding-specific rule: windows STARTING before the anchor are
      // not emitted even when they overlap data
      // (optimizer/column_pruning: 10s/5s drops the 23:59:55 start).
      val slid = anchor match {
        case Some(a) =>
          grouped.filter(col("_wstart") >= lit(a).cast("timestamp"))
        case None => grouped
      }
      val outCols = items.map(itemName)
      // the reference's interval() emits ONLY data-bearing windows —
      // no interior gap expansion even under fill()
      // (window/time_window.result:272-281: the 03:30→12:00 gap stays
      // absent in fill(prev)); fill() patches NULL aggregate cells
      // across the emitted sparse rows instead. Dense gap-filling is
      // the [[TimeWindow.gapFill]] DataFrame operator.
      val filled =
        if (fill == TimeWindow.FillNone || fill == TimeWindow.FillNull) slid
        else {
          val valueCols = slid.columns
            .filterNot(c => c == "_wstart" || c == "_wend" ||
              keyNames.exists(_.equalsIgnoreCase(c))).toSeq
          val pKeys =
            if (keyNames.isEmpty) lit(1) :: Nil else keyNames.map(col)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(pKeys: _*).orderBy(col("_wstart"))
          var d = slid
          for (vc <- valueCols) {
            val c = col(s"`$vc`")
            val patched = fill match {
              case TimeWindow.FillPrev =>
                coalesce(c, last(c, ignoreNulls = true)
                  .over(w.rowsBetween(Long.MinValue, 0)))
              case TimeWindow.FillNext =>
                coalesce(c, first(c, ignoreNulls = true)
                  .over(w.rowsBetween(0, Long.MaxValue)))
              case TimeWindow.FillValue(v) => coalesce(c, lit(v).cast(
                d.schema(vc).dataType))
              case TimeWindow.FillLinear =>
                // the reference's linear fill is the NEIGHBOR MIDPOINT,
                // constant across a multi-row gap (time_window.result
                // block 182: two missing rows both get (prev+next)/2),
                // rounded half-away for integral columns
                val pv = last(c, ignoreNulls = true)
                  .over(w.rowsBetween(Long.MinValue, -1))
                val nv = first(c, ignoreNulls = true)
                  .over(w.rowsBetween(1, Long.MaxValue))
                val mid = (pv.cast("double") + nv.cast("double")) / 2
                import org.apache.spark.sql.types._
                val fillV = d.schema(vc).dataType match {
                  case ByteType | ShortType | IntegerType | LongType =>
                    round(mid, 0)
                  case _ => mid
                }
                coalesce(c, fillV.cast(d.schema(vc).dataType))
              case _ => c
            }
            d = d.withColumn(vc, patched)
          }
          d
        }
      val projected = filled.select(
        outCols.map(n => col(s"`${n.replace("`", "")}`")): _*)
      applySuffix(spark, projected, rest)
    }

  /** Output name of a select-list item (alias, or Spark's natural name). */
  private def itemName(item: String): String = {
    val AliasRe = """(?is)^.*\s+as\s+([A-Za-z_]\w*)\s*$""".r
    item match {
      case AliasRe(a) => a
      case _ => item.trim
    }
  }

  /** Apply a trailing `ORDER BY ... / LIMIT ...` suffix, if present, by
    * round-tripping through a temp view (keeps this layer parser-free).
    */
  private def applySuffix(spark: SparkSession, df: DataFrame, suffix: String): DataFrame =
    if (suffix.isEmpty) df
    else overView(spark, "", "_graft_sql_", df)(v => spark.sql(s"SELECT * FROM $v $suffix"))

  // ------------------------------------------------------------------
  // sample(expr, N rows | K percent)
  // ------------------------------------------------------------------

  private val SampleRe =
    """(?is)^\s*select\s+(.*?)\s+from\s+(.*)$""".r
  private val SampleCallRe =
    ("""(?is)sample\s*\(\s*(.+?)\s*,\s*(\d+(?:\.\d+)?)\s+(rows?|percent)""" +
      """\s*(?:,\s*'(?:row|block)'\s*)?\)(?:\s+as\s+([A-Za-z_]\w*))?""").r
  private val AggFnRe =
    """(?i)\b(max|min|sum|count|avg|group_concat|stddev\w*|var\w*)\s*\(""".r

  /** Deterministic per-group sample with the reference's surface rules
    * (`pkg/sql/colexec/sample/`, goldens `sample/sample.result`,
    * `sample/sample_func.result`):
    *  - the output column keeps the SOURCE column's name (so
    *    `ORDER BY col2` after `sample(col2, ...)` resolves — and even an
    *    aliased sample lets ORDER BY use the source name);
    *  - `sample(c1, c2, N rows)` / `sample(*, ...)` samples each column
    *    independently and keeps the UNION of the per-column picks
    *    (s_t2 golden: 2-rows over 4 rows → 3 survivors);
    *  - rows mode: N in [1, 11000]; a group with only NULLs yields one
    *    NULL row (single-column only). percent mode: K in [0, 100];
    *    all-NULL groups vanish, 0 percent is empty;
    *  - rejects: two sample calls, sample mixed with aggregates, a
    *    sampled GROUP BY column, multi-column with alias, sample outside
    *    the select list — each with the reference's message;
    *  - a sample inside a subquery rewrites innermost-first.
    * The reference's reservoir pool is random; this surface determinizes
    * it by ranking on md5 of the sampled value so the same rows come
    * back on any engine/partitioning (what an oracle — and a
    * reproducible training-data pipeline — needs).
    */
  private def sampleRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    val call = SampleCallRe.findFirstMatchIn(q)
    if (call.isEmpty) return None
    val c = call.get

    // innermost-first: a sample inside (select ...) rewrites that
    // subquery into a temp view, then re-runs the enclosing query
    locally {
      var best: Option[(Int, Int)] = None // (open, close) smallest span
      var i = 0
      while (i < q.length) {
        if (q(i) == '(') SqlText.balancedSpan(q, i).foreach { case (inner, close) =>
          if (i < c.start && c.end <= close &&
            """(?is)^\s*select\b""".r.findFirstIn(inner).isDefined &&
            best.forall { case (o2, c2) => close - i < c2 - o2 })
            best = Some((i, close))
        }
        i += 1
      }
      best.foreach { case (open, close) =>
        val inner = q.substring(open + 1, close - 1)
        return Some(overView(spark, q, "_graft_sql_", sql(spark, inner))(v => sql(spark,
          q.substring(0, open + 1) + s"SELECT * FROM $v" + q.substring(close - 1))))
      }
    }

    val expr0 = c.group(1)
    val amount = c.group(2)
    val kind = c.group(3).toLowerCase
    val alias = Option(c.group(4))

    if (kind == "percent" && (amount.toDouble < 0 || amount.toDouble > 100))
      throw new IllegalArgumentException(
        "SQL syntax error: sample(expr list, K percent) requires K between 0.00 and 100.00")
    if (kind != "percent" && (amount.toLong < 1 || amount.toLong > 11000))
      throw new IllegalArgumentException(
        "SQL syntax error: sample(expr list, N rows) requires N between 1 and 11000.")

    val m = SampleRe.findFirstMatchIn(q).getOrElse(
      throw new IllegalArgumentException("sample(): unsupported query shape"))
    val selectList = m.group(1)
    var fromRest = m.group(2).trim
    // the select list must contain the call — a sample in WHERE/HAVING
    // is the reference's unimplemented expression position
    if (SampleCallRe.findFirstIn(selectList).isEmpty)
      throw new UnsupportedOperationException("expr 'sample' is not yet implemented")
    if (SampleCallRe.findAllMatchIn(selectList).size > 1)
      throw new IllegalArgumentException(
        "SQL syntax error: cannot use more than one sample function at select clause.")
    if (AggFnRe.findFirstIn(selectList).isDefined)
      throw new IllegalArgumentException(
        "SQL syntax error: cannot fixed non-scalar function and scalar function in the same query")

    // peel trailing ORDER BY / LIMIT, then GROUP BY, off the FROM tail
    var suffix = ""
    val OrderRe = """(?is)^(.*?)\s+(order\s+by\s+.*)$""".r
    fromRest match {
      case OrderRe(pre, tail) => fromRest = pre.trim; suffix = tail.trim
      case _ =>
    }
    var groupCols = Seq.empty[String]
    val GroupRe = """(?is)^(.*?)\s+group\s+by\s+(.*)$""".r
    fromRest match {
      case GroupRe(pre, cols) =>
        fromRest = pre.trim; groupCols = SqlText.splitTop(cols).map(_.trim)
      case _ =>
    }

    val exprs: Seq[String] =
      if (expr0.trim == "*") spark.sql(s"SELECT * FROM $fromRest LIMIT 0").columns.toSeq
      else SqlText.splitTop(expr0).map(_.trim)
    if (exprs.sizeIs > 1 && alias.isDefined)
      throw new IllegalArgumentException(
        "SQL syntax error: sample multi columns cannot have alias")
    if (exprs.exists(e => groupCols.exists(_.equalsIgnoreCase(e))))
      throw new IllegalArgumentException(
        "internal error: cannot sample the group by column.")

    val ident = """^[A-Za-z_][\w]*$""".r
    // output names: the SOURCE column name for identifiers (reference
    // headers), the alias / sample_col for computed expressions
    val names = exprs.zipWithIndex.map { case (e, i) =>
      val base = if (ident.findFirstIn(e).isDefined) e.split('.').last
        else alias.getOrElse(if (exprs.sizeIs == 1) "sample_col" else s"sample_col_$i")
      if (exprs.sizeIs == 1) alias.getOrElse(base) else base
    }

    val others = SqlText.splitTop(selectList).filterNot(SampleCallRe.findFirstIn(_).isDefined)
    val partBy =
      if (groupCols.nonEmpty) s"PARTITION BY ${groupCols.mkString(", ")}"
      else ""
    // the sampled expressions carry internal `_gs$i` names inside the
    // subquery — a carried plain column may share the sample output's
    // final name (`select c2, sample(c2, ...)`, sample_func golden),
    // which must not make the keep-predicate references ambiguous. The
    // outer projection aliases them back (duplicate OUTPUT names are
    // fine; only references need uniqueness).
    def keepOne(i: Int): String = {
      kind match {
        case "percent" =>
          s"(_nn$i > 0 AND _gs$i IS NOT NULL AND _rn$i <= ceil(_nn$i * $amount / 100.0))"
        case _ if exprs.sizeIs == 1 =>
          s"(_nn$i > 0 AND _gs$i IS NOT NULL AND _rn$i <= $amount) OR (_nn$i = 0 AND _rn$i = 1)"
        case _ =>
          s"(_nn$i > 0 AND _gs$i IS NOT NULL AND _rn$i <= $amount)"
      }
    }
    val keep = exprs.indices.map(i => s"(${keepOne(i)})").mkString(" OR ")
    val sampleProj = exprs.indices.map(i => s"(${exprs(i)}) AS _gs$i")
    val rankCols = exprs.indices.flatMap { i =>
      val e = exprs(i)
      Seq(
        s"""row_number() OVER ($partBy
           |    ORDER BY (($e) IS NULL), md5(CAST(($e) AS STRING))) AS _rn$i""".stripMargin,
        s"count(($e)) OVER ($partBy) AS _nn$i")
    }
    val proj =
      (others ++ exprs.indices.map(i => s"_gs$i AS `${names(i)}`")).mkString(", ")
    val inner =
      s"""SELECT ${(others ++ sampleProj ++ rankCols).mkString(", ")}
         |FROM $fromRest""".stripMargin
    val sampled = spark.sql(
      s"SELECT $proj FROM (\n$inner\n) WHERE $keep")
    // ORDER BY may use the SOURCE column name even when the sample is
    // aliased (sample02 golden: `as newColumn ... order by col2`)
    val fixedSuffix = (exprs.lazyZip(names)).foldLeft(suffix) { case (sfx, (e, n)) =>
      if (e != n && ident.findFirstIn(e).isDefined)
        sfx.replaceAll(s"(?i)\\b${java.util.regex.Pattern.quote(e)}\\b",
          java.util.regex.Matcher.quoteReplacement(n))
      else sfx
    }
    Some(applySuffix(spark, sampled, fixedSuffix))
  }

  // ------------------------------------------------------------------
  // MATCH(col) AGAINST('q' [IN ... MODE]) — scored, projection + WHERE
  // ------------------------------------------------------------------

  private val MatchRe =
    """(?is)match\s*\(\s*([A-Za-z_][\w.]*(?:\s*,\s*[A-Za-z_][\w.]*)*)\s*\)\s*against\s*\(\s*'([^']*)'\s*(in\s+boolean\s+mode|in\s+natural\s+language\s+mode)?\s*\)""".r
  private val FromRe =
    """(?is)\bfrom\s+([A-Za-z_]\w*)(\s+(?:as\s+)?(?!where\b|group\b|order\b|limit\b|left\b|right\b|inner\b|join\b|on\b)([A-Za-z_]\w*))?""".r

  /** Split on top-level `UNION [ALL|DISTINCT]` / `INTERSECT` / `EXCEPT`
    * (outside quotes and parens): returns alternating segment/separator
    * pieces, segments at even indexes.
    */
  private def splitSetOps(q: String): Seq[String] =
    SqlText.splitTopAt(q, """(?i)(union|intersect|except|minus)(\s+(all|distinct))?\b""".r)

  /** Rewrites every MATCH…AGAINST into a reference to a LEFT-JOINed
    * score table computed by [[Bm25.matchAgainst]] against the cached
    * postings index — scored in projections (MySQL relevance value,
    * 0 for non-matches), a `score IS NOT NULL` predicate in boolean
    * contexts (MySQL's "relevance > 0" WHERE semantics).
    */
  private def matchRewrite(spark: SparkSession, q: String): Option[DataFrame] = {
    if (MatchRe.findFirstIn(q).isEmpty) return None
    // a top-level set operation rewrites each branch independently —
    // every branch's score joins splice into its OWN FROM
    // (fulltext1.sql: `select ... match(...) union select ... match(...)`)
    val parts = splitSetOps(q)
    val rewritten = parts.zipWithIndex.map { case (p, i) =>
      if (i % 2 == 1 || MatchRe.findFirstIn(p).isEmpty) (p, Nil)
      else matchText(spark, p)
    }
    Some(dropViewsAfter(spark, q, rewritten.flatMap(_._2))(
      spark.sql(rewritten.map(_._1).mkString(" "))))
  }

  /** Rewrite one MATCH-bearing SELECT into plain Spark SQL text over the
    * score views it creates, returned with the text.
    */
  private def matchText(spark: SparkSession, q: String): (String, Seq[String]) = {
    val hits = MatchRe.findAllMatchIn(q).toList

    val from = FromRe.findFirstMatchIn(q).getOrElse(
      throw new IllegalArgumentException("MATCH(): single-table FROM required"))
    val table = from.group(1)
    val tblRef = Option(from.group(3)).getOrElse(table)
    // composite PK: doc identity is the serialized key tuple (the
    // reference packs composite PKs into one __mo_cpkey column,
    // `pkg/sql/util/index_util.go`) — here a char(1)-joined string
    val pkCols = state(spark).primaryKeys.getOrElse(table, spark.table(table).columns.head)
      .split(",").map(_.trim).filter(_.nonEmpty)
    val pk = if (pkCols.length == 1) pkCols.head else "__ft_cpk"
    def withDocId(df: DataFrame): DataFrame =
      if (pkCols.length == 1) df
      else df.withColumn("__ft_cpk", concat_ws("\u0001",
        pkCols.map(c => col(s"`$c`").cast("string")).toIndexedSeq: _*))
    val pkJoinSql =
      if (pkCols.length == 1) s"$tblRef.`$pk`"
      else pkCols.map(c => s"cast($tblRef.`$c` as string)")
        .mkString("concat_ws(char(1), ", ", ", ")")

    // one score view per distinct (cols, query, mode)
    val distinctCalls = hits.map(h =>
      (h.group(1), h.group(2), Option(h.group(3)).exists(_.toLowerCase.contains("boolean"))))
      .distinct
    val views = distinctCalls.zipWithIndex.map { case ((colsTxt, query, bool), i) =>
      // MATCH(col1, col2, ...) scores over ONE combined index across all
      // listed columns (the reference concatenates them at tokenize time,
      // fulltext_tokenize.go:142-150)
      val textCols = SqlText.splitTop(colsTxt).map(_.trim.split('.').last)
      // once the table has DDL-registered fulltext indexes, the
      // reference's rules apply: the MATCH columns must equal one
      // index's column set; the index's parser picks the tokenizer
      // (query-side parsing is parser-independent except gojieba —
      // `ParsePatternInNLMode`, fulltext.go:919-923)
      val tokenizer = state(spark).ftIndexCols.get(table.toLowerCase).map { idxs =>
        val want = textCols.map(_.toLowerCase).toSet
        val hit = idxs.find(_._2 == want).getOrElse(
          throw new IllegalStateException(
            "not supported: MATCH() AGAINST() cannot be replaced by FULLTEXT INDEX " +
              s"(no fulltext index on (${textCols.mkString(", ")}))"))
        hit._3 match {
          case "" | "default" => "simple"
          case "json" => "json"
          case "gojieba" => "chinese"
          case other => throw new UnsupportedOperationException(
            s"UNSUPPORTED_FEATURE: fulltext parser '$other' on the SQL MATCH surface")
        }
      }.getOrElse("simple")
      // key the cached postings index by the table's resolved plan AND
      // its current file snapshot — the same name recreated (or INSERTed
      // into) must not hit a stale index. File listing is driver-side
      // metadata the file index already caches; at 100 TB this is the
      // same freshness check every query's scan planning performs.
      val tbl0 = spark.table(table)
      val planKey = tbl0.queryExecution.analyzed.semanticHash()
      val dataKey =
        try tbl0.inputFiles.sorted.mkString("|").hashCode
        catch { case _: Exception => 0 }
      val scores = Bm25.matchAgainstMulti(withDocId(spark.table(table)), pk, textCols, query,
          booleanMode = bool, cacheKey = s"$table#${textCols.mkString(",")}#$planKey#$dataKey",
          algo = sessionAlgo(spark), tokenizer = tokenizer)
        .withColumnRenamed("doc_id", "__ft_id")
      val v = s"_graft_ft_${viewSeq.incrementAndGet()}"
      scores.createOrReplaceTempView(v)
      ((colsTxt, query, bool), (v, i))
    }.toMap

    // replace occurrences innermost-text-first (they don't nest/overlap)
    val sb = new StringBuilder(q)
    for (h <- hits.reverse) {
      val key = (h.group(1), h.group(2),
        Option(h.group(3)).exists(_.toLowerCase.contains("boolean")))
      val (v, _) = views(key)
      val prefix = sb.substring(0, h.start)
      val isPredicate =
        """(?is).*\b(where|and|or|not|on)\s*\(?\s*$""".r.matches(prefix)
      val repl =
        if (isPredicate) s"($v.score IS NOT NULL)"
        else s"coalesce($v.score, CAST(0.0 AS DOUBLE))"
      sb.replace(h.start, h.end, repl)
    }

    // splice the JOINs right after the FROM table reference — found
    // again in the REWRITTEN text (the replacements above shifted
    // offsets). INNER join: the reference's index-apply filters
    // non-matching rows even for a projection-only MATCH (BVT
    // `fulltext.result:63-65` keeps just the matching doc)
    val joins = views.values.toSeq.sortBy(_._2).map { case (v, _) =>
      s" JOIN $v ON $pkJoinSql = $v.__ft_id"
    }.mkString
    // a bare `SELECT *` must not pick up the joined score columns
    val replaced = sb.toString
      .replaceFirst("(?is)^\\s*select\\s+\\*", s"SELECT $tblRef.*")
    val from2 = FromRe.findFirstMatchIn(replaced).get
    val fromEnd = from2.start + from2.matched.length
    (replaced.substring(0, fromEnd) + joins + replaced.substring(fromEnd),
      views.values.map(_._1).toSeq)
  }
}
