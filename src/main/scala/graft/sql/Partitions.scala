package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

import scala.collection.concurrent.TrieMap

/** MySQL-style partitioned tables (`PARTITION BY RANGE/LIST/HASH/KEY`,
  * `ALTER TABLE ... ADD PARTITION`) mapped Spark-first.
  *
  * Reference surface: partition DDL grammar + per-partition routing
  * (`pkg/sql/parsers/tree` partition AST, routing + pruning in
  * `pkg/partitionprune/prune.go:43,91`), BVT coverage
  * `test/distributed/cases/ddl/alter_table_add_partition.sql`.
  *
  * Spark mapping — the 100 TB design:
  *  - a declared table `t` becomes a parquet table `t_gparts` physically
  *    `PARTITIONED BY` a derived string column `_graft_part` holding the
  *    partition NAME, plus a view `t` projecting the user columns. One
  *    directory per declared partition — exactly the reference's layout.
  *  - INSERTs are routed by a generated CASE expression evaluated
  *    per-row inside the distributed write (no driver loop); a row no
  *    partition accepts raises, like MySQL's "no partition for value".
  *  - scans prune: [[graft.plans.PartitionPruneRule]] turns comparison
  *    predicates on the partition column into a `_graft_part IN (...)`
  *    conjunct on the physical relation, which Spark's FileSourceStrategy
  *    converts to PartitionFilters — directories outside the predicate
  *    range are never listed, so a selective query over a 100 TB table
  *    reads only its partitions.
  */
object Partitions {

  /** Physical partition-name column. */
  val PartCol = "_graft_part"

  /** One declared partition: `upper` is the RANGE bound's SQL text (None
    * = MAXVALUE); `items` the LIST membership value/tuple texts.
    */
  final case class PartDef(name: String, upper: Option[String], items: Seq[String])

  /** @param exprSql  partition expression SQL (a bare column name for the
    *                 COLUMNS forms — the only shape the pruner handles)
    * @param rangeNum numeric value of each RANGE upper bound (None for
    *                 MAXVALUE / non-numeric), evaluated once at DDL time
    * @param listNum  numeric single-column LIST items per partition
    */
  final case class PartSpec(
      table: String, phys: String, method: String, exprSql: String,
      cols: Seq[String], hashCount: Int, parts: Vector[PartDef],
      rangeNum: Vector[Option[Double]], listNum: Vector[Option[Seq[Double]]],
      methodSql: String = "")

  // lowercase table → spec
  private val registry = new graft.SessionScoped(() => TrieMap[String, PartSpec]())

  def get(spark: SparkSession, table: String): Option[PartSpec] =
    registry(spark).get(table.toLowerCase)
  /** Every partitioned table of this session (information_schema
    * `partitions` view).
    */
  def all(spark: SparkSession): Seq[PartSpec] = registry(spark).values.toSeq
  def byPhys(spark: SparkSession, phys: String): Option[PartSpec] =
    registry(spark).values.find(_.phys.equalsIgnoreCase(phys))
  def any(spark: SparkSession): Boolean = registry(spark).nonEmpty

  // ----------------------------------------------------------- parsing

  private val DefRe =
    """(?is)^partition\s+`?(\w+)`?\s+values\s+(less\s+than|in)\s*(.*)$""".r
  private val CommentRe = """(?is)\s+comment\s+'[^']*'\s*$""".r

  /** Parse one comma-split `PARTITION name VALUES ...` definition. */
  private def parseDef(txt0: String): PartDef = {
    val txt = CommentRe.replaceFirstIn(txt0.trim, "")
    txt match {
      case DefRe(name, kind, rest0) =>
        val rest = rest0.trim
        if (kind.toLowerCase.startsWith("less")) {
          val upper =
            if (rest.equalsIgnoreCase("maxvalue")) None
            else {
              val c = SqlText.closeParen(rest, 0)
              val inner = if (rest.startsWith("(") && c > 0)
                rest.substring(1, c).trim else rest
              if (inner.equalsIgnoreCase("maxvalue")) None else Some(inner)
            }
          PartDef(name, upper, Seq.empty)
        } else {
          val c = SqlText.closeParen(rest, 0)
          val inner = if (rest.startsWith("(") && c > 0)
            rest.substring(1, c).trim else rest
          PartDef(name, None, SqlText.splitTop(inner).map(_.trim))
        }
      case _ =>
        throw new IllegalArgumentException(s"invalid partition definition: $txt")
    }
  }

  /** Parse the clause text after `PARTITION BY`. Returns
    * (method, exprSql, defs, hashCount).
    */
  private[sql] def parseBy(clause0: String): (String, String, Vector[PartDef], Int) = {
    val clause = clause0.trim
    val HashRe = """(?is)^(?:linear\s+)?(hash|key)\s*\(""".r
    val RlRe = """(?is)^(range|list)(\s+columns)?\s*\(""".r
    HashRe.findFirstMatchIn(clause) match {
      case Some(m) =>
        val close = SqlText.closeParen(clause, m.end - 1)
        require(close > 0, s"unbalanced partition expression: $clause")
        val exprSql = clause.substring(m.end, close).trim
        val n = """(?is)\bpartitions\s+(\d+)""".r.findFirstMatchIn(clause.substring(close + 1))
          .map(_.group(1).toInt).getOrElse(1)
        ("hash", exprSql,
          (0 until n).map(i => PartDef(s"p$i", None, Seq.empty)).toVector, n)
      case None =>
        val m = RlRe.findFirstMatchIn(clause).getOrElse(
          throw new IllegalArgumentException(s"unsupported PARTITION BY: $clause"))
        val method = m.group(1).toLowerCase
        val close = SqlText.closeParen(clause, m.end - 1)
        require(close > 0, s"unbalanced partition expression: $clause")
        val exprSql = clause.substring(m.end, close).trim
        val rest = clause.substring(close + 1).trim
        require(rest.startsWith("("), s"missing partition definitions: $clause")
        val dclose = SqlText.closeParen(rest, 0)
        require(dclose > 0, s"unbalanced partition definitions: $clause")
        val defs = SqlText.splitTop(rest.substring(1, dclose)).map(parseDef).toVector
        (method, exprSql, defs, 0)
    }
  }

  // ------------------------------------------------------------- DDL

  /** Evaluate a bound/item expression to a number (driver-side, once per
    * DDL — bounds like `to_days('1992-12-31')` need the engine).
    */
  private def evalNum(spark: SparkSession, sql: String): Option[Double] =
    try Some(new java.math.BigDecimal(sql.trim).doubleValue)
    catch {
      case _: NumberFormatException =>
        try Option(GraftSql.sql(spark, s"SELECT CAST(($sql) AS DOUBLE) AS v")
          .head.get(0)).map(_.toString.toDouble)
        catch { case _: Exception => None }
    }

  private def withNumerics(spark: SparkSession, s: PartSpec): PartSpec = s.copy(
    rangeNum =
      if (s.method == "range") s.parts.map(_.upper.flatMap(evalNum(spark, _)))
      else Vector.empty,
    listNum =
      if (s.method == "list")
        s.parts.map { p =>
          val vs = p.items.map(it =>
            if (it.startsWith("(")) None else evalNum(spark, it))
          if (vs.nonEmpty && vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
        }
      else Vector.empty)

  /** `CREATE TABLE t (colsDdl) PARTITION BY ...` — colsDdl must already
    * be Spark-parseable types (BvtSpec's DDL shim handles the MySQL
    * names; API users pass Spark DDL).
    */
  def create(spark: SparkSession, table: String, colsDdl: String,
      byClause: String, ifNotExists: Boolean): Unit = {
    if (ifNotExists && get(spark, table).isDefined) return
    val (method, exprSql, defs, n) = parseBy(byClause)
    if (method == "range") {
      // MAXVALUE only in the last position; bounds strictly increasing
      defs.dropRight(1).foreach(d => require(d.upper.isDefined,
        "MAXVALUE can only be used in last partition definition"))
    }
    val phys = s"${table}_gparts"
    val cols = SqlText.splitTop(colsDdl).map(_.trim).flatMap { item =>
      """^`?(\w+)`?\s""".r.findFirstMatchIn(item).map(_.group(1))
        .filterNot(c => Set("primary", "unique", "key", "index", "constraint",
          "foreign", "fulltext", "check").contains(c.toLowerCase))
    }
    spark.sql(s"DROP TABLE IF EXISTS `$phys`")
    spark.sql(s"DROP VIEW IF EXISTS `$table`")
    // an aborted prior session can leave the managed location orphaned
    // (metastore is per-session) — clear it so CREATE never collides
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(phys)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql(s"CREATE TABLE `$phys` ($colsDdl, $PartCol STRING) " +
      s"USING parquet PARTITIONED BY ($PartCol)")
    spark.sql(s"CREATE OR REPLACE VIEW `$table` AS SELECT " +
      cols.map(c => s"`$c`").mkString(", ") + s" FROM `$phys`")
    // `PARTITION BY KEY()` (no column list) keys on the full row — the
    // reference uses the primary key; the hash over all user columns is
    // the same deterministic-per-engine routing
    val exprSql2 =
      if (method == "hash" && exprSql.trim.isEmpty)
        cols.map(c => s"`$c`").mkString(", ")
      else exprSql
    // declared spelling for information_schema.partitions
    // (`RANGE COLUMNS` vs `RANGE`, `KEY` vs `HASH`)
    val methodSql =
      """(?is)^(?:linear\s+)?(range\s+columns|list\s+columns|range|list|hash|key)""".r
        .findFirstMatchIn(byClause.trim)
        .map(_.group(1).toUpperCase.replaceAll("\\s+", " "))
        .getOrElse(method.toUpperCase)
    val spec = PartSpec(table.toLowerCase, phys, method, exprSql2, cols,
      n, defs, Vector.empty, Vector.empty, methodSql)
    registry(spark).put(table.toLowerCase, withNumerics(spark, spec))
  }

  /** `ALTER TABLE t ADD PARTITION (defs)` with the reference's
    * method/shape validation (error texts follow MySQL's 1480/1493).
    */
  def alterAdd(spark: SparkSession, table: String, defsTxt: String): Unit = {
    val spec = get(spark, table).getOrElse(throw new IllegalArgumentException(
      s"table $table is not partitioned"))
    val defs = SqlText.splitTop(defsTxt).map(parseDef)
    defs.foreach { d =>
      val isIn = d.items.nonEmpty
      spec.method match {
        case "hash" =>
          if (isIn) throw new IllegalArgumentException(
            "Only LIST PARTITIONING can use VALUES IN in partition definition")
          else throw new IllegalArgumentException(
            "Only RANGE PARTITIONING can use VALUES LESS THAN in partition definition")
        case "range" if isIn => throw new IllegalArgumentException(
          "Only LIST PARTITIONING can use VALUES IN in partition definition")
        case "list" if !isIn => throw new IllegalArgumentException(
          "Only RANGE PARTITIONING can use VALUES LESS THAN in partition definition")
        case _ =>
      }
      if (spec.parts.exists(_.name.equalsIgnoreCase(d.name)))
        throw new IllegalArgumentException(s"Duplicate partition name ${d.name}")
    }
    var s = spec
    if (spec.method == "range") {
      // strictly increasing; a MAXVALUE tail admits nothing after it
      var lastNum = s.rangeNum.lastOption.flatten
      val lastIsMax = s.parts.lastOption.exists(_.upper.isEmpty)
      if (lastIsMax) throw new IllegalArgumentException(
        "VALUES LESS THAN value must be strictly increasing for each partition")
      defs.foreach { d =>
        val v = d.upper.flatMap(evalNum(spark, _))
        (lastNum, v) match {
          case (Some(a), Some(b)) if b <= a =>
            throw new IllegalArgumentException(
              "VALUES LESS THAN value must be strictly increasing for each partition")
          case _ =>
        }
        if (v.isDefined) lastNum = v
        s = s.copy(parts = s.parts :+ d, rangeNum = s.rangeNum :+ v)
      }
    } else {
      defs.foreach(d => s = s.copy(parts = s.parts :+ d))
      s = withNumerics(spark, s.copy(listNum = Vector.empty))
    }
    registry(spark).put(table.toLowerCase, s)
  }

  def drop(spark: SparkSession, table: String): Boolean =
    registry(spark).remove(table.toLowerCase).exists { spec =>
      spark.sql(s"DROP VIEW IF EXISTS `$table`")
      spark.sql(s"DROP TABLE IF EXISTS `${spec.phys}`")
      true
    }

  /** Registry-only removal — used when the NAME is re-created as a plain
    * (unpartitioned) table, so stale routing never intercepts it.
    */
  def forget(spark: SparkSession, table: String): Unit =
    registry(spark).remove(table.toLowerCase)

  /** Keep routing in step with `RENAME TABLE from TO to` (the view was
    * already renamed by the caller; the physical table keeps its name).
    */
  def rename(spark: SparkSession, from: String, to: String): Unit = {
    val reg = registry(spark)
    reg.remove(from.toLowerCase).foreach { spec =>
      reg.put(to.toLowerCase, spec.copy(table = to.toLowerCase))
    }
  }

  // ----------------------------------------------------------- routing

  /** CASE expression assigning each row its partition name — evaluated
    * inside the distributed insert (codegen'd; no driver involvement).
    * RANGE sends NULL to the first partition (MySQL's rule); a value no
    * partition accepts raises like the reference.
    */
  def routeExpr(spec: PartSpec): String = {
    val e = s"(${spec.exprSql})"
    val noPart = s"CAST(raise_error(concat('Table has no partition for value ', " +
      s"CAST($e AS STRING))) AS STRING)"
    spec.method match {
      case "hash" =>
        s"concat('p', CAST(pmod(hash($e), ${spec.hashCount}) AS STRING))"
      case "range" =>
        val whens = spec.parts.map { p =>
          p.upper match {
            case Some(b) => s"WHEN $e < ($b) THEN '${p.name}'"
            case None => s"WHEN TRUE THEN '${p.name}'"
          }
        }
        s"CASE WHEN $e IS NULL THEN '${spec.parts.head.name}' " +
          whens.mkString(" ") + s" ELSE $noPart END"
      case "list" =>
        val multi = spec.cols.lengthIs > 1 || spec.exprSql.contains(",")
        val probe =
          if (multi) s"(${spec.exprSql})" // tuple: (a, b) IN ((0,0), ...)
          else e
        val whens = spec.parts.map { p =>
          s"WHEN $probe IN (${p.items.mkString(", ")}) THEN '${p.name}'"
        }
        s"CASE ${whens.mkString(" ")} ELSE $noPart END"
    }
  }

  /** Route `df` (columns renamed to the target's) into the physical
    * partitioned table. Missing columns (explicit column-list INSERT)
    * arrive as NULL.
    */
  def insertInto(spark: SparkSession, spec: PartSpec, df0: DataFrame,
      listed: Option[Seq[String]]): Long = {
    val named = listed match {
      case Some(ls) =>
        require(ls.length == df0.columns.length,
          s"INSERT column count mismatch: ${ls.length} vs ${df0.columns.length}")
        var d = df0.toDF(ls: _*)
        spec.cols.foreach { c =>
          if (!ls.exists(_.equalsIgnoreCase(c))) d = d.withColumn(c, lit(null))
        }
        d.select(spec.cols.map(col): _*)
      case None =>
        require(df0.columns.length == spec.cols.length,
          s"INSERT column count mismatch: ${spec.cols.length} vs ${df0.columns.length}")
        df0.toDF(spec.cols: _*)
    }
    val routed = named.withColumn(PartCol, expr(routeExpr(spec)))
    routed.write.insertInto(spec.phys)
    spark.catalog.refreshTable(spec.phys)
    0L
  }
}
