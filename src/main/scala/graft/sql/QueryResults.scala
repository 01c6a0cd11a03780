package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong

/** The reference's `save_query_result` subsystem: queries tagged with
  * the save_result block-comment hint persist their result set under a
  * query id,
  * later re-readable as a table via `result_scan(last_query_id([-n]))`
  * and introspectable via `meta_scan(...)` (reference
  * `pkg/util/trace/impl/motrace/report_statement.go` result persistence,
  * table functions in `pkg/sql/plan/build_dml_util.go` result_scan;
  * goldens `test/distributed/cases/query_result/query_result.result`).
  *
  * Each save materializes the result (localCheckpoint — the reference
  * writes a result file; freezing the rows against later table mutation
  * is the contract) plus a metadata row: the id, the source tables the
  * query read, and the result path/size. `query_result_maxsize = 0`
  * disables the file write — metadata then reports an empty path and
  * zero size, matching the golden.
  *
  * Scale note: result files are one parquet write of an
  * already-computed result — on a cluster this is the same distributed
  * write any sink uses; the registry itself holds only ids and paths.
  */
object QueryResults {

  final case class Saved(
      id: String, df: DataFrame, tables: String, path: String, size: Long)

  private final class State {
    @volatile var enabled = false
    @volatile var everOn = false
    @volatile var maxSize = 100L
    @volatile var saved = Vector.empty[Saved]
  }
  private val state = new graft.SessionScoped(() => new State)
  // ids stay unique across sessions: they name result files
  private val seq = new AtomicLong(0L)

  def setEnabled(spark: SparkSession, on: Boolean): Unit = {
    val st = state(spark)
    st.enabled = on
    if (on) st.everOn = true
  }
  def enabled(spark: SparkSession): Boolean = state(spark).enabled
  /** Scans stay readable after `set save_query_result = off` — turning
    * the flag off only stops SAVING; "no configure" is raised only when
    * the feature was never switched ON in this session
    * (query_result.result:44-48 reads a prior result with the flag off).
    */
  def everConfigured(spark: SparkSession): Boolean = state(spark).everOn
  def setMaxSize(spark: SparkSession, n: Long): Unit =
    state(spark).maxSize = n

  /** Source catalog tables of a query, in plan order ("tt, t2"). */
  private def sourceTables(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
    df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
      case h: HiveTableRelation => Some(h.tableMeta.identifier.table)
    }.flatten.distinct.mkString(", ")
  }

  def save(spark: SparkSession, df: DataFrame): String = {
    val id = f"graft-qr-${seq.incrementAndGet()}%08d"
    val frozen = df.localCheckpoint()
    val st = state(spark)
    val max = st.maxSize
    val (path, size) =
      if (max <= 0) ("", 0L)
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft_query_result")
        val p = s"$dir/$id.parquet"
        frozen.write.mode("overwrite").parquet(p)
        val sz = java.nio.file.Files.walk(java.nio.file.Paths.get(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
        (p, sz)
      }
    val entry = Saved(id, frozen, sourceTables(df), path, size)
    st.synchronized(st.saved :+= entry)
    id
  }

  /** `last_query_id(-n)`: n back from the latest save (-1 = latest). */
  def idAt(spark: SparkSession, offset: Int): String = idAt(state(spark), offset)

  private def idAt(st: State, offset: Int): String = {
    val v = st.saved
    val i = v.length + offset
    if (i < 0 || i >= v.length)
      throw new IllegalArgumentException(s"query id at offset $offset not found")
    v(i).id
  }

  def byId(spark: SparkSession, id: String): Saved =
    state(spark).saved.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"query id $id not found"))

  /** One-row metadata relation for `meta_scan(id)`. */
  def metaDf(spark: SparkSession, id: String): DataFrame = {
    import spark.implicits._
    val s = byId(spark, id)
    Seq((s.id, s.tables, s.path, s.size))
      .toDF("query_id", "tables", "result_path", "result_size")
  }

  /** `last_query_id(n)`. The SQL surface's zero-arg form is textually
    * normalized to `(-1)` before parse ([[GraftSql.sql]]). The closure
    * captures the analyzing session's handle, not the state: UDF bodies
    * run on task threads from a serialized copy of the closure.
    */
  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    import org.apache.spark.sql.functions.udf
    ft.sessionUdf("last_query_id")(h =>
      udf((n: Int) => idAt(state(h), n)).asNondeterministic())
  }
}
