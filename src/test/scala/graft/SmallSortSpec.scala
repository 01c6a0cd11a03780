package graft

import graft.sql.GraftSql
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A final ORDER BY over input that AQE would leave in one partition
  * sorts in one task ([[graft.plans.SmallSort]]): the executed plan holds
  * `Coalesce 1` and no range exchange, and the rows are those of the
  * range exchange, which `minPartitionSize` at 1 byte (Spark's own
  * coalescing bound) brings back.
  */
class SmallSortSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private lazy val dir = java.nio.file.Files.createTempDirectory("small-sort")

  /** The managed table and the two read shapes of the benchmark's
    * `interactive` workload.
    */
  private lazy val orders: Unit = {
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("small_sort_src")
    GraftSql.sql(spark, "DROP TABLE IF EXISTS small_sort_orders")
    GraftSql.sql(spark, "CREATE TABLE small_sort_orders (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderpriority VARCHAR(15))")
    GraftSql.sql(spark, "INSERT INTO small_sort_orders SELECT o_orderkey, o_custkey, " +
      "o_orderstatus, o_totalprice, o_orderpriority FROM small_sort_src").collect()
  }
  private val statements = Seq(
    "agg" -> ("SELECT o_orderstatus, count(*) AS n, CAST(round(sum(CAST(o_totalprice AS " +
      "DECIMAL(30,6))), 2) AS DOUBLE) AS total FROM small_sort_orders WHERE o_custkey " +
      "BETWEEN 10 AND 90 GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "range" -> ("SELECT o_orderkey, o_totalprice FROM small_sort_orders WHERE o_orderkey " +
      "BETWEEN 100 AND 1000 ORDER BY o_orderkey"))

  override def afterAll(): Unit = {
    GraftSql.sql(spark, "DROP TABLE IF EXISTS small_sort_orders")
    spark.catalog.dropTempView("small_sort_src")
    spark.catalog.dropTempView("small_sort_big")
    scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    super.afterAll()
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The rows of a fresh frame and its final adaptive plan after
    * `collect()`.
    */
  private def run(d: DataFrame): (Seq[Row], String) = {
    val rows = d.collect().toSeq
    val plan = d.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (rows, plan.toString)
  }

  private def gathered(plan: String): Boolean =
    plan.contains("Coalesce 1") && !plan.toLowerCase.contains("rangepartitioning")

  private val shapes: Seq[(String, () => DataFrame)] =
    Seq("q1_pricing_summary", "w1_ranking", "tw1_tumbling_day", "tx2_quality",
      "a4_bitmap_aggs", "q9_product_profit").map(q =>
      q -> (() => SparkEntry.queries(q)(spark, sf))) ++
    statements.map { case (name, text) => name -> (() => { orders; GraftSql.sql(spark, text) }) }

  shapes.foreach { case (name, df) =>
    test(s"$name sorts in one task and returns the rows of the range exchange") {
      val (rows, plan) = run(df())
      assert(gathered(plan), plan)
      assert(rows.nonEmpty)
      val (ranged, rangePlan) = withConf(MinPartitionSize, "1b")(run(df()))
      assert(rangePlan.toLowerCase.contains("rangepartitioning"), rangePlan)
      assert(rows == ranged)
    }
  }

  /** A parquet file of more bytes than `minPartitionSize`. */
  private lazy val big: String = {
    val path = dir.resolve("big").toString
    spark.range(0, 60000, 1, 2).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .write.parquet(path)
    val bytes = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    assert(bytes > spark.sessionState.conf.getConf(
      SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE), bytes)
    spark.read.parquet(path).createOrReplaceTempView("small_sort_big")
    path
  }

  private def keepsRange(df: DataFrame): Unit = {
    val (rows, plan) = run(df)
    assert(rows.nonEmpty)
    assert(plan.toLowerCase.contains("rangepartitioning") && !plan.contains("Coalesce 1"), plan)
  }

  test("a sort over a file above the bound keeps its range exchange") {
    keepsRange(spark.read.parquet(big).orderBy(col("h")))
  }

  test("a TABLESAMPLE of that file keeps it: input bytes decide, not the output estimate") {
    big
    keepsRange(spark.sql("SELECT * FROM small_sort_big TABLESAMPLE (1 PERCENT) ORDER BY h"))
  }

  test("a repartitionByRange keeps its range exchange") {
    keepsRange(spark.read.parquet(s"$sf/orders.parquet")
      .repartitionByRange(4, col("o_orderkey")).orderBy(col("o_orderkey")))
  }

  test("with partition coalescing off, a small sort keeps its range exchange") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      keepsRange(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    }
  }

  test("q1 runs in exactly 2 jobs and tx2 in 1") {
    for ((q, jobs) <- Seq("q1_pricing_summary" -> 2, "tx2_quality" -> 1)) {
      val df = SparkEntry.queries(q)(spark, sf)
      val (rows, n) = JobCount(spark.sparkContext)(df.collect())
      assert(rows.nonEmpty)
      assert(n == jobs, s"$n jobs for $q")
    }
  }
}
