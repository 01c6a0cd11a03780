package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog of the driver-generated testdata tables (TESTDATA.md).
  *
  * Mirrors the reference's table-scan surface (TableScan,
  * reference `pkg/sql/colexec/table_scan/`): reads are plain columnar
  * parquet scans so Catalyst gets predicate pushdown, column pruning and
  * row-group (zonemap-equivalent) skipping for free. At 100 TB each
  * `name.parquet` would be a partitioned directory; the API is unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columnar scan of one table. Keep filters/projections on the returned
    * DataFrame so they reach the parquet reader (PushedFilters/ReadSchema).
    *
    * `events.ts` is normalized to a session-zone TIMESTAMP regardless of
    * how the parquet writer encoded it: TIMESTAMP(MICROS) passes through
    * (NTZ is re-tagged — the session zone is UTC, so wall clock is
    * preserved), and legacy TIMESTAMP(NANOS) — which Spark's vectorized
    * reader only surfaces as a nanosecond long behind the `nanosAsLong`
    * flag — is truncated to micros, matching DuckDB's TIMESTAMP_NS →
    * TIMESTAMP cast. Branching on the *read* schema keeps the load correct
    * across testdata regenerations.
    */
  /** Memoized per (session, dir, table): schema inference + file listing
    * cost ~10ms per spark.read.parquet — a bench loop calling q1..q22
    * three times each would otherwise pay hundreds of footer reads for
    * static testdata. The cached value is a logical plan (immutable);
    * data files under testdata never change within a JVM.
    */
  private val planCache = new SessionScoped(() =>
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]())

  /** Drop every session's cached plans (testdata regenerated in one JVM). */
  def clearPlanCache(): Unit = planCache.clear()

  /** Entries currently held (test/monitoring hook). */
  private[graft] def planCacheSize: Int = planCache.size

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    planCache(spark).getOrElseUpdate((dir, name), loadUncached(spark, dir, name))

  private def loadUncached(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros((col("ts") / 1000L).cast("long")) // legacy nanos-as-long
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          col("ts").cast("timestamp") // same wall clock; session zone is UTC
        case _ => col("ts")
      }
      raw.select(col("event_id"), ts.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view for `spark.sql` queries. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  // Typed accessors — small dims first (broadcast candidates at any scale).
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
