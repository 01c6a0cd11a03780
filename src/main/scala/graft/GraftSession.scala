package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * The reference plans shuffle-vs-broadcast and spill thresholds itself
  * (`determineShuffleMethod`, `spill_threshold.go` — see SURVEY §4); on
  * Spark the equivalents are AQE (runtime re-plan, skew-join splitting,
  * partition coalescing) plus the broadcast threshold, so we turn them all
  * on here instead of re-implementing them.
  */
object GraftSession {
  /** A builder with graft's extension and engine confs.
    *
    * Compile once: Spark keeps the classes that whole-stage codegen
    * compiles (with Janino) in one JVM-wide LRU cache of
    * `spark.sql.codegen.cache.maxEntries` entries, 100 by default. That
    * is smaller than graft's working set: the benchmark's 9 `olap`
    * queries compile 161 classes and the 34 [[Bench.headlineNames]]
    * queries 539 (sf0.001), so at 100 entries a round-robin mix evicts
    * each class before its reuse and recompiles (and re-JITs) almost all
    * of them on every request. At 1024 a query shape compiles once per
    * JVM. A cached class holds about 26 KB of heap (536 entries held
    * 13.9 MB after GC), so a full cache holds about 27 MB. The conf is
    * static, read once per JVM when the first class is generated: only a
    * builder conf or `--conf` sets it, `SparkSessionExtensions` cannot.
    *
    * The cache finds a class by its source text, and whole-stage codegen
    * names each class after its codegen stage id, which AQE hands out in
    * the order that sibling query stages finish: q21 at sf0.001 swapped
    * two ids in about 1 of 20 runs and compiled 4 classes again each
    * time. `useIdInClassName=false` names them all `GeneratedIterator`,
    * so the same pipeline is the same text whatever its id.
    *
    * Small global sorts run in one task: a final ORDER BY over input that
    * AQE's partition coalescing would leave in one partition sorts behind
    * a `Coalesce 1`, with no range exchange, so its RangePartitioner
    * sampling job and shuffle map stage do not run
    * ([[graft.plans.SmallSort]], injected by [[GraftExtensions]]). The
    * bound is AQE's own coalescing bound
    * (`spark.sql.adaptive.coalescePartitions.minPartitionSize` under
    * `parallelismFirst`, otherwise `advisoryPartitionSizeInBytes`); no
    * setting was added for it.
    */
  def builder(master: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // the reference's recursive CTEs iterate well past Spark's default
      // 100 levels (recursive_cte.sql runs to 150+); depth is bounded by
      // the data, not the plan, so a high ceiling is safe
      .config("spark.sql.cteRecursionLevelLimit", "10000")
      // ... and past the default 1M-row cap (recursive_cte_memory.sql
      // generates ~4M rows); rows are bounded by the query, the cap is
      // only a runaway guard
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      // lets legacy TIMESTAMP(NANOS) parquet read as a long instead of
      // erroring; Tables.load branches on the read schema, so data written
      // with micros timestamps (the current testdata) is unaffected
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
    // deployment/measurement overrides without a rebuild:
    // SPARK_GRAFT_CONF="k1=v1;k2=v2" (cluster runs re-tune
    // shuffle.partitions etc. here; local defaults above stay the
    // driver-comparable baseline)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k.trim, v.trim)
      }
  }

  def local(threads: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$threads]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    init(s)
    s
  }

  /** Reference-dialect SQL entry point: accepts the non-standard syntax
    * (`interval()/sliding()/fill()`, scored MATCH...AGAINST,
    * `sample(N rows)`) and standard SQL alike — see [[graft.sql.GraftSql]].
    */
  def sql(spark: SparkSession, query: String): org.apache.spark.sql.DataFrame =
    graft.sql.GraftSql.sql(spark, query)

  /** Iceberg catalog confs — the standard public spark-iceberg surface
    * (reference reads/writes Iceberg natively:
    * `pkg/sql/compile/compile_iceberg_scan.go`,
    * `pkg/sql/colexec/icebergwrite/`). The connector jar is a deployment
    * concern (`--packages org.apache.iceberg:iceberg-spark-runtime-...`);
    * catalog instantiation is lazy, so configuring a session without the
    * jar is safe until the catalog is first referenced.
    *
    * `catalogType`: "hadoop" (warehouse dir), "hive", or "rest".
    */
  def icebergCatalogConfs(name: String, warehouse: String,
      catalogType: String = "hadoop"): Map[String, String] = Map(
    s"spark.sql.catalog.$name" -> "org.apache.iceberg.spark.SparkCatalog",
    s"spark.sql.catalog.$name.type" -> catalogType,
    s"spark.sql.catalog.$name.warehouse" -> warehouse)

  /** Attach an Iceberg catalog to a builder (cluster deployments add the
    * runtime jar alongside).
    */
  def withIcebergCatalog(b: SparkSession.Builder, name: String,
      warehouse: String, catalogType: String = "hadoop"): SparkSession.Builder =
    icebergCatalogConfs(name, warehouse, catalogType)
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Register graft's function table ([[GraftExtensions.functions]]) into
    * an existing session — one built without the extension. Sessions
    * from [[builder]] or `spark.sql.extensions=graft.GraftExtensions`
    * already hold it, and registering the same entries again is a no-op.
    */
  def init(s: SparkSession): SparkSession = {
    val registry = s.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, build) =>
      registry.registerFunction(id, info, build)
    }
    s
  }
}
