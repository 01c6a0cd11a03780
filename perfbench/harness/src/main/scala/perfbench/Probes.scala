package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.{MoneyExpressions, TextFunctions, VectorFunctions}

/** Per-row cost of the column kernels, for the traced run.
  *
  * Each probe times a projection (or, for the money sum, an aggregate)
  * with the kernel and the same one without it over a cached input of a
  * fixed row count, and reports (median with − median without) / rows
  * in nanoseconds. Inputs are the run's own tables, repeated to the
  * fixed row count so the probes cost the same on every workload.
  */
final class Probes(spark: SparkSession, dataDir: String) {
  private val Reps = 3

  private def cached(df: DataFrame, rows: Long): DataFrame = {
    val n = df.count()
    val out = df.crossJoin(spark.range(math.max(1L, (rows + n - 1) / n)).select())
      .limit(rows.toInt).persist(StorageLevel.MEMORY_ONLY)
    out.count()
    out
  }

  private def millis(df: DataFrame): Double = {
    val t0 = System.nanoTime
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime - t0) / 1e6
  }

  private def nsPerRow(input: DataFrame, rows: Long, base: Column, kernel: Column,
      agg: Boolean): Double = {
    def frame(c: Column) = if (agg) input.agg(c) else input.select(c)
    millis(frame(base)); millis(frame(kernel)) // compile both plans first
    val (b, k) = (1 to Reps).map(_ => (millis(frame(base)), millis(frame(kernel)))).unzip
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    (median(k) - median(b)) * 1e6 / rows
  }

  def all(): Map[String, Double] = {
    val moneyRows = 2000000L
    val money = cached(Tables.lineitem(spark, dataDir).select(col("l_extendedprice").as("m")),
      moneyRows)
    val textRows = 20000L
    val docs = cached(Tables.documents(spark, dataDir).select(col("text"))
      .withColumn("tk", TextFunctions.tokens(col("text")))
      .withColumn("sh", TextFunctions.wordShingles(col("tk"), 3)), textRows)
    val vecRows = 100000L
    val vecs = cached(Tables.embeddings(spark, dataDir).select(col("embedding")), vecRows)
    val q = Tables.embeddings(spark, dataDir).orderBy(col("vec_id")).head
      .getSeq[Float](1).toArray
    val qv = typedLit(q)
    try Map(
      "kernel.money_ns_per_row" ->
        nsPerRow(money, moneyRows, sum(col("m")), MoneyExpressions.sumMantissa(col("m")), agg = true),
      "kernel.tokenize_ns_per_row" ->
        nsPerRow(docs, textRows, col("text"), TextFunctions.tokens(col("text")), agg = false),
      "kernel.shingle_ns_per_row" ->
        nsPerRow(docs, textRows, col("tk"), TextFunctions.wordShingles(col("tk"), 3), agg = false),
      "kernel.minhash_ns_per_row" ->
        nsPerRow(docs, textRows, col("sh"), TextFunctions.minhashSignature(col("sh"), 64), agg = false),
      "kernel.l2_ns_per_row" ->
        nsPerRow(vecs, vecRows, col("embedding"), VectorFunctions.l2Distance(col("embedding"), qv),
          agg = false),
      "kernel.cosine_ns_per_row" ->
        nsPerRow(vecs, vecRows, col("embedding"),
          VectorFunctions.cosineDistance(col("embedding"), qv), agg = false))
    finally Seq(money, docs, vecs).foreach(_.unpersist())
  }
}
