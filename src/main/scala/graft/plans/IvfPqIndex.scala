package graft.plans

import graft.operators.IvfPq
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** IVF-PQ ANN index registry — analog of the reference's IVF-PQ index
  * tables (`pkg/vectorindex/ivfpq/`, planner rewrite
  * `apply_indices_ivfpq.go`): coarse centroids + per-subspace codebooks
  * (driver-held, broadcast at probe time) and the product-quantized
  * codes MATERIALIZED to a parquet table partitioned by coarse cell, so
  * a probe prunes at the file level and scans `nprobe/nlist` of a
  * corpus whose rows are `mSub` code bytes instead of full vectors —
  * the representation that keeps a 100 TB vector scan in memory.
  */
object IvfPqIndex {

  final case class Index(
      name: String,
      corpusPlan: LogicalPlan,       // canonicalized analyzed plan of the corpus
      idCol: String,
      vecCol: String,
      nprobe: Int,
      refineFactor: Int,             // ADC over-fetch multiple of k for exact re-rank
      model: IvfPq.Model,
      codes: DataFrame,              // (_id, _cell, _codes) partitioned by _cell
      dir: String)

  private final class State {
    // name → index armed for the planner rule
    val registry = TrieMap.empty[String, Index]
    // build-once cache of `forCorpus`, keyed by every build parameter
    val built = TrieMap.empty[String, Index]
    // (index, query vector, k) → lazy candidate plan: the analyzer may
    // apply the rule on every analysis of a matching plan
    val probeCache = TrieMap.empty[(String, Seq[Double], Int), DataFrame]
  }
  private val state = new graft.SessionScoped(() => new State)

  def indexes(spark: SparkSession): Seq[Index] = state(spark).registry.values.toSeq
  def drop(spark: SparkSession, name: String): Unit = {
    val st = state(spark)
    st.registry.remove(name).foreach { idx =>
      st.built.filterInPlace((_, v) => v.name != name)
      st.probeCache.filterInPlace((k, _) => k._1 != name)
      IndexStore.delete(spark, idx.dir)
    }
  }
  def clear(spark: SparkSession): Unit =
    state(spark).registry.keys.toSeq.foreach(drop(spark, _))

  /** Build ONCE per corpus (≙ `ivfpq_create`): KMeans coarse quantizer +
    * subspace codebooks fit distributed, codes written to parquet
    * partitioned by `_cell` in [[IndexStore]] (shared FS, dropped with
    * the index), index registered for [[IvfPqAnnRule]]. Every
    * build/probe-affecting parameter is part of the cache key, and
    * re-registration happens on every call so a drop()/clear() followed
    * by the same forCorpus leaves the planner rule armed again.
    */
  def forCorpus(key: String, df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, mSub: Int = 8, codebookSize: Int = 16,
      nprobe: Int = 4, refineFactor: Int = 10, seed: Long = 42L): Index = {
    val spark = df.sparkSession
    val st = state(spark)
    val idx = st.built.getOrElseUpdate(
      s"$key#$nlist#$mSub#$codebookSize#$nprobe#$refineFactor#$seed", {
        // NULL vectors are absent from the index; match plan stays unfiltered
        val (codesMem, model) = IvfPq.build(df.filter(col(vecCol).isNotNull),
          idCol, vecCol, nlist, mSub, codebookSize, seed)
        val dir = IndexStore.path(spark, "ivfpq",
          s"$key-$nlist-$mSub-$codebookSize-$seed")
        codesMem.write.mode("overwrite").partitionBy("_cell").parquet(dir)
        codesMem.unpersist()
        // pin the partition-column type: with partitionColumnTypeInference
        // off it would come back as string and every probe would CCE
        val codes = spark.read.parquet(dir)
          .withColumn("_cell", col("_cell").cast("int"))
        Index(key, df.queryExecution.analyzed.canonicalized,
          idCol, vecCol, nprobe, refineFactor, model, codes, dir)
      })
    st.registry.put(key, idx)
    idx
  }

  /** ADC probe for one literal query vector: scan the `nprobe` nearest
    * cells of the codes table (file-level pruning on the `_cell`
    * partition column) with a broadcast per-cell lookup table, keep a
    * bounded per-partition heap, and return the global ADC top-`fetch`
    * candidate ids. Callers re-rank exactly (the planner rule keeps the
    * original metric sort above the semi-join).
    */
  /** Probe results cached per (index, query vector, fetch): the analyzer
    * may re-run [[IvfPqAnnRule]] on every analysis of a matching plan
    * (explain, re-resolution), and without the cache each pass would
    * plan a fresh probe lineage.
    */
  def probe(spark: SparkSession, idx: Index, q: Array[Double], fetch: Int): DataFrame =
    state(spark).probeCache.getOrElseUpdate((idx.name, q.toSeq, fetch),
      doProbe(spark, idx, q, fetch))

  private def doProbe(spark: SparkSession, idx: Index, q: Array[Double],
      fetch: Int): DataFrame = {
    val m = idx.model
    val kk = m.codebooks(0).length
    val mSub = m.mSub
    val ranked = m.centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var j = 0
      while (j < math.min(c.length, q.length)) { val d = c(j) - q(j); s += d * d; j += 1 }
      (s, i)
    }.sortBy(_._1).take(idx.nprobe).map(_._2)
    val luts: Map[Int, Array[Double]] = ranked.map { cell =>
      val cent = m.centroids(cell)
      val t = new Array[Double](mSub * kk)
      var s = 0
      while (s < mSub) {
        val qres = new Array[Double](m.dsub)
        var i = 0
        while (i < m.dsub) { qres(i) = q(s * m.dsub + i) - cent(s * m.dsub + i); i += 1 }
        var j = 0
        while (j < kk) {
          var d = 0.0
          var x = 0
          while (x < m.dsub) { val dd = qres(x) - m.codebooks(s)(j)(x); d += dd * dd; x += 1 }
          t(s * kk + j) = d
          j += 1
        }
        s += 1
      }
      cell -> t
    }.toMap
    // the LUT is nprobe × mSub × k doubles (~tens of KB): ship it in the
    // task closure instead of a broadcast — a broadcast created inside an
    // analyzer rule is never destroyed and leaks per analysis (ADVICE r4)
    val cand = idx.codes
      .filter(col("_cell").isin(ranked.toIndexedSeq: _*))
      .select(col("_id"), col("_cell"), col("_codes")).rdd
      .mapPartitions { it =>
        val ls = luts
        val heap = collection.mutable.PriorityQueue
          .empty[(Double, Long)](Ordering.by(_._1))
        it.foreach { r =>
          ls.get(r.getInt(1)).foreach { t =>
            val cs = r.getSeq[Int](2)
            var d = 0.0
            var s = 0
            while (s < mSub) { d += t(s * kk + cs(s)); s += 1 }
            if (heap.size < fetch) heap.enqueue((d, r.getLong(0)))
            else if (d < heap.head._1) { heap.dequeue(); heap.enqueue((d, r.getLong(0))) }
          }
        }
        heap.iterator.map { case (d, id) => Row(id, d) }
      }
    val schema = StructType(Seq(
      StructField("neighbor_id", LongType), StructField("_adc", DoubleType)))
    spark.createDataFrame(cand, schema)
      .orderBy(asc("_adc"), col("neighbor_id")).limit(fetch)
      .select(col("neighbor_id"))
  }
}
