package graft.plans

import graft.operators.{Centroids, Hnsw, IvfPq}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** Every vector index of a session — the reference's `pkg/vectorindex/`
  * (`ivfflat/`, `hnsw/`, `ivfpq/`) behind one planner entry
  * (`pushdownVectorIndexTopToTableScan`, query_builder.go:3299), here
  * [[AnnRule]].
  *
  * One registry, one build-once cache, one index store and one probe
  * cache serve all three kinds. A kind supplies only its build (KMeans
  * cells, PQ codes, HNSW graph shards) and its candidate plan for one
  * query. An index is a materialized artifact built at DDL time, never
  * per-query work; its rows live in [[IndexStore]] and die with it.
  */
object VectorIndex {

  /** What a kind hands [[AnnRule]] for one top-k query. */
  sealed trait Candidates
  /** The corpus rows that may hold the top-k: they replace the corpus
    * under the query's own sort, which ranks them exactly.
    */
  final case class Rows(plan: LogicalPlan) extends Candidates
  /** Candidate ids: the corpus is semi-joined on `idCol`, and the
    * query's own sort re-ranks the survivors exactly.
    */
  final case class Ids(idCol: String, plan: LogicalPlan) extends Candidates

  sealed trait Index {
    def name: String
    def corpusPlan: LogicalPlan // canonicalized analyzed plan of the corpus
    def vecCol: String
    def dir: String
    private[plans] def kind: Kind
    /** The candidates of one literal query under `metric`, or None when
      * this kind does not serve the metric.
      */
    private[plans] def candidates(spark: SparkSession, q: Array[Double],
        metric: String, k: Int): Option[Candidates]
  }

  /** IVF-flat: k-means centroids and a cell-assigned copy of the corpus
    * (`cells`: corpus columns + `__ivf_cell`, partitioned by cell).
    * Serves l2 and cosine: cells are ranked by the query's metric.
    */
  final case class IvfFlat(name: String, corpusPlan: LogicalPlan, vecCol: String,
      nlist: Int, nprobe: Int, centroids: Array[Array[Double]], cells: DataFrame,
      dir: String) extends Index {
    private[plans] def kind: Kind = Kind.IvfFlat
    private[plans] def candidates(spark: SparkSession, q: Array[Double],
        metric: String, k: Int): Option[Candidates] =
      Some(Rows(cells.filter(col("__ivf_cell").isin(
          Centroids.rank(centroids, q, nprobe, metric): _*))
        .drop("__ivf_cell").queryExecution.analyzed))
  }

  /** HNSW: per-partition graphs serialized into one table, probed
    * shard-parallel (`apply_indices_hnsw.go`). Serves l2.
    */
  final case class HnswGraphs(name: String, corpusPlan: LogicalPlan, idCol: String,
      vecCol: String, efSearch: Int, graphs: DataFrame, dir: String) extends Index {
    private[plans] def kind: Kind = Kind.Hnsw
    private[plans] def candidates(spark: SparkSession, q: Array[Double],
        metric: String, k: Int): Option[Candidates] =
      if (metric != "l2") None
      else Some(Ids(idCol, probe(spark, this, q, k)(
        Hnsw.searchShards(graphs, q.map(_.toFloat), k, efSearch)
          .select(col("neighbor_id")))))
  }

  /** IVF-PQ: coarse centroids and subspace codebooks (driver-held) plus
    * the product-quantized codes (`_id, _cell, _codes`, partitioned by
    * `_cell`), probed by ADC (`apply_indices_ivfpq.go`). Serves l2.
    */
  final case class PqCodes(name: String, corpusPlan: LogicalPlan, idCol: String,
      vecCol: String, nprobe: Int,
      refineFactor: Int, // ADC over-fetch multiple of k for the exact re-rank
      model: IvfPq.Model, codes: DataFrame, dir: String) extends Index {
    private[plans] def kind: Kind = Kind.IvfPq
    private[plans] def candidates(spark: SparkSession, q: Array[Double],
        metric: String, k: Int): Option[Candidates] =
      if (metric != "l2") None
      else {
        // over-fetch so the exact re-rank recovers quantization error
        val fetch = math.max(refineFactor * k, 100)
        Some(Ids(idCol, probe(spark, this, q, fetch)(adcProbe(spark, q, fetch))))
      }

    /** The global ADC top-`fetch` ids of the `nprobe` nearest cells; the
      * scan prunes files on the `_cell` partition column.
      */
    private def adcProbe(spark: SparkSession, q: Array[Double], fetch: Int): DataFrame = {
      val tables = Array((0L, IvfPq.lookupTables(model, q, nprobe)))
      val (mSub, kk) = (model.mSub, model.kk)
      // the tables are nprobe × mSub × k doubles (~tens of KB): shipped
      // in the task closure, since a broadcast made inside an analyzer
      // rule is never destroyed and leaks per analysis
      val cand = codes
        .filter(col("_cell").isin(tables(0)._2.keys.toSeq: _*))
        .select(col("_id"), col("_cell"), col("_codes")).rdd
        .mapPartitions(it => IvfPq.adcTopK(it, tables, mSub, kk, fetch, skipSelf = false)
          .map { case (_, id, d) => Row(id, d) })
      val schema = StructType(Seq(
        StructField("neighbor_id", LongType), StructField("_adc", DoubleType)))
      spark.createDataFrame(cand, schema)
        .orderBy(asc("_adc"), col("neighbor_id")).limit(fetch)
        .select(col("neighbor_id"))
    }
  }

  private[plans] sealed trait Kind
  private[plans] object Kind {
    case object IvfFlat extends Kind
    case object Hnsw extends Kind
    case object IvfPq extends Kind
    /** The order [[AnnRule]] tries the kinds in on one corpus column. */
    val inOrder: Seq[Kind] = Seq(IvfFlat, Hnsw, IvfPq)
  }

  private final class State {
    // kind → name → index armed for the planner rule. Of several indexes
    // of one kind on one corpus column, the first in its map serves.
    val registry = Kind.inOrder.map(_ -> TrieMap.empty[String, Index]).toMap
    // build-once cache, keyed by kind, name and every build parameter
    val built = TrieMap.empty[String, Index]
    // (kind, index, query vector, k) → lazy candidate plan: the analyzer
    // may apply the rule on every analysis of a matching plan
    val probeCache = TrieMap.empty[(Kind, String, Seq[Double], Int), DataFrame]
  }
  private val state = new graft.SessionScoped(() => new State)

  /** This session's indexes, in [[AnnRule]]'s order of kinds. */
  def indexes(spark: SparkSession): Seq[Index] = {
    val st = state(spark)
    Kind.inOrder.flatMap(st.registry(_).values)
  }

  /** Drop every index called `name`, whatever its kind, with its rows. */
  def drop(spark: SparkSession, name: String): Unit = {
    val st = state(spark)
    val gone = Kind.inOrder.flatMap(st.registry(_).remove(name))
    gone.foreach(idx => IndexStore.delete(spark, idx.dir))
    if (gone.nonEmpty) {
      st.built.filterInPlace((_, v) => v.name != name)
      st.probeCache.filterInPlace((k, _) => k._2 != name)
    }
  }

  def clear(spark: SparkSession): Unit =
    indexes(spark).map(_.name).distinct.foreach(drop(spark, _))

  /** Builds once per (kind, name, parameters) and (re-)registers on every
    * call, so a drop followed by the same call arms the rule again.
    */
  private def buildOnce[I <: Index](spark: SparkSession, kind: Kind,
      cacheKey: String)(build: => I): I = {
    val st = state(spark)
    val idx = st.built.getOrElseUpdate(s"$kind#$cacheKey", build).asInstanceOf[I]
    st.registry(kind).put(idx.name, idx)
    idx
  }

  /** Write an index's rows to the store and read them back. The
    * partition column comes back as int: with partition type inference
    * off it would be a string, and every probe would fail.
    */
  private def store(spark: SparkSession, subdir: String, key: String,
      rows: DataFrame, partCol: Option[String]): (DataFrame, String) = {
    val dir = IndexStore.path(spark, subdir, key)
    val w = rows.write.mode("overwrite")
    partCol.fold(w)(w.partitionBy(_)).parquet(dir)
    val back = spark.read.parquet(dir)
    (partCol.fold(back)(c => back.withColumn(c, col(c).cast("int"))), dir)
  }

  private def probe(spark: SparkSession, idx: Index, q: Array[Double], k: Int)(
      plan: => DataFrame): LogicalPlan =
    state(spark).probeCache.getOrElseUpdate((idx.kind, idx.name, q.toSeq, k), plan)
      .queryExecution.analyzed

  /** Element-wise mean of `__ivf_features` — the single centroid of a
    * lists=1 index (one distributed aggregate, no kmeans).
    */
  private def meanVector(featurized: DataFrame): Array[Double] =
    featurized
      .select(org.apache.spark.ml.stat.Summarizer.mean(col("__ivf_features")))
      .head.getAs[org.apache.spark.ml.linalg.Vector](0).toArray

  /** IVF-flat build (≙ `ivf_create`): k-means centroids and the corpus
    * written partitioned by cell. NULL vectors are absent from the
    * index; the registered match plan stays the caller's corpus plan.
    */
  def ivfFlat(key: String, df: DataFrame, vecCol: String,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      maxIter: Int = 20): IvfFlat = {
    val spark = df.sparkSession
    buildOnce(spark, Kind.IvfFlat, s"$key#$nlist#$nprobe#$seed#$maxIter") {
      val featurized = df.filter(col(vecCol).isNotNull)
        .withColumn("__ivf_features",
          org.apache.spark.ml.functions.array_to_vector(col(vecCol)))
      // Spark ML KMeans requires k > 1; lists=1 is legal reference DDL
      // (array_index.sql: `lists = 1`): one cell holding all rows
      val (centers, clustered) =
        if (nlist <= 1) (Array(meanVector(featurized)),
          featurized.withColumn("__ivf_cell", lit(0)))
        else {
          // k-means|| init (the ML default) + a few deterministic
          // restarts, keeping the lowest-cost model: a single run can
          // settle on a local optimum that merges two natural clusters,
          // and the probe then disagrees with the reference's elkan
          // kmeans about cell membership. Build-time-only cost.
          val model = (0 until 3).map { i =>
            new org.apache.spark.ml.clustering.KMeans().setK(nlist).setSeed(seed + i)
              .setMaxIter(maxIter)
              .setFeaturesCol("__ivf_features").fit(featurized)
          }.minBy(_.summary.trainingCost)
          (model.clusterCenters.map(_.toArray),
            model.transform(featurized).withColumnRenamed("prediction", "__ivf_cell"))
        }
      val (cells, dir) = store(spark, "ivf", s"$key-$nlist-$seed-$maxIter",
        clustered.drop("__ivf_features"), Some("__ivf_cell"))
      IvfFlat(key, df.queryExecution.analyzed.canonicalized, vecCol,
        nlist, nprobe, centers, cells, dir)
    }
  }

  /** HNSW build: the sharded graphs (≙ the reference writing usearch
    * model parts into index tables at CREATE INDEX time).
    */
  def hnsw(key: String, df: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, efConstruction: Int = 100, efSearch: Int = 64): HnswGraphs = {
    val spark = df.sparkSession
    buildOnce(spark, Kind.Hnsw, s"$key#$m#$efConstruction#$efSearch") {
      val (graphs, dir) = store(spark, "hnsw", s"$key-$m-$efConstruction",
        Hnsw.buildShardedGraphs(df.filter(col(vecCol).isNotNull),
          idCol, vecCol, m, efConstruction), None)
      HnswGraphs(key, df.queryExecution.analyzed.canonicalized,
        idCol, vecCol, efSearch, graphs, dir)
    }
  }

  /** IVF-PQ build (≙ `ivfpq_create`): KMeans coarse quantizer and
    * subspace codebooks, codes partitioned by `_cell`.
    */
  def ivfPq(key: String, df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, mSub: Int = 8, codebookSize: Int = 16,
      nprobe: Int = 4, refineFactor: Int = 10, seed: Long = 42L): PqCodes = {
    val spark = df.sparkSession
    buildOnce(spark, Kind.IvfPq,
        s"$key#$nlist#$mSub#$codebookSize#$nprobe#$refineFactor#$seed") {
      val (codesMem, model) = IvfPq.build(df.filter(col(vecCol).isNotNull),
        idCol, vecCol, nlist, mSub, codebookSize, seed)
      val (codes, dir) = store(spark, "ivfpq",
        s"$key-$nlist-$mSub-$codebookSize-$seed", codesMem, Some("_cell"))
      codesMem.unpersist()
      PqCodes(key, df.queryExecution.analyzed.canonicalized,
        idCol, vecCol, nprobe, refineFactor, model, codes, dir)
    }
  }
}
