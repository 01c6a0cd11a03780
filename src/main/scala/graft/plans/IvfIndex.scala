package graft.plans

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import scala.collection.concurrent.TrieMap

/** IVF-FLAT ANN index registry — the reference's vector-index build path
  * (`pkg/vectorindex/ivfflat/`, SQL `ivf_create`): k-means centroids +
  * a cell-assigned copy of the corpus, registered for the planner rewrite
  * in [[IvfAnnRule]].
  *
  * At 100 TB the `cells` frame would be written out partitioned by
  * `__ivf_cell` so a probe prunes at the file level; here it is persisted
  * in memory. `build` is an explicit index DDL analog — the index is a
  * materialized artifact, not per-query work.
  */
object IvfIndex {

  final case class Index(
      name: String,
      corpusPlan: LogicalPlan,       // canonicalized analyzed plan of the corpus
      vecCol: String,
      nlist: Int,
      nprobe: Int,
      centroids: Array[Array[Double]],
      cells: DataFrame,              // corpus columns + __ivf_cell
      dir: String = "")              // materialized location ("" = in-memory)

  private final class State {
    // name → index armed for the planner rule
    val registry = TrieMap.empty[String, Index]
    // build-once cache of `forCorpus`, keyed by every build parameter
    val built = TrieMap.empty[String, Index]
  }
  private val state = new graft.SessionScoped(() => new State)

  def indexes(spark: SparkSession): Seq[Index] = state(spark).registry.values.toSeq
  def drop(spark: SparkSession, name: String): Unit = {
    val st = state(spark)
    st.registry.remove(name).foreach { idx =>
      st.built.filterInPlace((_, v) => v.name != name)
      if (idx.dir.nonEmpty) IndexStore.delete(spark, idx.dir)
    }
  }
  def clear(spark: SparkSession): Unit =
    state(spark).registry.keys.toSeq.foreach(drop(spark, _))

  /** Element-wise mean of `__ivf_features` — the single centroid of a
    * lists=1 index (one distributed aggregate, no kmeans).
    */
  private def meanVector(featurized: DataFrame): Array[Double] =
    featurized
      .select(org.apache.spark.ml.stat.Summarizer.mean(col("__ivf_features")))
      .head.getAs[org.apache.spark.ml.linalg.Vector](0).toArray

  /** Build and register an IVF index over `df` (≙ `ivf_create`). */
  def build(name: String, df: DataFrame, vecCol: String,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): Index = {
    // NULL vectors are simply absent from the index; the registered
    // match plan stays the caller's (unfiltered) corpus plan
    val featurized = df.filter(col(vecCol).isNotNull)
      .withColumn("__ivf_features", array_to_vector(col(vecCol)))
    // Spark ML KMeans requires k > 1; lists=1 is legal reference DDL
    // (array_index.sql: `lists = 1`) and means one cell holding all rows
    val (centers, clustered) =
      if (nlist <= 1) (Array(meanVector(featurized)),
        featurized.withColumn("__ivf_cell", lit(0)))
      else {
        val model = new KMeans().setK(nlist).setSeed(seed)
          .setFeaturesCol("__ivf_features").fit(featurized)
        (model.clusterCenters.map(_.toArray),
          model.transform(featurized).withColumnRenamed("prediction", "__ivf_cell"))
      }
    val cells = clustered
      .drop("__ivf_features")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cells.count() // materialize the index now (build-time, not query-time)
    val idx = Index(name, df.queryExecution.analyzed.canonicalized, vecCol,
      nlist, nprobe, centers, cells)
    state(df.sparkSession).registry.put(name, idx)
    idx
  }

  /** Build-once-per-corpus cache with the cells MATERIALIZED to a
    * parquet table (survives `clearCache`; at 100 TB this is the
    * partitioned-by-cell index table the probe prunes on). Also
    * registers the index for [[IvfAnnRule]]. ≙ `ivf_create` once +
    * many `ivf_search` (`pkg/vectorindex/ivfflat/`).
    */
  def forCorpus(key: String, df: DataFrame, vecCol: String,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      maxIter: Int = 20): Index = {
    val spark = df.sparkSession
    val st = state(spark)
    val idx = st.built.getOrElseUpdate(s"$key#$nlist#$nprobe#$seed#$maxIter", {
      val featurized = df.filter(col(vecCol).isNotNull)
        .withColumn("__ivf_features", array_to_vector(col(vecCol)))
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
            new KMeans().setK(nlist).setSeed(seed + i)
              .setMaxIter(maxIter)
              .setFeaturesCol("__ivf_features").fit(featurized)
          }.minBy(_.summary.trainingCost)
          (model.clusterCenters.map(_.toArray),
            model.transform(featurized).withColumnRenamed("prediction", "__ivf_cell"))
        }
      val dir = IndexStore.path(spark, "ivf", s"$key-$nlist-$seed-$maxIter")
      clustered
        .drop("__ivf_features")
        .write.mode("overwrite").partitionBy("__ivf_cell").parquet(dir)
      // pin the partition-column type (inference may be disabled)
      val cells = spark.read.parquet(dir)
        .withColumn("__ivf_cell", col("__ivf_cell").cast("int"))
      Index(key, df.queryExecution.analyzed.canonicalized, vecCol,
        nlist, nprobe, centers, cells, dir)
    })
    st.registry.put(key, idx)
    idx
  }

  /** Driver-side nearest cells for a literal query vector, ranked by
    * the query's metric (cosine probes rank by angular distance to the
    * centroid; distances inside probed cells are always the query's own
    * metric via the preserved outer sort).
    */
  def nearestCells(idx: Index, q: Array[Double], metric: String = "l2"): Seq[Int] =
    idx.centroids.zipWithIndex.map { case (c, i) =>
      val n = math.min(c.length, q.length)
      var j = 0
      val s = metric match {
        case "cosine" =>
          var dot = 0.0; var nc = 0.0; var nq = 0.0
          while (j < n) { dot += c(j) * q(j); nc += c(j) * c(j); nq += q(j) * q(j); j += 1 }
          if (nc == 0 || nq == 0) 2.0 else 1.0 - dot / math.sqrt(nc * nq)
        case _ =>
          var acc = 0.0
          while (j < n) { val d = c(j) - q(j); acc += d * d; j += 1 }
          acc
      }
      (s, i)
    }.sortBy(_._1).take(idx.nprobe).map(_._2).toSeq
}
