package graft.plans

import graft.operators.Hnsw
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import scala.collection.concurrent.TrieMap

/** HNSW ANN index registry — the analog of the reference's HNSW index
  * tables (`pkg/vectorindex/hnsw/`, planner rewrite
  * `apply_indices_hnsw.go`): per-partition graphs serialized into a
  * materialized parquet table, probed shard-parallel at query time.
  */
object HnswIndex {

  final case class Index(
      name: String,
      corpusPlan: LogicalPlan,
      idCol: String,
      vecCol: String,
      efSearch: Int,
      graphs: DataFrame,
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

  /** Build the sharded graphs ONCE per corpus, materialized to parquet
    * in [[IndexStore]] (≙ the reference writing usearch model parts into
    * index tables at CREATE INDEX time), and register for [[HnswAnnRule]].
    * Re-registers on every call so drop()+rebuild re-arms the rule; all
    * build/probe params are in the cache key.
    */
  def forCorpus(key: String, df: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, efConstruction: Int = 100, efSearch: Int = 64): Index = {
    val spark = df.sparkSession
    val st = state(spark)
    val idx = st.built.getOrElseUpdate(s"$key#$m#$efConstruction#$efSearch", {
      val dir = IndexStore.path(spark, "hnsw", s"$key-$m-$efConstruction")
      // NULL vectors are absent from the index; match plan stays unfiltered
      Hnsw.buildShardedGraphs(df.filter(col(vecCol).isNotNull),
          idCol, vecCol, m, efConstruction)
        .write.mode("overwrite").parquet(dir)
      val graphs = spark.read.parquet(dir)
      Index(key, df.queryExecution.analyzed.canonicalized,
        idCol, vecCol, efSearch, graphs, dir)
    })
    st.registry.put(key, idx)
    idx
  }

  /** Lazy candidate plan of one (index, query, k), cached per session. */
  def probe(spark: SparkSession, idx: Index, q: Array[Double], k: Int): DataFrame =
    state(spark).probeCache.getOrElseUpdate((idx.name, q.toSeq, k),
      Hnsw.searchShards(idx.graphs, q.map(_.toFloat), k, idx.efSearch)
        .select(col("neighbor_id")))
}
