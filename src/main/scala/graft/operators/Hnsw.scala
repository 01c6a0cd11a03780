package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HNSW approximate nearest neighbor (reference `pkg/vectorindex/hnsw/`,
  * which wraps usearch; the graph algorithm is Malkov & Yashunin,
  * "Efficient and robust approximate nearest neighbor search using
  * Hierarchical Navigable Small World graphs", IEEE TPAMI 2018).
  *
  * Scale design — SHARDED graphs, not one global graph: the reference
  * builds one usearch index per data chunk and unions per-chunk results
  * (`pkg/vectorindex/hnsw/search.go` model parts); here every Spark
  * partition builds an in-memory HNSW over its slice inside
  * `mapPartitions`, searches the broadcast query set, and emits per-shard
  * top-k candidates; a tiny window-agg picks the global top-k. Build is
  * embarrassingly parallel (no shuffle of the corpus), memory is bounded
  * by partition size, and adding executors shards further — the classic
  * distributed-ANN layout. Graph quality per shard is unaffected by
  * sharding; recall only improves (k candidates from EVERY shard).
  */
object Hnsw {

  /** One in-memory HNSW graph (L2 metric). Deterministic level draws
    * (splitmix on the insertion index) keep runs reproducible.
    */
  final class Graph(m: Int, efConstruction: Int) extends Serializable {
    private val mL = 1.0 / math.log(m.toDouble)
    private val maxM0 = 2 * m
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val ids = mutable.ArrayBuffer.empty[Long]
    // links(node)(level) = neighbor node ids
    private val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private val levels = mutable.ArrayBuffer.empty[Int]
    private var entry: Int = -1
    private var maxLevel: Int = -1

    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    private def splitmix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }

    private def drawLevel(n: Int): Int = {
      val u = (splitmix(n.toLong) >>> 11).toDouble / (1L << 53).toDouble
      math.floor(-math.log(u + 1e-18) * mL).toInt
    }

    /** Greedy best-first search on one layer; returns up to ef closest
      * candidates to q as (dist, node), closest first.
      */
    private def searchLayer(q: Array[Float], ep: Int, ef: Int, level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet(ep)
      // candidates: min-heap by dist; results: max-heap by dist
      implicit val byDist: Ordering[(Double, Int)] = Ordering.by(-_._1)
      val cand = mutable.PriorityQueue((- dist(q, vecs(ep)), ep))(Ordering.by(_._1))
      val res = mutable.PriorityQueue((dist(q, vecs(ep)), ep))(Ordering.by(_._1))
      while (cand.nonEmpty) {
        val (negD, c) = cand.dequeue()
        if (-negD > res.head._1 && res.size >= ef) { cand.clear() }
        else {
          val ls = links(c)
          if (level < ls.length) {
            for (nb <- ls(level)) if (visited.add(nb)) {
              val d = dist(q, vecs(nb))
              if (res.size < ef || d < res.head._1) {
                cand.enqueue((-d, nb))
                res.enqueue((d, nb))
                if (res.size > ef) res.dequeue()
              }
            }
          }
        }
      }
      val out = mutable.ArrayBuffer.from(res)
      out.sortInPlace()(Ordering.by(_._1))
      out
    }

    def insert(id: Long, v: Array[Float]): Unit = {
      val n = vecs.length
      vecs += v
      ids += id
      val lvl = drawLevel(n)
      levels += lvl
      links += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = n; maxLevel = lvl; return }
      var ep = entry
      // zoom down through layers above the node's level
      var l = maxLevel
      while (l > lvl) {
        var changed = true
        while (changed) {
          changed = false
          val ls = links(ep)
          if (l < ls.length) for (nb <- ls(l))
            if (dist(v, vecs(nb)) < dist(v, vecs(ep))) { ep = nb; changed = true }
        }
        l -= 1
      }
      // connect on each layer from min(maxLevel, lvl) down to 0
      l = math.min(maxLevel, lvl)
      while (l >= 0) {
        val cands = searchLayer(v, ep, efConstruction, l)
        val cap = if (l == 0) maxM0 else m
        val selected = cands.take(m)
        for ((_, nb) <- selected) {
          links(n)(l) += nb
          val bl = links(nb)(l)
          bl += n
          if (bl.length > cap) {
            // prune to the `cap` closest neighbors of nb
            val pruned = bl.map(x => (dist(vecs(nb), vecs(x)), x))
              .sortInPlace()(Ordering.by(_._1)).take(cap).map(_._2)
            links(nb)(l) = mutable.ArrayBuffer.from(pruned)
          }
        }
        if (cands.nonEmpty) ep = cands.head._2
        l -= 1
      }
      if (lvl > maxLevel) { maxLevel = lvl; entry = n }
    }

    /** top-k (id, l2Distance) for query q, closest first. */
    def search(q: Array[Float], k: Int, efSearch: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Nil
      var ep = entry
      var l = maxLevel
      while (l > 0) {
        var changed = true
        while (changed) {
          changed = false
          val ls = links(ep)
          if (l < ls.length) for (nb <- ls(l))
            if (dist(q, vecs(nb)) < dist(q, vecs(ep))) { ep = nb; changed = true }
        }
        l -= 1
      }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .take(k).map { case (d, node) => (ids(node), math.sqrt(d)) }.toSeq
    }

    def size: Int = vecs.length
  }

  private[graft] def serializeGraph(g: Graph): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(g); oos.close()
    bos.toByteArray
  }

  private[graft] def deserializeGraph(b: Array[Byte]): Graph = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
    val g = ois.readObject().asInstanceOf[Graph]
    ois.close(); g
  }

  /** Build one graph per corpus partition and return them as a
    * DataFrame of serialized shards — the persistable form of the
    * reference's per-chunk usearch model files
    * (`pkg/vectorindex/hnsw/build.go` writes model parts to index
    * tables). Search deserializes each shard once per task and probes
    * all queries against it.
    */
  def buildShardedGraphs(corpus: DataFrame, corpusId: String, corpusVec: String,
      m: Int = 16, efConstruction: Int = 100): DataFrame = {
    val spark = corpus.sparkSession
    val src = corpus.select(col(corpusId).cast("long"), col(corpusVec))
    val rows = src.rdd.mapPartitions { it =>
      val g = new Graph(m, efConstruction)
      it.foreach(r => g.insert(r.getLong(0), r.getSeq[Float](1).toArray))
      if (g.size == 0) Iterator.empty
      else Iterator(Row(serializeGraph(g)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("graph",
        org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(rows, schema)
  }

  /** Probe prebuilt shard graphs with one literal query vector; returns
    * (neighbor_id, score) of the global top-k.
    */
  def searchShards(graphs: DataFrame, q: Array[Float], k: Int,
      efSearch: Int = 64): DataFrame = {
    val spark = graphs.sparkSession
    val qB = spark.sparkContext.broadcast(q)
    val rows = graphs.select(col("graph")).rdd.mapPartitions { it =>
      it.flatMap { r =>
        deserializeGraph(r.getAs[Array[Byte]](0))
          .search(qB.value, k, efSearch)
          .map { case (id, d) => Row(id, d) }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rows, schema)
      .orderBy(asc("score"), col("neighbor_id")).limit(k)
  }

  /** Probe prebuilt shard graphs (from [[buildShardedGraphs]] /
    * `VectorIndex.hnsw`) with a broadcast query set — the pure
    * `hnsw_search` path: each shard deserializes once per task and
    * answers every query; output schema matches `Knn.bruteForceTopK`.
    */
  def probeShards(graphs: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, efSearch: Int = 64): DataFrame = {
    val spark = graphs.sparkSession
    QueryGuard.check(queries, "Hnsw.probeShards")
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), col(queryVec))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qB = spark.sparkContext.broadcast(qRows)
    val rows = graphs.select(col("graph")).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val g = deserializeGraph(r.getAs[Array[Byte]](0))
        qB.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, k + 1, efSearch).collect {
            case (nid, d) if nid != qid => Row(qid, nid, d)
          }
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rows, schema)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(asc("score"), col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }
}
