package graft

import graft.operators.{Hnsw, IvfPq, Knn}
import graft.plans.VectorIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val emb = Tables.embeddings(spark, sf)

  test("prebuilt ivf index probe matches the recall bound too") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Knn.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, metric = Knn.L2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = VectorIndex.ivfFlat("knnspec", emb, "embedding",
      nlist = 16, nprobe = 8)
    val probed = Knn.ivfProbe(idx, queries, "vec_id", "embedding",
        k = 10, corpusId = "vec_id")
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect probed).size.toDouble / brute.size
    assert(recall >= 0.7, s"indexed IVF recall $recall too low")
  }

  test("hnsw recall vs brute force is high") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Knn.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, metric = Knn.L2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = VectorIndex.hnsw("knnspec_hnsw", emb, "vec_id", "embedding",
      m = 16, efConstruction = 100, efSearch = 80)
    try {
      val hnsw = Hnsw.probeShards(idx.graphs, queries, "vec_id", "embedding",
          k = 10, efSearch = idx.efSearch)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute intersect hnsw).size.toDouble / brute.size
      assert(recall >= 0.9, s"HNSW recall $recall too low")
    } finally VectorIndex.drop(spark, idx.name)
  }

  test("hnsw graph search matches exact scan on a single shard") {
    // one partition = one graph: results must be properly ranked and
    // distances must be true L2 distances
    val idx = VectorIndex.hnsw("knnspec_hnsw_one", emb.repartition(1),
      "vec_id", "embedding")
    try {
      assert(idx.graphs.count() == 1)
      val res = Hnsw.probeShards(idx.graphs, emb.filter(col("vec_id") === 3),
        "vec_id", "embedding", k = 5, efSearch = 120)
        .collect().sortBy(_.getAs[Int]("rank"))
      assert(res.length == 5)
      val scores = res.map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall(p => p(0) <= p(1)), "distances not ascending")
      assert(res.forall(_.getAs[Long]("neighbor_id") != 3L), "query row not excluded")
    } finally VectorIndex.drop(spark, idx.name)
  }

  test("ivfpq with exact refine recovers brute-force neighbors") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Knn.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, metric = Knn.L2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (codes, model) = IvfPq.build(emb, "vec_id", "embedding",
      nlist = 16, mSub = 8, codebookSize = 16)
    val pq = IvfPq.search(codes, model, queries, "vec_id", "embedding",
        k = 10, nprobe = 12, refine = 100,
        corpus = emb, corpusId = "vec_id", corpusVec = "embedding")
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF-PQ refined recall $recall too low")
    // codes really are compressed: mSub codes per row, all within codebook
    val c = codes.head
    assert(c.getSeq[Int](2).size == 8 && c.getSeq[Int](2).forall(x => x >= 0 && x < 16))
  }

  test("brute force topk is symmetric-consistent and correctly ranked") {
    val q = emb.filter(col("vec_id") === 0)
    val res = Knn.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, metric = Knn.Cosine).collect()
    assert(res.length == 5)
    val scores = res.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
    assert(scores.sliding(2).forall(p => p(0) >= p(1)), "scores not descending")
  }

  test("cosine LSH finds planted duplicate embeddings") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val pairs = Knn.cosineLshPairs(base.union(copies), "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 20).count(i => pairs.contains((i.toLong, i + 1000L)))
    assert(found == 20, s"LSH missed exact duplicates: $found/20")
  }

  test("group centroids have full dimensionality") {
    val c = Knn.groupCentroids(emb, "label", "embedding")
    assert(c.select(size(col("centroid"))).head.getInt(0) == 64)
    assert(c.count() == 10)
  }
}
