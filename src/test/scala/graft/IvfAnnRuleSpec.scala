package graft

import graft.functions.VectorFunctions
import graft.plans.IvfIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfAnnRuleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def corpus = Tables.embeddings(spark, sf)

  private def queryVec: Array[Float] =
    corpus.filter(col("vec_id") === 0).head.getSeq[Float](1).toArray

  private def knnQuery = {
    val q = typedlit(queryVec)
    corpus.orderBy(VectorFunctions.l2Distance(col("embedding"), q).asc).limit(10)
  }

  test("ORDER BY l2_distance LIMIT k is rewritten to an IVF cell probe") {
    IvfIndex.clear(spark)
    val before = knnQuery.queryExecution.optimizedPlan.toString
    assert(!before.contains("__ivf_cell"), "rewrite fired without an index")

    IvfIndex.build("emb_ivf", corpus, "embedding", nlist = 8, nprobe = 3)
    try {
      val after = knnQuery
      val planStr = after.queryExecution.optimizedPlan.toString
      assert(planStr.contains("__ivf_cell") || planStr.contains("ivf"),
        s"ANN rewrite did not fire:\n$planStr")

      // rewritten result is a valid approximate top-k: high recall vs brute
      val approx = after.select("vec_id").collect().map(_.getLong(0)).toSet
      IvfIndex.clear(spark)
      val exact = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.7, s"recall $recall")
    } finally IvfIndex.clear(spark)
  }

  test("ORDER BY cosine_distance LIMIT k also takes the IVF probe") {
    IvfIndex.clear(spark)
    val q = typedlit(queryVec)
    def cosQuery = corpus
      .orderBy(VectorFunctions.cosineDistance(col("embedding"), q).asc).limit(10)
    assert(!cosQuery.queryExecution.optimizedPlan.toString.contains("__ivf_cell"))

    IvfIndex.build("emb_ivf", corpus, "embedding", nlist = 8, nprobe = 3)
    try {
      val after = cosQuery
      assert(after.queryExecution.optimizedPlan.toString.contains("__ivf_cell"),
        "cosine ANN rewrite did not fire")
      val approx = after.select("vec_id").collect().map(_.getLong(0)).toSet
      IvfIndex.clear(spark)
      val exact = cosQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.6, s"cosine recall $recall")
    } finally IvfIndex.clear(spark)
  }

  test("ORDER BY cosine_similarity DESC LIMIT k matches the same pattern") {
    IvfIndex.build("emb_ivf", corpus, "embedding", nlist = 8, nprobe = 3)
    try {
      val q = typedlit(queryVec)
      val plan = corpus
        .orderBy(VectorFunctions.cosineSimilarity(col("embedding"), q).desc).limit(10)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("__ivf_cell"), s"similarity-DESC rewrite did not fire:\n$plan")
    } finally IvfIndex.clear(spark)
  }

  test("HNSW rule: l2 top-k over an hnsw-indexed corpus becomes a graph probe") {
    IvfIndex.clear(spark)
    graft.plans.HnswIndex.clear(spark)
    graft.plans.HnswIndex.forCorpus("emb_hnsw", corpus, "vec_id", "embedding",
      m = 16, efConstruction = 100, efSearch = 80)
    try {
      val planStr = knnQuery.queryExecution.optimizedPlan.toString
      assert(planStr.toLowerCase.contains("join"),
        s"HNSW rewrite did not fire (no candidate semi-join):\n$planStr")
      val approx = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      graft.plans.HnswIndex.clear(spark)
      val exact = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.8, s"HNSW rewrite recall $recall")
    } finally graft.plans.HnswIndex.clear(spark)
  }

  test("IVF-PQ rule: l2 top-k over a pq-indexed corpus becomes an ADC probe semi-join") {
    IvfIndex.clear(spark)
    graft.plans.HnswIndex.clear(spark)
    graft.plans.IvfPqIndex.clear(spark)
    val before = knnQuery.queryExecution.optimizedPlan.toString
    assert(!before.toLowerCase.contains("join"), "rewrite fired without an index")

    graft.plans.IvfPqIndex.forCorpus("emb_pq_spec", corpus, "vec_id", "embedding",
      nlist = 8, mSub = 8, codebookSize = 16, nprobe = 6)
    try {
      val planStr = knnQuery.queryExecution.optimizedPlan.toString
      assert(planStr.toLowerCase.contains("join"),
        s"IVF-PQ rewrite did not fire (no candidate semi-join):\n$planStr")
      val approx = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      graft.plans.IvfPqIndex.clear(spark)
      val exact = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.7, s"IVF-PQ rewrite recall $recall")
    } finally graft.plans.IvfPqIndex.clear(spark)
  }

  test("queries over other tables are untouched when an index exists") {
    IvfIndex.build("emb_ivf", corpus, "embedding", nlist = 8, nprobe = 3)
    try {
      val p = Tables.customer(spark, sf).orderBy(col("c_acctbal").desc).limit(5)
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("__ivf_cell"))
      assert(SparkEntry.queries("q1_pricing_summary")(spark, sf).count() == 6)
    } finally IvfIndex.clear(spark)
  }

  test("CREATE INDEX DDL via GraftSql arms the rewrite for plain SQL; DROP disarms") {
    IvfIndex.clear(spark)
    corpus.createOrReplaceTempView("emb_ddl")
    val arr = queryVec.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
    def sqlKnn = spark.sql(
      s"""SELECT vec_id FROM (SELECT * FROM emb_ddl
         |ORDER BY l2_distance(embedding, $arr) LIMIT 10)""".stripMargin)
    assert(!sqlKnn.queryExecution.optimizedPlan.toString.contains("__ivf_cell"))

    val ddl = graft.sql.GraftSql.sql(spark,
      """CREATE INDEX spec_ivf USING IVFFLAT ON emb_ddl(embedding)
        |lists=8 nprobe=3 op_type "vector_l2_ops"""".stripMargin)
    assert(ddl.head.getAs[String]("status") == "created")
    try {
      val planStr = sqlKnn.queryExecution.optimizedPlan.toString
      assert(planStr.contains("__ivf_cell"),
        s"SQL-surface ANN rewrite did not fire:\n$planStr")
      assert(sqlKnn.count() == 10)
      val drop = graft.sql.GraftSql.sql(spark, "DROP INDEX spec_ivf ON emb_ddl")
      assert(drop.head.getAs[String]("status") == "dropped")
      assert(!sqlKnn.queryExecution.optimizedPlan.toString.contains("__ivf_cell"))
    } finally IvfIndex.clear(spark)
  }
}
