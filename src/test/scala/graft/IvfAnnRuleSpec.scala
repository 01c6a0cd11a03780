package graft

import graft.functions.VectorFunctions
import graft.plans.VectorIndex
import graft.sql.{GraftSql, MoCatalog}
import org.apache.spark.sql.DataFrame
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

  private def buildIvf(): Unit =
    VectorIndex.ivfFlat("emb_ivf", corpus, "embedding", nlist = 8, nprobe = 3)

  test("ORDER BY l2_distance LIMIT k is rewritten to an IVF cell probe") {
    VectorIndex.clear(spark)
    val before = knnQuery.queryExecution.optimizedPlan.toString
    assert(!before.contains("__ivf_cell"), "rewrite fired without an index")

    buildIvf()
    try {
      val after = knnQuery
      val planStr = after.queryExecution.optimizedPlan.toString
      assert(planStr.contains("__ivf_cell") || planStr.contains("ivf"),
        s"ANN rewrite did not fire:\n$planStr")

      // rewritten result is a valid approximate top-k: high recall vs brute
      val approx = after.select("vec_id").collect().map(_.getLong(0)).toSet
      VectorIndex.clear(spark)
      val exact = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.7, s"recall $recall")
    } finally VectorIndex.clear(spark)
  }

  test("ORDER BY cosine_distance LIMIT k also takes the IVF probe") {
    VectorIndex.clear(spark)
    val q = typedlit(queryVec)
    def cosQuery = corpus
      .orderBy(VectorFunctions.cosineDistance(col("embedding"), q).asc).limit(10)
    assert(!cosQuery.queryExecution.optimizedPlan.toString.contains("__ivf_cell"))

    buildIvf()
    try {
      val after = cosQuery
      assert(after.queryExecution.optimizedPlan.toString.contains("__ivf_cell"),
        "cosine ANN rewrite did not fire")
      val approx = after.select("vec_id").collect().map(_.getLong(0)).toSet
      VectorIndex.clear(spark)
      val exact = cosQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.6, s"cosine recall $recall")
    } finally VectorIndex.clear(spark)
  }

  test("ORDER BY cosine_similarity DESC LIMIT k matches the same pattern") {
    buildIvf()
    try {
      val q = typedlit(queryVec)
      val plan = corpus
        .orderBy(VectorFunctions.cosineSimilarity(col("embedding"), q).desc).limit(10)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("__ivf_cell"), s"similarity-DESC rewrite did not fire:\n$plan")
    } finally VectorIndex.clear(spark)
  }

  test("HNSW rule: l2 top-k over an hnsw-indexed corpus becomes a graph probe") {
    VectorIndex.clear(spark)
    VectorIndex.hnsw("emb_hnsw", corpus, "vec_id", "embedding",
      m = 16, efConstruction = 100, efSearch = 80)
    try {
      val planStr = knnQuery.queryExecution.optimizedPlan.toString
      assert(planStr.toLowerCase.contains("join"),
        s"HNSW rewrite did not fire (no candidate semi-join):\n$planStr")
      val approx = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      VectorIndex.clear(spark)
      val exact = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.8, s"HNSW rewrite recall $recall")
    } finally VectorIndex.clear(spark)
  }

  test("IVF-PQ rule: l2 top-k over a pq-indexed corpus becomes an ADC probe semi-join") {
    VectorIndex.clear(spark)
    val before = knnQuery.queryExecution.optimizedPlan.toString
    assert(!before.toLowerCase.contains("join"), "rewrite fired without an index")

    VectorIndex.ivfPq("emb_pq_spec", corpus, "vec_id", "embedding",
      nlist = 8, mSub = 8, codebookSize = 16, nprobe = 6)
    try {
      val planStr = knnQuery.queryExecution.optimizedPlan.toString
      assert(planStr.toLowerCase.contains("join"),
        s"IVF-PQ rewrite did not fire (no candidate semi-join):\n$planStr")
      val approx = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      VectorIndex.clear(spark)
      val exact = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      assert(recall >= 0.7, s"IVF-PQ rewrite recall $recall")
    } finally VectorIndex.clear(spark)
  }

  test("queries over other tables are untouched when an index exists") {
    buildIvf()
    try {
      val p = Tables.customer(spark, sf).orderBy(col("c_acctbal").desc).limit(5)
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("__ivf_cell"))
      assert(SparkEntry.queries("q1_pricing_summary")(spark, sf).count() == 6)
    } finally VectorIndex.clear(spark)
  }

  test("CREATE INDEX DDL via GraftSql arms the rewrite for plain SQL; DROP disarms") {
    VectorIndex.clear(spark)
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
    } finally VectorIndex.clear(spark)
  }

  // ---------------------------------------------------------------------
  // The SQL vector-index surface over small hand-written tables: four
  // tight clusters of five 3-d rows (one at the origin, one at 10 on each
  // axis), so every kmeans restart finds the same four cells.

  private def sql(q: String): DataFrame = GraftSql.sql(spark, q)

  private def vec(v: Seq[Double]): String = v.mkString("'[", ",", "]'")

  /** Row `id` (1..20) of the clustered table: its cluster's center plus
    * an offset. Each coordinate is distinct across the 20 rows, so no
    * two rows tie on a distance and no PQ subspace holds duplicate
    * residuals (a duplicate can leave a codebook short of its size).
    */
  private def point(id: Int): Seq[Double] = {
    val (c, i) = ((id - 1) / 5, (id - 1) % 5)
    (0 until 3).map(j =>
      (if (c == j + 1) 10.0 else 0.0) + 0.1 * i + 0.013 * c + 0.003 * j * (i + 1))
  }

  /** A managed table `t(id, v, tag)` holding 20 clustered rows. */
  private def clustered(t: String, at: Int => Seq[Double] = point): Unit = {
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (id INT, v ARRAY<FLOAT>, tag INT)")
    val rows = (1 to 20).map(id =>
      s"($id, ${at(id).map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")}, ${id % 2})")
    sql(s"INSERT INTO $t VALUES ${rows.mkString(", ")}")
  }

  /** The exact top-k ids by (l2 distance, id), through plain Spark SQL. */
  private def exactIds(t: String, q: Seq[Double], where: String, k: Int, off: Int): Seq[Int] =
    spark.sql(s"SELECT id FROM $t $where ORDER BY l2_distance(v, " +
        s"${q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")}), id " +
        s"LIMIT $k OFFSET $off")
      .collect().map(_.getInt(0)).toSeq

  private def nestedKnn(t: String, q: Seq[Double], k: Int): DataFrame =
    sql(s"SELECT id FROM (SELECT * FROM $t ORDER BY l2_distance(v, ${vec(q)}) " +
      s"LIMIT $k) s")

  private def ids(df: DataFrame): Seq[Int] = df.collect().map(_.getInt(0)).toSeq

  private def ivf(name: String): VectorIndex.IvfFlat =
    VectorIndex.indexes(spark).collectFirst {
      case ix: VectorIndex.IvfFlat if ix.name == name => ix
    }.getOrElse(fail(s"no ivfflat index $name"))

  private def flatForms(t: String, q: Seq[Double]): Seq[(String, Seq[Int])] = Seq(
    s"SELECT id FROM $t ORDER BY l2_distance(v, ${vec(q)}) LIMIT 4" ->
      exactIds(t, q, "", 4, 0),
    s"SELECT id FROM $t WHERE tag = 0 ORDER BY l2_distance(v, ${vec(q)}) LIMIT 3 OFFSET 2" ->
      exactIds(t, q, "WHERE tag = 0", 3, 2))

  private val q0 = Seq(1.0, 1.2, 0.9)

  test("CREATE INDEX USING HNSW and USING IVFPQ arm the candidate semi-join") {
    VectorIndex.clear(spark)
    val t = "vix_kinds"
    clustered(t)
    try {
      assert(!nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      sql("SET experimental_hnsw_index = 1")
      val hnsw = sql(s"CREATE INDEX vix_hnsw USING HNSW ON $t(v) m=8 ef_construction=40")
      assert(hnsw.head.getAs[String]("status") == "created")
      val hPlan = nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString
      assert(hPlan.contains("LeftSemi") && !hPlan.contains("__ivf_cell"), hPlan)
      assert(ids(nestedKnn(t, q0, 3)).sorted == exactIds(t, q0, "", 3, 0).sorted)
      sql(s"DROP INDEX vix_hnsw ON $t")
      assert(!nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString.contains("LeftSemi"))

      val pq = sql(s"CREATE INDEX vix_pq USING IVFPQ ON $t(v) lists=2 m=3 codebook=4")
      assert(pq.head.getAs[String]("status") == "created")
      val pPlan = nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString
      assert(pPlan.contains("LeftSemi") && !pPlan.contains("__ivf_cell"), pPlan)
      // the ADC over-fetch (100 ids) covers all 20 rows: the re-rank is exact
      assert(ids(nestedKnn(t, q0, 3)).sorted == exactIds(t, q0, "", 3, 0).sorted)
    } finally {
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("IVF-PQ probes an index whose subspace codebooks came out short") {
    VectorIndex.clear(spark)
    val t = "vix_pq_short"
    // coordinates repeat across rows, so kmeans drops duplicate initial
    // centers and some subspace gets fewer than the 4 codewords asked
    clustered(t, id => {
      val (c, i) = ((id - 1) / 5, (id - 1) % 5)
      (0 until 3).map(j => (if (c == j + 1) 10.0 else 0.0) + 0.1 * i + 0.03 * j * i)
    })
    try {
      sql(s"CREATE INDEX vix_pq_s USING IVFPQ ON $t(v) lists=2 m=3 codebook=4")
      val pq = VectorIndex.indexes(spark).collectFirst { case ix: VectorIndex.PqCodes => ix }
        .getOrElse(fail("no ivfpq index"))
      assert(pq.model.codebooks.exists(_.length < 4))
      val plan = nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString
      assert(plan.contains("LeftSemi"), plan)
      assert(nestedKnn(t, q0, 3).count() == 3)
    } finally {
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("the flat ORDER BY ... LIMIT form with probe_limit = lists returns the exact top-k") {
    VectorIndex.clear(spark)
    val t = "vix_flat"
    clustered(t)
    try {
      sql(s"CREATE INDEX vix_flat_idx USING IVFFLAT ON $t(v) lists=4")
      sql("SET probe_limit = 4")
      flatForms(t, q0).foreach { case (stmt, want) =>
        assert(ids(sql(stmt)) == want, stmt)
      }
      // a single probed cell misses rows of other clusters
      sql("SET probe_limit = 1")
      val far = Seq(5.0, 5.0, 0.0)
      assert(ids(sql(s"SELECT id FROM $t ORDER BY l2_distance(v, ${vec(far)}) LIMIT 10"))
        .size <= 5)
    } finally {
      sql("SET probe_limit = 5")
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("the flat ANN form ranks with a top-k, not a global window") {
    VectorIndex.clear(spark)
    val t = "vix_topk"
    clustered(t)
    try {
      sql(s"CREATE INDEX vix_topk_idx USING IVFFLAT ON $t(v) lists=4")
      sql("SET probe_limit = 4")
      flatForms(t, q0).foreach { case (stmt, want) =>
        val df = sql(stmt)
        assert(ids(df) == want, stmt)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Window"), s"$stmt\n$plan")
      }
    } finally {
      sql("SET probe_limit = 5")
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("mo_catalog entries assign every row to its cell in the index") {
    VectorIndex.clear(spark)
    val t = "vix_entries"
    clustered(t)
    try {
      sql(s"CREATE INDEX vix_e USING IVFFLAT ON $t(v) lists=4")
      val cells = ivf(s"vix_e-$t-v").cells.select("id", "__ivf_cell").collect()
        .map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
      val tid = MoCatalog.tableId(spark, t)
      val entries = spark.table(s"__mo_index_secondary_${tid}_vix_e_entries")
        .select(col("__mo_index_pri_col").cast("long"),
          col("__mo_index_centroid_fk_id").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cells.size == 20)
      assert(entries == cells)
      // the four natural clusters are the four cells
      assert((1 to 20).groupBy(id => cells(id.toLong)).values.map(_.sorted).toSet ==
        (0 until 4).map(c => (c * 5 + 1 to c * 5 + 5).toIndexedSeq).toSet)
    } finally {
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("ALTER REINDEX ... lists=N rebuilds the index") {
    VectorIndex.clear(spark)
    val t = "vix_alter"
    clustered(t)
    try {
      sql(s"CREATE INDEX vix_a USING IVFFLAT ON $t(v) lists=4 include(tag)")
      assert(ivf(s"vix_a-$t-v").centroids.length == 4)
      val r = sql(s"ALTER TABLE $t ALTER REINDEX vix_a IVFFLAT lists=2")
      assert(r.head.getAs[String]("status") == "rebuilt")
      val rebuilt = ivf(s"vix_a-$t-v")
      assert(rebuilt.nlist == 2 && rebuilt.centroids.length == 2)
      assert(rebuilt.cells.select("__ivf_cell").distinct().count() == 2)
      assert(nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString.contains("__ivf_cell"))
      // the mo_catalog entries view assigns by the rebuilt centroids and
      // still carries the include(...) column
      val cells = rebuilt.cells.select("id", "__ivf_cell").collect()
        .map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
      val entries = spark.table(
          s"__mo_index_secondary_${MoCatalog.tableId(spark, t)}_vix_a_entries")
        .select(col("__mo_index_pri_col").cast("long"),
          col("__mo_index_centroid_fk_id").cast("long"), col("__mo_index_include_tag"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cells.size == 20)
      assert(entries == cells)
    } finally {
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("of two IVF indexes on one column, the later created serves") {
    VectorIndex.clear(spark)
    val t = "vix_two"
    clustered(t)
    // the indexes whose rows the kNN query reads
    def served: Set[String] = {
      val files = nestedKnn(t, q0, 3).inputFiles
      VectorIndex.indexes(spark).filter(_.name.contains(s"-$t-")).collect {
        case ix if files.exists(_.contains(s"/${new org.apache.hadoop.fs.Path(ix.dir).getName}/")) =>
          ix.name
      }.toSet
    }
    def create(name: String, lists: Int): Unit =
      sql(s"CREATE INDEX $name USING IVFFLAT ON $t(v) lists=$lists")
    try {
      create("vix_t1", 4)
      create("vix_t2", 2)
      assert(served == Set(s"vix_t2-$t-v"))
      // re-created after a drop, an index is the later one
      sql(s"DROP INDEX vix_t1 ON $t")
      create("vix_t1", 4)
      assert(served == Set(s"vix_t1-$t-v"))
      // and in the other order of creation
      VectorIndex.clear(spark)
      create("vix_t2", 2)
      create("vix_t1", 4)
      assert(served == Set(s"vix_t1-$t-v"))
    } finally {
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }

  test("DROP TABLE leaves no registered index and no index directory") {
    VectorIndex.clear(spark)
    val t = "vix_drop"
    clustered(t)
    sql("SET experimental_hnsw_index = 1")
    sql(s"CREATE INDEX vix_d1 USING IVFFLAT ON $t(v) lists=4")
    sql(s"CREATE INDEX vix_d2 USING HNSW ON $t(v)")
    val mine = VectorIndex.indexes(spark).filter(_.name.contains(s"-$t-"))
    assert(mine.map(_.name).toSet == Set(s"vix_d1-$t-v", s"vix_d2-$t-v"))
    def exists(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    assert(mine.forall(ix => exists(ix.dir)))
    sql(s"DROP TABLE $t")
    assert(!VectorIndex.indexes(spark).exists(_.name.contains(s"-$t-")))
    mine.foreach(ix => assert(!exists(ix.dir), ix.dir))
  }

  test("an IVF and an HNSW index on one column: the IVF rewrite wins") {
    VectorIndex.clear(spark)
    val t = "vix_both"
    clustered(t)
    try {
      sql("SET experimental_hnsw_index = 1")
      sql(s"CREATE INDEX vix_bh USING HNSW ON $t(v)")
      sql(s"CREATE INDEX vix_bi USING IVFFLAT ON $t(v) lists=4")
      val plan = nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString
      assert(plan.contains("__ivf_cell") && !plan.contains("LeftSemi"), plan)
      sql(s"DROP INDEX vix_bi ON $t")
      val after = nestedKnn(t, q0, 3).queryExecution.optimizedPlan.toString
      assert(after.contains("LeftSemi") && !after.contains("__ivf_cell"), after)
    } finally {
      sql(s"DROP TABLE IF EXISTS $t")
      VectorIndex.clear(spark)
    }
  }
}
