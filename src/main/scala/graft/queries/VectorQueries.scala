package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-search queries over `embeddings` (array<float>, 64-dim):
  * norms/scalar functions, exact KNN (cosine + L2), per-label centroids,
  * most-similar pairs, and IVF approximate KNN.
  */
object VectorQueries extends QueryModule {

  // DuckDB helpers: double-widened elementwise math over list<float>
  private val DOT =
    "list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) for i in range(1, 65)])"
  private def norm(tbl: String) =
    s"sqrt(list_sum([CAST($tbl.embedding[i] AS DOUBLE) * CAST($tbl.embedding[i] AS DOUBLE) for i in range(1, 65)]))"

  // ------------------------------------------------------------ v1 norms
  private def v1(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding")
    Tables.embeddings(s, d).select(
        col("vec_id"),
        vectorDims(e).cast("long").as("dims"),
        round(l1Norm(e), 6).as("l1"),
        round(l2Norm(e), 6).as("l2"),
        round(l2Norm(subvector(e, 1, 8)), 6).as("sub_l2"),
        round(summation(e), 6).as("total"))
      .orderBy(col("vec_id"))
  }

  private val v1Sql =
    """SELECT vec_id,
      |  len(embedding) AS dims,
      |  round(list_sum([abs(CAST(embedding[i] AS DOUBLE)) for i in range(1, 65)]), 6) AS l1,
      |  round(sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) for i in range(1, 65)])), 6) AS l2,
      |  round(sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) for i in range(1, 9)])), 6) AS sub_l2,
      |  round(list_sum([CAST(embedding[i] AS DOUBLE) for i in range(1, 65)]), 6) AS total
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ v2 cosine KNN
  private def v2(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Knn.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id").isin(0, 1, 2)), "vec_id", "embedding",
        k = 10, metric = Knn.Cosine)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val v2Sql =
    s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |s AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |        $DOT / (${norm("a")} * ${norm("q")}) AS cos
       |      FROM embeddings a, q WHERE a.vec_id <> q.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM s)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, round(cos, 6) AS score
       |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------- v3 L2 KNN
  private def v3(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Knn.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id").isin(3, 4)), "vec_id", "embedding",
        k = 10, metric = Knn.L2)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val v3Sql =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (3, 4)),
      |s AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
      |        sqrt(list_sum([(CAST(a.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE))
      |                       * (CAST(a.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE))
      |                       for i in range(1, 65)])) AS dist
      |      FROM embeddings a, q WHERE a.vec_id <> q.vec_id),
      |r AS (SELECT query_id, neighbor_id, dist,
      |        row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rnk
      |      FROM s)
      |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, round(dist, 6) AS score
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------- v4 centroids
  private def v4(s: SparkSession, d: String): DataFrame =
    Knn.groupCentroids(Tables.embeddings(s, d), "label", "embedding")
      .select(col("label"),
        round(l2Norm(col("centroid")), 6).as("centroid_norm"),
        round(element_at(col("centroid"), 1), 6).as("first_dim"),
        round(summation(col("centroid")), 6).as("total"))
      .orderBy(col("label"))

  private val v4Sql =
    """WITH x AS (
      |  SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
      |  FROM embeddings CROSS JOIN range(1, 65) r(i)
      |  GROUP BY label, i)
      |SELECT label,
      |  round(sqrt(sum(m * m)), 6) AS centroid_norm,
      |  round(max(CASE WHEN i = 1 THEN m END), 6) AS first_dim,
      |  round(sum(m), 6) AS total
      |FROM x GROUP BY label ORDER BY label""".stripMargin

  // -------------------------------------------------- v5 similar pairs
  /** Top most-similar pairs WITHIN each label block: exact scores, but
    * candidate generation is a hash self-join on the blocking key — no
    * cartesian anywhere in the plan (asserted in PlanSpec), so the
    * quadratic cost is bounded per block at any corpus size. The
    * unblocked exact variant lives behind a guard
    * ([[graft.operators.Knn.selfJoinPairs]]).
    */
  private def v5(s: SparkSession, d: String): DataFrame =
    Knn.blockedPairs(Tables.embeddings(s, d), "vec_id", "label", "embedding",
        Knn.Cosine)
      .orderBy(desc("score"), col("a_id"), col("b_id"))
      .limit(20)
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score"))

  private val v5Sql =
    s"""WITH p AS (
       |  SELECT a.vec_id AS a_id, q.vec_id AS b_id,
       |         $DOT / (${norm("a")} * ${norm("q")}) AS cos
       |  FROM embeddings a JOIN embeddings q
       |    ON a.label = q.label AND a.vec_id < q.vec_id)
       |SELECT a_id, b_id, round(cos, 6) AS score FROM p
       |ORDER BY cos DESC, a_id, b_id LIMIT 20""".stripMargin

  /** Recall summary shared by the ANN queries: per query, the result
    * count and whether overlap with the IN-QUERY brute-force top-10
    * meets `perQ`; plus a `query_id = -1` total row bounding aggregate
    * recall. Every emitted value is deterministically checkable —
    * DuckDB's oracle re-derives the expected constants — which turns the
    * approximate-index queries into hard oracle entries (bounds
    * calibrated with ≥2 hits of margin on sf0.001/sf0.01; the index
    * builds are seed-fixed and deterministic per corpus).
    */
  private def recallSummary(res: DataFrame, bf: DataFrame,
      perQ: Int, total: Int): DataFrame = {
    // ONE pass over the probe result: mark each row as brute-force hit
    // or not via a broadcast left join (bf's rows are unique per
    // (query_id, neighbor_id) by construction — row_number ranks), then
    // a single per-query aggregate carries both the result count and the
    // overlap. The previous shape (separate counts/overlaps frames,
    // joined once for the per-query rows and AGAIN for the total row)
    // duplicated the whole brute-force subtree in the plan (2× the
    // corpus scans) and planned 50-row SortMergeJoins; the probe was
    // pinned with a localCheckpoint to dodge a triple execution. Now
    // only the 1-row-per-query summary is pinned (per + total read it),
    // and probe AND brute force each execute exactly once.
    val hits = bf.select(col("query_id"), col("neighbor_id"))
      .withColumn("_hit", lit(1L))
    val base = res.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(hits), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_results"),
        sum(coalesce(col("_hit"), lit(0L))).as("_overlap"))
      .localCheckpoint(true)
    val per = base.select(col("query_id"), col("n_results"),
      (col("_overlap") >= perQ).as("recall_ok"))
    val tot = base
      .agg(sum(col("n_results")).cast("long").as("n_results"),
        (sum(col("_overlap")) >= total).as("recall_ok"))
      .select(lit(-1L).as("query_id"), col("n_results"), col("recall_ok"))
    per.unionByName(tot).orderBy(col("query_id"))
  }

  /** DuckDB side of [[recallSummary]]: the expected per-query and total
    * constants (k results each, all bounds met).
    */
  private def recallSummarySql(k: Int, nQueries: Int) =
    s"""SELECT vec_id AS query_id, CAST($k AS BIGINT) AS n_results, true AS recall_ok
       |FROM embeddings WHERE vec_id < $nQueries
       |UNION ALL
       |SELECT -1, ${k * nQueries}, true
       |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------- v6 IVF KNN
  /** IVF probe (nprobe 8/16) summarized against in-query brute force —
    * hard-oracled per [[recallSummary]].
    */
  private def v6(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
    // index DDL once per corpus (ivf_create), pure probe per query
    // (ivf_search) — the KMeans fit is never charged to the query
    val idx = graft.plans.VectorIndex.ivfFlat(s"emb-$d", emb, "embedding",
      nlist = 16, nprobe = 4)
    val res = Knn.ivfProbe(idx, q, "vec_id", "embedding",
      k = 10, corpusId = "vec_id", nprobe = 8)
    val bf = Knn.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
      "embedding", k = 10, metric = Knn.L2)
    recallSummary(res, bf, perQ = 3, total = 30)
  }

  // ------------------------------------------- v7 embedding near-dup LSH
  /** Hyperplane-LSH near-dup pairs at cosine ≥ 0.9 with exact
    * verification. The raw corpus has no such pairs (max pair cosine
    * < 0.8) — a vacuous 0 = 0 oracle — so both engines run over the SAME
    * augmented relation: copies of vec_id 0/1 re-keyed at 1000000+
    * (cosine exactly 1 with their originals, representation-independent),
    * making the oracle row exercise candidate generation, exact verify
    * AND the no-false-positives property at once. LSH recall on true
    * near- (not exact-) duplicates stays covered by KnnSpec's planted
    * perturbations.
    */
  private def v7(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val planted = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"), col("label"))
    // a TRUE near-dup (cosine in [0.9, 1)) exercises the threshold
    // boundary, not just cosine = 1: zero the first 4 components of
    // vec_id 2's embedding — an EXACT transform both engines reproduce
    // bit-identically (cos = sqrt(1 - prefixMass/‖v‖²): 0.9747 at
    // sf0.01, 0.9627 at sf0.001 — verified offline to collide with the
    // original in every LSH band at both SFs, so recall is
    // deterministic, not probabilistic)
    val nearDup = emb.filter(col("vec_id") === 2)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        expr("concat(array_repeat(CAST(0.0 AS FLOAT), 4), " +
          "slice(embedding, 5, size(embedding) - 4))").as("embedding"),
        col("label"))
    Knn.cosineLshPairs(emb.unionByName(planted).unionByName(nearDup),
        "vec_id", "embedding", 0.9)
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val v7Sql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 2
       |  UNION ALL
       |  SELECT vec_id + 2000000,
       |         list_concat([CAST(0 AS FLOAT), 0, 0, 0], embedding[5:])
       |  FROM embeddings WHERE vec_id = 2),
       |p AS (
       |  SELECT a.vec_id AS a_id, q.vec_id AS b_id,
       |         $DOT / (${norm("a")} * ${norm("q")}) AS cos
       |  FROM e a JOIN e q ON a.vec_id < q.vec_id)
       |SELECT a_id, b_id, round(cos, 6) AS score FROM p WHERE cos >= 0.9
       |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------- v8 HNSW KNN
  /** Sharded HNSW graph probe (ef 80) summarized against in-query brute
    * force — hard-oracled per [[recallSummary]] (observed recall 1.0).
    */
  private def v8(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
    // index DDL once per corpus (hnsw_create), pure graph probe per
    // query (hnsw_search) — graph construction never charged to the query
    val idx = graft.plans.VectorIndex.hnsw(s"emb-$d", emb, "vec_id",
      "embedding", m = 16, efConstruction = 100, efSearch = 80)
    val res = graft.operators.Hnsw.probeShards(idx.graphs, q, "vec_id",
      "embedding", k = 10, efSearch = idx.efSearch)
    val bf = Knn.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
      "embedding", k = 10, metric = Knn.L2)
    recallSummary(res, bf, perQ = 8, total = 45)
  }

  // ------------------------------------------------------- v9 IVF-PQ KNN
  /** ADC probe + exact refine (×200) summarized against in-query brute
    * force — hard-oracled per [[recallSummary]].
    */
  private def v9(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
    // index DDL once per corpus (ivfpq_create: coarse KMeans + subspace
    // codebooks + materialized codes), pure ADC probe per query
    val idx = graft.plans.VectorIndex.ivfPq(s"emb-$d", emb, "vec_id",
      "embedding", nlist = 16, mSub = 8, codebookSize = 16, nprobe = 12)
    val res = graft.operators.IvfPq.search(idx.codes, idx.model, q,
      "vec_id", "embedding", k = 10, nprobe = 12, refine = 200, corpus = emb,
      corpusId = "vec_id", corpusVec = "embedding")
    val bf = Knn.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id",
      "embedding", k = 10, metric = Knn.L2)
    recallSummary(res, bf, perQ = 6, total = 40)
  }

  // ---------------------------------------------- vs1 index DDL via SQL
  /** The reference's vector-index DDL as raw SQL (`create index ...
    * using ivfflat on t(col) lists=N op_type "vector_l2_ops"`, BVT
    * `cases/vector/vector_ivfflat_include_end_to_end.sql:21`) through
    * [[graft.sql.GraftSql]], then plain `ORDER BY l2_distance(...)
    * LIMIT k` SQL that the ANN planner rule rewrites to the IVF probe —
    * the full `create index` → `ivf_search` path with zero Scala API.
    * Output is the same hard recall summary as v6.
    */
  private def vs1(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    emb.createOrReplaceTempView("embeddings")
    // CREATE of an existing name errors (reference: "duplicate key
    // name") — drop first so the query is re-runnable in one session
    graft.sql.GraftSql.sql(s, "DROP INDEX vs1_ivf ON embeddings")
    val ddl = graft.sql.GraftSql.sql(s,
      """CREATE INDEX vs1_ivf USING IVFFLAT ON embeddings(embedding)
        |lists=16 nprobe=8 op_type "vector_l2_ops"""".stripMargin)
    assert(ddl.head.getAs[String]("status") == "created")
    val qvecs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val res = qvecs.map { case (id, v) =>
      val arr = v.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
      s.sql(
        s"""SELECT CAST($id AS BIGINT) AS query_id, vec_id AS neighbor_id
           |FROM (SELECT * FROM embeddings
           |      ORDER BY l2_distance(embedding, $arr) LIMIT 10)""".stripMargin)
    }.reduce(_.unionByName(_))
    val bf = Knn.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
      metric = Knn.L2)
    recallSummary(res, bf, perQ = 3, total = 30)
  }

  override val queries: Seq[Q] = Seq(
    Q("vs1_index_ddl_sql", vs1, Some(recallSummarySql(10, 5))),
    Q("v9_ivfpq_knn", v9, Some(recallSummarySql(10, 5))),
    Q("v8_hnsw_knn", v8, Some(recallSummarySql(10, 5))),
    Q("v7_embedding_neardup_lsh", v7, Some(v7Sql)),
    Q("v1_vector_norms", v1, Some(v1Sql)),
    Q("v2_knn_cosine", v2, Some(v2Sql)),
    Q("v3_knn_l2", v3, Some(v3Sql)),
    Q("v4_label_centroids", v4, Some(v4Sql)),
    Q("v5_similar_pairs", v5, Some(v5Sql)),
    Q("v6_ivf_knn", v6, Some(recallSummarySql(10, 5))),
    Q("v10_int8_quant", v10, Some(v10Sql)),
    Q("v11_vec_arith", v11, Some(v11Sql)))

  // ------------------------------------------- v10 int8 quantizing cast
  /** The reference's vecf32 → vecint8 quantizing cast (NarrowVec.quant:
    * round half away from zero, saturate to [-128,127]) applied to a
    * scaled embedding — the storage-shrink step of an embedding pipeline
    * (4× smaller vectors at 100 TB). Summarized per row (element sum +
    * saturated-element count) so the DuckDB oracle replays the exact
    * kernel arithmetic.
    */
  private def v10(s: SparkSession, d: String): DataFrame = {
    val qv = "mo_vec_quant_d(transform(embedding, x -> CAST(x AS DOUBLE) * 37.5D), 'int8', 0)"
    Tables.embeddings(s, d).selectExpr(
        "vec_id",
        s"CAST(aggregate($qv, 0D, (a, x) -> a + x) AS DOUBLE) AS qsum",
        s"CAST(size(filter($qv, x -> x = 127D OR x = -128D)) AS BIGINT) AS saturated")
      .orderBy(col("vec_id"))
  }

  private def v10Sql =
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> GREATEST(-128.0, LEAST(127.0,
      |    FLOOR(ABS(CAST(x AS DOUBLE) * 37.5) + 0.5)
      |      * (CASE WHEN x < 0 THEN -1 ELSE 1 END)))) AS qv
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(list_sum(qv) AS DOUBLE) AS qsum,
      |  CAST(len(list_filter(qv, x -> x = 127 OR x = -128)) AS BIGINT) AS saturated
      |FROM q ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ v11 vec arithmetic
  /** Elementwise vector arithmetic ([[graft.functions.VecArithExpr]] via
    * the VecArithRule resolution rule): `embedding * 0.5` broadcasts the
    * scalar, then the native l2 kernel measures the shrink distance.
    * The 0.5 scalar is exactly representable, so the f32 compute path
    * agrees bit-for-bit with the oracle's double math.
    */
  private def v11(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).selectExpr(
        "vec_id",
        "CAST(round(l2_distance(embedding, embedding * 0.5D), 6) AS DOUBLE) AS shrink_dist")
      .orderBy(col("vec_id"))

  private def v11Sql =
    """SELECT vec_id,
      |  round(sqrt(list_sum([pow(CAST(embedding[i] AS DOUBLE) / 2, 2)
      |    for i in range(1, 65)])), 6) AS shrink_dist
      |FROM embeddings ORDER BY vec_id""".stripMargin
}
