package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** K-nearest-neighbor search over embedding columns.
  *
  * Reference surface: ProductL2 brute-force scoring join
  * (`pkg/sql/colexec/productl2/types.go:54`) and the IVFFLAT index
  * (`pkg/vectorindex/ivfflat/`, k-means build in `ivfflat/kmeans/`,
  * planner rewrite `apply_indices_ivfflat.go`).
  *
  * Scale design:
  *  - Brute force = broadcast the (small) query set against the
  *    partitioned corpus: each partition scores its slice and emits
  *    per-query partial top-k; the final top-k is a tiny shuffle. No
  *    corpus-side shuffle at all.
  *  - IVF = MLlib KMeans (distributed Lloyd's) builds nlist centroids;
  *    the corpus is assigned once (one scan) and bucketed by cell;
  *    queries probe only `nprobe` cells → the scored fraction is
  *    nprobe/nlist of the corpus. At 100 TB the cell assignment would be
  *    written out partitioned by cell so probes prune at the file level
  *    (partition pruning ≙ the reference's index scan).
  */
object Knn {

  sealed trait Metric
  case object Cosine extends Metric // higher = closer
  case object L2 extends Metric     // lower = closer

  private def score(metric: Metric, a: Column, b: Column): Column = metric match {
    case Cosine => cosineSimilarity(a, b)
    case L2 => l2Distance(a, b)
  }

  private def rankOrder(metric: Metric): Column = metric match {
    case Cosine => desc("_score")
    case L2 => asc("_score")
  }

  /** Exact top-k neighbors for every query row. `queries` must be small
    * enough to broadcast (it is hint-broadcast); the corpus is scanned
    * once, partition-parallel.
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, metric: Metric = Cosine): DataFrame = {
    // cosine: precompute norms once per row BEFORE the join so the
    // per-pair work is a single dot product
    val (cSide, qSide, scoreCol) = metric match {
      case Cosine => (
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"),
          l2Norm(col(corpusVec)).as("_cn")),
        queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"),
          l2Norm(col(queryVec)).as("_qn")),
        innerProduct(col("_cv"), col("_qv")) / (col("_cn") * col("_qn")))
      case L2 => (
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv")),
        queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv")),
        l2Distance(col("_cv"), col("_qv")))
    }
    val scored = cSide.crossJoin(broadcast(qSide))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("_score", scoreCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(rankOrder(metric), col("neighbor_id"))
    scored
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .select(col("query_id"), col("_rank").as("rank"),
        col("neighbor_id"), col("_score").as("score"))
  }

  /** Exact all-pairs scoring WITHIN a blocking key: the self-join
    * shuffles on `blockCol` (plain hash join, never a cartesian), so the
    * quadratic cost is bounded per block — the standard blocked-dedup
    * shape that survives a 100× scale-up as long as blocks stay bounded.
    * Pairs span a block; cross-block pairs are out of scope by contract.
    */
  def blockedPairs(df: DataFrame, idCol: String, blockCol: String,
      vecCol: String, metric: Metric = Cosine): DataFrame = {
    val base = metric match {
      case Cosine =>
        // normalize once per row: per-pair cost is one dot product
        df.select(col(blockCol).as("_blk"), col(idCol).as("_id"),
            col(vecCol).as("_v"), l2Norm(col(vecCol)).as("_n"))
          .select(col("_blk"), col("_id"),
            transform(col("_v"), x => x.cast("double") / col("_n")).as("_nv"))
      case L2 =>
        df.select(col(blockCol).as("_blk"), col(idCol).as("_id"),
          col(vecCol).as("_nv"))
    }
    val a = base.select(col("_blk"), col("_id").as("a_id"), col("_nv").as("_va"))
    val b = base.select(col("_blk"), col("_id").as("b_id"), col("_nv").as("_vb"))
    val scoreCol = metric match {
      case Cosine => innerProduct(col("_va"), col("_vb"))
      case L2 => l2Distance(col("_va"), col("_vb"))
    }
    a.join(b, Seq("_blk")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), scoreCol.as("score"))
  }

  /** Exact all-pairs scoring (a_id < b_id) — an UNBLOCKED cartesian,
    * guarded to small inputs; the scale paths are [[blockedPairs]],
    * LSH (see Dedup / [[cosineLshPairs]]) or IVF cell-blocking.
    */
  def selfJoinPairs(df: DataFrame, idCol: String, vecCol: String,
      metric: Metric = Cosine): DataFrame = {
    QueryGuard.check(df, "selfJoinPairs", max = 100000L)
    selfJoinPairsUnguarded(df, idCol, vecCol, metric)
  }

  private def selfJoinPairsUnguarded(df: DataFrame, idCol: String, vecCol: String,
      metric: Metric = Cosine): DataFrame = metric match {
    case Cosine =>
      // normalize once per row (norm as its own column so it is evaluated
      // once, not per element): per-pair cost collapses to one dot product
      val n = df
        .select(col(idCol).as("_id"), col(vecCol).as("_v"),
          l2Norm(col(vecCol)).as("_n"))
        .select(col("_id"),
          transform(col("_v"), x => x.cast("double") / col("_n")).as("_nv"))
      val a = n.select(col("_id").as("a_id"), col("_nv").as("_va"))
      val b = n.select(col("_id").as("b_id"), col("_nv").as("_vb"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          innerProduct(col("_va"), col("_vb")).as("score"))
    case L2 =>
      val a = df.select(col(idCol).as("a_id"), col(vecCol).as("_va"))
      val b = df.select(col(idCol).as("b_id"), col(vecCol).as("_vb"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          score(metric, col("_va"), col("_vb")).as("score"))
  }

  /** Probe-only IVF search against a prebuilt
    * [[graft.plans.VectorIndex.IvfFlat]]
    * (≙ `ivf_search`): rank cells per query against the broadcast
    * centroid table, scan just those cell partitions, exact distances
    * within. The KMeans build is never charged to the query.
    */
  def ivfProbe(idx: graft.plans.VectorIndex.IvfFlat,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, corpusId: String, nprobe: Int = 0): DataFrame = {
    val np = if (nprobe > 0) nprobe else idx.nprobe
    // cell ranking happens DRIVER-side: the query batch is
    // QueryGuard-capped (like the HNSW/IVF-PQ probes) and the centroid
    // set is tiny, so ranking nlist centroids per query costs
    // microseconds — versus a crossJoin + window shuffle stage pair
    // whose per-stage scheduler floor dominates small probes
    val spark = queries.sparkSession
    // guard + collect in ONE job: take(cap + 1) bounds the driver pull.
    // The id column is collected AS-IS (no cast) so string/decimal ids
    // survive and the output query_id keeps the input type.
    val qRaw = queries
      .select(col(queryId), col(queryVec))
      .limit(QueryGuard.MaxQueryRows.toInt + 1).collect()
    if (qRaw.length > QueryGuard.MaxQueryRows)
      throw new IllegalArgumentException(
        s"Knn.ivfProbe: query side has > ${QueryGuard.MaxQueryRows} rows; " +
          "this operator collects and broadcasts the query set " +
          "(query << corpus regime). Batch the queries instead.")
    val probeRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(qRaw.flatMap { r =>
        val qv = r.getSeq[Float](1).toArray
        Centroids.rank(idx.centroids, qv.map(_.toDouble), np).map { cell =>
          org.apache.spark.sql.Row(r.get(0), qv.toSeq, cell)
        }
      }: _*)
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "query_id", queries.schema(queryId).dataType),
      org.apache.spark.sql.types.StructField("_qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("__ivf_cell",
        org.apache.spark.sql.types.IntegerType)))
    val probes = spark.createDataFrame(probeRows, probeSchema)
    // the probed cells are known driver-side — push a STATIC
    // `__ivf_cell IN (...)` filter so the scan prunes the materialized
    // index's partition directories before the join (a broadcast join
    // alone leaves the pruning to DPP, which small plans skip)
    import scala.jdk.CollectionConverters._
    val probedCells = probeRows.asScala.map(_.getInt(2)).toSeq.distinct
    val scored = broadcast(probes)
      .join(idx.cells.filter(col("__ivf_cell").isin(probedCells: _*)),
        Seq("__ivf_cell"))
      .filter(col(corpusId) =!= col("query_id"))
      .withColumn("_score", l2Distance(col(idx.vecCol), col("_qv")))
    scored
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(asc("_score"), col(corpusId))))
      .filter(col("_rank") <= k)
      .select(col("query_id"), col("_rank").as("rank"),
        col(corpusId).as("neighbor_id"), col("_score").as("score"))
  }

  /** Random-hyperplane LSH signature for cosine similarity: bit j is the
    * sign of v·h_j where hyperplane components h_j[i] ∈ {−1, +1} come from
    * a deterministic affine hash of (plane j, dim i). Same-signature
    * probability per bit is 1 − θ/π.
    */
  def cosineLshBits(vec: Column, planes: Int): Column =
    transform(sequence(lit(0), lit(planes - 1)), j =>
      when(aggregate(
        zip_with(vec, sequence(lit(1), size(vec)), (x, i) =>
          x.cast("double") *
            (pmod(j * 131071 + i * lit(2654435761L), lit(1000003L))
              .bitwiseAND(lit(1L)).cast("double") * 2 - 1)),
        lit(0.0), (acc, x) => acc + x) > 0, lit(1L)).otherwise(lit(0L)))

  /** Approximate cosine near-dup pairs via hyperplane-LSH banding +
    * exact-cosine verification. Recall is probabilistic (not pigeonhole
    * like SimHash): with 32 planes in 4 bands, pairs at cosine ≥ 0.95
    * are found w.p. ≈ 0.95; exact duplicates always collide. The scale
    * path beside exact [[selfJoinPairs]].
    */
  def cosineLshPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int = 32, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val bits = planes / bands
    val sigs = df
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        cosineLshBits(col(vecCol), planes).as("_bits"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = sigs.select(col("_id"), col("_v"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          c => concat_ws("", slice(col("_bits"), c * bits + 1, lit(bits))))))
      .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_key")
    val okBuckets = chunked.groupBy(col("_band"), col("_key"))
      .agg(count(lit(1)).as("_bucket_n"))
      .filter(col("_bucket_n") <= maxBucket)
      .select(col("_band"), col("_key"))
    val sized = chunked.join(okBuckets, Seq("_band", "_key"), "left_semi")
    val a = sized.select(col("_band"), col("_key"), col("_id").as("a_id"), col("_v").as("_va"))
    val b = sized.select(col("_band"), col("_key"), col("_id").as("b_id"), col("_v").as("_vb"))
    a.join(b, Seq("_band", "_key")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosineSimilarity(col("_va"), col("_vb")).as("score"))
      .distinct()
      .filter(col("score") >= threshold)
  }

  /** Elementwise centroid (mean vector) per group — `summation`/avg over
    * the vector dimension via posexplode + re-assemble.
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("_pos", "_v")))
      .groupBy(col(groupCol), col("_pos"))
      .agg(avg(col("_v").cast("double")).as("_mean"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_mean")))).as("_pairs"))
      .select(col(groupCol), transform(col("_pairs"), p => p.getField("_mean")).as("centroid"))
}
