package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ approximate nearest neighbor: coarse inverted lists (IVF) +
  * product-quantized residuals scanned with asymmetric distance (ADC),
  * optionally refined by exact re-ranking.
  *
  * Reference context: the reference ships IVFFLAT (`pkg/vectorindex/
  * ivfflat/`) and HNSW; PQ is the standard memory-bound companion
  * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", IEEE TPAMI 2011) and is what makes 100 TB-scale vector scan
  * viable: a 64-dim float corpus (256 B/row) compresses to `mSub` code
  * bytes (+8 B id), so a probed cell scans from memory instead of disk.
  *
  * Scale design:
  *  - build: coarse centroids via distributed MLlib KMeans; per-subspace
  *    codebooks via mSub more KMeans fits on residual slices (all
  *    distributed, one corpus scan each; build is one-off).
  *  - encode: one `mapPartitions` pass with broadcast codebooks — the
  *    coded corpus is a narrow (id, cell, codes) table, bucketable by
  *    cell so probes prune at file level.
  *  - search: queries are tiny → per-(query, probed-cell) ADC lookup
  *    tables are computed once and BROADCAST; each partition scans its
  *    probed rows with mSub table lookups per row and keeps a local
  *    top-k heap, so the shuffle is only per-partition candidates.
  *  - refine: ADC top-`refine` candidates re-scored exactly against the
  *    original vectors (a small semi-join), recovering most of the
  *    quantization loss.
  */
object IvfPq {

  /** Broadcast-friendly model: coarse centroids + per-subspace codebooks
    * (codebooks(s)(j) is the j-th codeword of subspace s, length dsub).
    */
  final case class Model(
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      mSub: Int, dsub: Int) {
    /** Lookup-table stride: the longest codebook. KMeans drops duplicate
      * initial centers, so a subspace whose residuals repeat can come out
      * with fewer codewords than asked.
      */
    def kk: Int = codebooks.map(_.length).max
  }

  /** ADC lookup tables of one query for its `nprobe` nearest coarse
    * cells: per cell, entry `s * m.kk + j` is the squared distance from
    * the query's residual in subspace `s` to codeword `j`.
    */
  def lookupTables(m: Model, q: Array[Double], nprobe: Int): Map[Int, Array[Double]] = {
    val kk = m.kk
    Centroids.rank(m.centroids, q, nprobe).map { cell =>
      val cent = m.centroids(cell)
      val t = new Array[Double](m.mSub * kk)
      var s = 0
      while (s < m.mSub) {
        val qres = new Array[Double](m.dsub)
        var i = 0
        while (i < m.dsub) { qres(i) = q(s * m.dsub + i) - cent(s * m.dsub + i); i += 1 }
        var j = 0
        while (j < m.codebooks(s).length) {
          t(s * kk + j) = Centroids.l2sq(m.codebooks(s)(j), qres)
          j += 1
        }
        s += 1
      }
      cell -> t
    }.toMap
  }

  /** ADC scan of code rows `(_id, _cell, _codes)` against each query's
    * [[lookupTables]]: keeps a bounded max-heap of the `fetch` nearest
    * rows per query and emits them as (query id, row id, squared ADC
    * distance). With `skipSelf` a row is never its own query's neighbor.
    */
  def adcTopK(rows: Iterator[Row], tables: Array[(Long, Map[Int, Array[Double]])],
      mSub: Int, kk: Int, fetch: Int, skipSelf: Boolean): Iterator[(Long, Long, Double)] = {
    val heaps = tables.map { case (qid, _) =>
      qid -> collection.mutable.PriorityQueue.empty[(Double, Long)](Ordering.by(_._1))
    }.toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val cell = r.getInt(1)
      val cs = r.getSeq[Int](2)
      for ((qid, ts) <- tables; t <- ts.get(cell); if !skipSelf || id != qid) {
        var d = 0.0
        var s = 0
        while (s < mSub) { d += t(s * kk + cs(s)); s += 1 }
        val h = heaps(qid)
        if (h.size < fetch) h.enqueue((d, id))
        else if (d < h.head._1) { h.dequeue(); h.enqueue((d, id)) }
      }
    }
    heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (d, id) => (qid, id, d) } }
  }

  /** Fit coarse + subspace codebooks and encode the corpus.
    * Returns (codes: [id, cell, codes array<int>], model).
    */
  def build(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, mSub: Int = 8, codebookSize: Int = 16,
      seed: Long = 42L): (DataFrame, Model) = {
    val spark = corpus.sparkSession
    val featurized = corpus.select(col(idCol).cast("long").as("_id"),
      col(vecCol).as("_v"), array_to_vector(col(vecCol)).as("_features"))
    val coarse = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("_features")
      .setMaxIter(8).setInitMode("random")
      .fit(featurized)
    val centroids = coarse.clusterCenters.map(_.toArray)
    val dim = centroids.head.length
    require(dim % mSub == 0, s"dim $dim not divisible by mSub $mSub")
    val dsub = dim / mSub

    val assigned = coarse.transform(featurized)
      .select(col("_id"), col("_v"), col("prediction").as("_cell"))
    val centB = spark.sparkContext.broadcast(centroids)

    // residuals (vector - assigned centroid) once; per-subspace KMeans
    // fits run on dsub-wide slices of the residual
    val residRows = assigned
      .withColumn("_centroid",
        udf((cell: Int) => centB.value(cell)).apply(col("_cell")))
      .withColumn("_res",
        expr("zip_with(_v, _centroid, (x, c) -> CAST(x AS DOUBLE) - c)"))
      .select(col("_id"), col("_cell"), col("_v"), col("_res"))
      .persist()
    val codebooks = (0 until mSub).map { s =>
      val slices = residRows.select(
        array_to_vector(expr(s"slice(_res, ${s * dsub + 1}, $dsub)")).as("_features"))
      new KMeans().setK(codebookSize).setSeed(seed + s + 1).setFeaturesCol("_features")
        .setMaxIter(8).setInitMode("random")
        .fit(slices).clusterCenters.map(_.toArray)
    }.toArray

    val model = Model(centroids, codebooks, mSub, dsub)
    val modelB = spark.sparkContext.broadcast(model)

    val codesRdd = residRows.select(col("_id"), col("_cell"), col("_v")).rdd
      .mapPartitions { it =>
        val m = modelB.value
        it.map { r =>
          val id = r.getLong(0)
          val cell = r.getInt(1)
          val v = r.getSeq[Float](2).toArray
          val cent = m.centroids(cell)
          val codes = new Array[Int](m.mSub)
          var s = 0
          while (s < m.mSub) {
            val sub = new Array[Double](m.dsub)
            var i = 0
            while (i < m.dsub) { sub(i) = v(s * m.dsub + i) - cent(s * m.dsub + i); i += 1 }
            codes(s) = Centroids.nearest(m.codebooks(s), sub)
            s += 1
          }
          Row(id, cell, codes.toSeq)
        }
      }
    val schema = StructType(Seq(
      StructField("_id", LongType), StructField("_cell", IntegerType),
      StructField("_codes", ArrayType(IntegerType, containsNull = false))))
    // Materialize the (small) codes table, then release the cached
    // full-width residual frame — holding id+vector+residual for the
    // session would dwarf the index itself.
    val codes = spark.createDataFrame(codesRdd, schema).persist()
    codes.count()
    residRows.unpersist()
    (codes, model)
  }

  /** ADC search over the coded corpus; if `refine` > 0, the top-`refine`
    * ADC candidates per query are re-scored exactly against `corpus`.
    * Output schema matches `Knn.bruteForceTopK` (score = L2 distance).
    */
  def search(
      codes: DataFrame, model: Model,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int = 4,
      refine: Int = 0,
      corpus: DataFrame = null, corpusId: String = null, corpusVec: String = null): DataFrame = {
    val spark = codes.sparkSession
    QueryGuard.check(queries, "IvfPq.search")
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(queryId).cast("long"), col(queryVec))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

    // per-query probed cells + ADC lookup tables, computed once, tiny
    val luts: Array[(Long, Map[Int, Array[Double]])] =
      qRows.map { case (qid, qv) => (qid, lookupTables(model, qv, nprobe)) }
    val lutB: Broadcast[Array[(Long, Map[Int, Array[Double]])]] =
      spark.sparkContext.broadcast(luts)
    val kk = model.kk
    val mSub = model.mSub
    val fetch = math.max(k, refine)

    // scan only the union of probed cells — on a codes table partitioned
    // by `_cell` (the index store's layout) this prunes at the file level
    val probedCells = luts.flatMap(_._2.keys).distinct.toIndexedSeq
    val candRdd = codes.filter(col("_cell").isin(probedCells: _*))
      .select(col("_id"), col("_cell"), col("_codes")).rdd
      .mapPartitions { it =>
        adcTopK(it, lutB.value, mSub, kk, fetch, skipSelf = true)
          .map { case (qid, id, d) => Row(qid, id, math.sqrt(d)) }
      }
    val schema = StructType(Seq(
      StructField("query_id", LongType), StructField("neighbor_id", LongType),
      StructField("score", DoubleType)))
    val adc = spark.createDataFrame(candRdd, schema)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(asc("score"), col("neighbor_id"))))
      .filter(col("rank") <= fetch)

    if (refine <= 0 || corpus == null) {
      adc.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
    } else {
      // exact re-rank of the ADC shortlist: small join against the
      // original vectors + broadcast query vectors
      val qDf = spark.createDataFrame(qRows.map { case (qid, qv) => (qid, qv) }.toSeq)
        .toDF("query_id", "_qv")
      val shortlist = adc.select(col("query_id"), col("neighbor_id"))
      import graft.functions.VectorFunctions.l2Distance
      shortlist
        .join(corpus.select(col(corpusId).cast("long").as("neighbor_id"),
          col(corpusVec).as("_cv")), Seq("neighbor_id"))
        .join(broadcast(qDf), Seq("query_id"))
        .withColumn("score", l2Distance(col("_cv"), col("_qv")))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(asc("score"), col("neighbor_id"))))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
    }
  }
}
