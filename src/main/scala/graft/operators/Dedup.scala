package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.collection.mutable.ArrayBuffer

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and blocked n-gram Jaccard.
  *
  * Scale design (the whole point at 100 TB):
  *  - NOTHING here is O(n²) over the corpus. Candidate generation is
  *    always a shuffle-join on a blocking key (LSH band, SimHash chunk,
  *    explicit block), so cost is sum over buckets of |bucket|².
  *  - Signatures are computed in one codegen'd pass per document (no
  *    explode of shingles, no UDFs).
  *  - Hot buckets (boilerplate docs) are the classic skew risk — AQE skew
  *    join handles moderate cases; `maxBucket` drops degenerate buckets
  *    (a bucket with 10⁶ identical-signature docs is itself a finding).
  *  - A MinHash LSH corpus under 256 KB skips the shuffles altogether:
  *    it is bucketed and paired in one task, where each Spark job
  *    boundary would cost more than the work.
  */
object Dedup {

  /** Exact dedup on a normalized key: keeps the smallest id per group. */
  def exact(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.withColumn("_key", keyCol)
      .groupBy(col("_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .drop("_key")

  /** MinHash LSH candidates verified with exact shingle Jaccard: the
    * pairs `a_id < b_id` at Jaccard ≥ `threshold`, `jacc` rounded to 6
    * places. Ids are assumed unique.
    *
    * A corpus whose estimated size (`optimizedPlan.stats.sizeInBytes`)
    * is at most [[OneTaskMaxBytes]] and at most
    * `spark.sql.autoBroadcastJoinThreshold` is deduplicated in ONE task
    * ([[minhashPairsOneTask]]): one Spark job, nothing persisted, nothing
    * executed at construction. Above either, or with the threshold at -1,
    * the distributed plan below runs. Both give the same rows.
    *
    * NOTE (lifetime contract, distributed path only): the returned plan
    * reads two frames this call persists (the shingle table and the
    * banded signature table). They stay registered until the caller's
    * `spark.catalog.clearCache()` — which Bench/Verify issue after every
    * query — or session end; a long-lived service embedding this
    * operator must do the same.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val docs = df.select(col(idCol), col(textCol))
    val oneTaskBound = math.min(OneTaskMaxBytes,
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <= oneTaskBound)
      return minhashPairsOneTask(docs, idCol, textCol, threshold, shingleN,
        numHashes, bands)
    // shingling is the expensive projection and is needed by candidate
    // generation AND both verify sides — persist so it is computed once
    // (at cluster scale this materializes as a signature table).
    // NEGATIVE RESULT (r13, guide §1.2): repartitioning the raw text to
    // core count before this kernel (to split the single-file scan's one
    // task) measured 2.26–3.05 s vs 1.53–1.68 s without — every
    // downstream stage then schedules 32 tiny tasks against the
    // 32-block cache and the added latency dwarfs the parallel kernel
    // win. Same conclusion as r12's global parallelism floor.
    val sh = df.select(col(idCol).as("_sid"),
        wordShingles(tokens(col(textCol)), shingleN).as("_sh") /* sorted */)
      .filter(size(col("_sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = minhashCandidatesFromShingles(sh, numHashes, bands, MaxBucket)
    // exact-Jaccard verify, §8-style "decide small, attach payloads":
    // the PAIR LIST is the small decision table — broadcast it (ids only)
    // and stream the (persisted) shingle table past it to attach the a
    // side's shingles; the b side's shingles then meet those pairs in a
    // sort-merge join, which streams both inputs. No shingle array may
    // sit on the build side of a join: there it is held once per pair,
    // and one hot LSH bucket makes up to maxBucket² / 2 pairs. Candidate
    // generation executes exactly once, inside the broadcast.
    val withA = sh.select(col("_sid").as("a_id"), col("_sh").as("_sha"))
      .join(broadcast(cands), Seq("a_id"))
    verified(sh.select(col("_sid").as("b_id"), col("_sh").as("_shb"))
      .join(withA.hint("merge"), Seq("b_id")), threshold)
  }

  /** LSH buckets larger than this are dropped: a degenerate bucket (10⁶
    * boilerplate documents) is a finding, not 10¹² candidate pairs.
    */
  private val MaxBucket = 1000

  /** The largest estimated corpus (`sizeInBytes` of the id and text
    * columns) deduplicated in one task, whatever the broadcast threshold.
    * The one task runs the shingle and MinHash kernels serially, so past
    * this the distributed plan's parallel kernels win. dd2 timed on both
    * paths (4 cores, 8-file corpora built from sf0.1 `documents`): one
    * task / distributed took 0.77 / 1.86 s at 1,250 documents (0.07 MB
    * estimated), 1.35 / 2.59 s at 2,500 (0.13 MB), 2.34 / 2.35 s at
    * 5,000 (0.26 MB), 6.8 / 4.6 s at 20,000 (1.0 MB) and 29 / 9 s at
    * 80,000 (4.1 MB). At this bound the task held about 20 MB of heap.
    * `repartition(1)` after the kernels instead of `coalesce(1)` keeps
    * them parallel but adds a shuffle stage: 1.1–1.5 s at 5,000
    * documents, yet 0.73–0.97 s against 0.41–0.56 s at 500 (the `olap`
    * benchmark's corpora hold 300).
    */
  private[graft] val OneTaskMaxBytes = 256L * 1024

  /** Exact Jaccard of `(a_id, b_id, _sha, _shb)` candidate pairs, kept at
    * `threshold` or more and rounded to 6 places — one Catalyst
    * expression chain for both paths, so their rows are bit-identical.
    */
  private def verified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("jacc", jaccardSorted(col("_sha"), col("_shb")))
      .filter(col("jacc") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jacc"), 6).as("jacc"))

  /** [[minhashPairs]] for a corpus small enough for one task (the
    * reference's `forceJoinOnOneCN`). One projection runs the same
    * Catalyst kernels as the distributed path; `coalesce(1)` puts the
    * rows in one partition, which already satisfies a caller's sort, so
    * the plan has no exchange; one `mapPartitions` buckets and pairs in
    * plain Scala ([[lshCandidates]]). Ids are compared only by Catalyst's
    * `<` after it, and the pairs are verified by [[verified]], as on the
    * distributed path.
    */
  private def minhashPairsOneTask(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    // the empty-shingle filter runs in the task: a Catalyst filter on
    // `size(_sh)` is pushed below the projection and shingles twice
    val keyed = docs.select(col(idCol).as("_sid"),
        wordShingles(tokens(col(textCol)), shingleN).as("_sh"))
      .select(col("_sid"), col("_sh"),
        bandKeys(minhashSignature(col("_sh"), numHashes), bands, rows).as("_keys"))
    val Seq(id, sh) = Seq("_sid", "_sh").map(keyed.schema(_).dataType)
    val pairSchema = StructType(Seq(StructField("a_id", id), StructField("b_id", id),
      StructField("_sha", sh), StructField("_shb", sh)))
    verified(keyed.coalesce(1)
      .mapPartitions(it => lshCandidates(it, bands, MaxBucket))(Encoders.row(pairSchema))
      .filter(col("a_id") < col("b_id")), threshold)
  }

  /** LSH bucketing and pair generation over one partition of
    * `(_sid, _sh, _keys)` rows. The task holds each document's id,
    * shingles and band keys, plus per band an ordering and bucket sizes:
    * O(documents × bands), no set of candidate pairs. A pair is emitted
    * from the first band where its two documents share a bucket of at
    * most `maxBucket` — the set the distributed `distinct` leaves — in
    * both orientations, so that Catalyst picks `a_id < b_id`.
    */
  private def lshCandidates(it: Iterator[Row], bands: Int, maxBucket: Int): Iterator[Row] = {
    val ids = ArrayBuffer.empty[Any]
    val sh = ArrayBuffer.empty[collection.Seq[String]]
    val keys = ArrayBuffer.empty[Array[Long]]
    it.foreach { r =>
      if (!r.isNullAt(1) && r.getSeq[String](1).nonEmpty) {
        ids += r.get(0); sh += r.getSeq[String](1); keys += r.getSeq[Long](2).toArray
      }
    }
    // per band: the documents ordered by bucket key (a bucket is a run)
    // and each document's bucket size
    val byKey = Array.tabulate(bands)(b => Array.range(0, ids.length).sortBy(keys(_)(b)))
    val bucketSize = Array.fill(bands)(new Array[Int](ids.length))
    def runs(b: Int): Iterator[(Int, Int)] = {
      val o = byKey(b)
      Iterator.unfold(0)(s => Option.when(s < o.length) {
        var e = s + 1
        while (e < o.length && keys(o(e))(b) == keys(o(s))(b)) e += 1
        ((s, e), e)
      })
    }
    for (b <- 0 until bands; (s, e) <- runs(b); k <- s until e) bucketSize(b)(byKey(b)(k)) = e - s
    def paired(i: Int, j: Int, b: Int): Boolean =
      keys(i)(b) == keys(j)(b) && bucketSize(b)(i) <= maxBucket
    for {
      b <- Iterator.range(0, bands)
      (s, e) <- runs(b) if e - s > 1 && e - s <= maxBucket
      p <- Iterator.range(s, e); q <- Iterator.range(p + 1, e)
      (i, j) = (byKey(b)(p), byKey(b)(q)) if !(0 until b).exists(paired(i, j, _))
      row <- Iterator(Row(ids(i), ids(j), sh(i), sh(j)), Row(ids(j), ids(i), sh(j), sh(i)))
    } yield row
  }

  /** Candidate pairs from a pre-shingled (_sid, _sh) frame. */
  private def minhashCandidatesFromShingles(
      sh: DataFrame, numHashes: Int, bands: Int, maxBucket: Int): DataFrame = {
    val rows = numHashes / bands
    // the banded signature is read THREE times downstream (bucket-size
    // aggregate + both self-join sides); without a persist the 64-hash
    // MinHash kernel re-runs over every shingle set per read — the
    // signature pass dominated dd2's profile (3× ≈ +1s at sf0.1). The
    // persisted frame is (id, band, key): bands× the corpus row count,
    // bytes-per-row tiny — at cluster scale this is the signature table
    // a real pipeline would materialize anyway.
    val sigs = sh
      .withColumn("_sig", minhashSignature(col("_sh"), numHashes))
      .select(col("_sid").as("_id"), posexplode(bandKeys(col("_sig"), bands, rows)))
      .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize now (one pass also fills the upstream shingle cache):
    // the downstream plan launches its broadcast builds CONCURRENTLY, and
    // racing readers of a cold cache each recompute the shingle+signature
    // pass — profiled as 4 parallel ~0.5s jobs doing identical work.
    // Plan-capture tools (PlanDump) set `graft.plan.only` so DataFrame
    // CONSTRUCTION stays execution-free for them.
    if (!sys.props.contains("graft.plan.only")) sigs.count()
    // degenerate-bucket guard (skew, guide §2.5) as a count-over-window
    // ON THE SELF-JOIN'S OWN KEY: the window's hashpartitioning(_band,
    // _key) exchange is exactly the partitioning the band self-join
    // needs, so both join inputs read ONE reused exchange — the previous
    // bucket-size AGGREGATE + broadcast-semi-join spent a second pass
    // over sigs plus a broadcast build to produce the same survivor set
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_band"), col("_key"))
    val sized = sigs.withColumn("_bucket_n", count(lit(1)).over(w))
      .filter(col("_bucket_n") <= maxBucket)
    val a = sized.select(col("_band"), col("_key"), col("_id").as("a_id"))
    val b = sized.select(col("_band"), col("_key"), col("_id").as("b_id"))
    a.join(b, Seq("_band", "_key")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
  }

  /** SimHash near-dup pairs: 64-bit signature, LSH over `maxHamming + 1`
    * equal chunks (pigeonhole: a pair within `maxHamming` bit flips must
    * share at least one exact chunk), verified with exact hamming
    * distance. Fewer/wider chunks = exponentially fewer random bucket
    * collisions — with 8-bit chunks every corpus ≥ a few thousand docs
    * collides on every key (2^8 keys), which goes quadratic at scale; a
    * maxHamming of 3 gets 16-bit chunks (2^16 keys).
    */
  /** `portable = true` switches the signature to [[simhashBitsMd5]]
    * (md5-derived bits a DuckDB oracle re-derives exactly); the default
    * xxhash64 signature is faster but engine-local.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucket: Int = 1000, portable: Boolean = false): DataFrame = {
    require(maxHamming <= 7, "chunking supports maxHamming <= 7")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks // last (64 mod nChunks) bits join no chunk
    val bitsOf =
      if (portable) simhashBitsMd5(tokens(col(textCol)))
      else simhashBits(tokens(col(textCol)))
    val sigs = df
      .select(col(idCol).as("_id"), bitsOf.as("_bits"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // chunk key = 64-bit hash of the bit slice (not the "0101…" string):
    // narrower exchange/join keys; collisions only add candidates, and
    // every pair is verified by exact hamming below
    val chunked = sigs.select(col("_id"), col("_bits"),
        posexplode(transform(sequence(lit(0), lit(nChunks - 1)),
          c => xxhash64(slice(col("_bits"), c * chunkBits + 1, lit(chunkBits))))))
      .withColumnRenamed("pos", "_chunk").withColumnRenamed("col", "_key")
    val okBuckets = chunked.groupBy(col("_chunk"), col("_key"))
      .agg(count(lit(1)).as("_bucket_n"))
      .filter(col("_bucket_n") <= maxBucket)
      .select(col("_chunk"), col("_key"))
    val sized = chunked.join(okBuckets, Seq("_chunk", "_key"), "left_semi")
    // dedup candidate PAIRS first (ids only — the bit arrays stay out of
    // the band join/shuffle), then verify each pair's hamming once
    val a = sized.select(col("_chunk"), col("_key"), col("_id").as("a_id"))
    val b = sized.select(col("_chunk"), col("_key"), col("_id").as("b_id"))
    val cands = a.join(b, Seq("_chunk", "_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cands
      .join(sigs.select(col("_id").as("a_id"), col("_bits").as("_ba")), Seq("a_id"))
      .join(sigs.select(col("_id").as("b_id"), col("_bits").as("_bb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), hammingBits(col("_ba"), col("_bb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Jaccard histogram over all pairs within each block, via a posting
    * -list self-join: explode shingles → join on (block, shingle) → the
    * per-pair match count IS the intersection size. Shingle ARRAYS never
    * cross the shuffle (only (block, shingle, id) rows), which is what
    * makes this formulation win at scale; pairs sharing no shingle are
    * accounted into the 0-bucket arithmetically (n·(n−1)/2 per block minus
    * observed pairs).
    */
  def blockedJaccardHistogram(
      df: DataFrame, idCol: String, textCol: String, blockCols: Seq[Column],
      shingleN: Int = 2, buckets: Int = 10): DataFrame = {
    val base = df.select(
        struct(blockCols: _*).as("_block"),
        col(idCol).as("_id"),
        wordShingles(tokens(col(textCol)), shingleN).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = base.select(col("_block"), col("_id"), size(col("_sh")).as("_sz"))
    val posting = base.select(col("_block"), col("_id"), explode(col("_sh")).as("_g"))
    val inter = posting.as("x").join(posting.as("y"),
        col("x._block") === col("y._block") && col("x._g") === col("y._g") &&
          col("x._id") < col("y._id"))
      .groupBy(col("x._block").as("_block"), col("x._id").as("a_id"), col("y._id").as("b_id"))
      .agg(count(lit(1)).as("_inter"))
    val scored = inter
      .join(sizes.select(col("_block"), col("_id").as("a_id"), col("_sz").as("_sa")),
        Seq("_block", "a_id"))
      .join(sizes.select(col("_block"), col("_id").as("b_id"), col("_sz").as("_sb")),
        Seq("_block", "b_id"))
      .withColumn("jacc",
        col("_inter").cast("double") / (col("_sa") + col("_sb") - col("_inter")))
    val nonzeroHist = scored
      .groupBy(floor(col("jacc") * buckets).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
    // pairs with empty intersection → bucket 0
    val totalPairs = sizes.groupBy(col("_block")).agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n") * (col("_n") - 1) / 2).as("_total")).select(col("_total"))
    val nonzeroPairs = scored.agg(count(lit(1)).as("_nz")).select(col("_nz"))
    val zeroRow = totalPairs.crossJoin(nonzeroPairs)
      .select(lit(0L).as("bucket"), (col("_total") - col("_nz")).cast("long").as("n_pairs"))
      .filter(col("n_pairs") > 0)
    nonzeroHist.union(zeroRow)
      .groupBy(col("bucket")).agg(sum(col("n_pairs")).cast("long").as("n_pairs"))
  }
}
