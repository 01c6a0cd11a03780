package graft

import graft.operators.Dedup
import graft.functions.TextFunctions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** Deterministic fake corpus: 30 base docs + a near-dup copy of each
    * (one token swapped) + 30 unrelated docs.
    */
  private def fixture = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rnd.nextInt(6))).mkString(" "))
    }
    val copies = base.map { case (id, t) =>
      (id + 1000L, t.replaceFirst(vocab(1), vocab(11)))
    }
    val noise = (0 until 30).map { i =>
      (2000L + i, (0 until 40).map(_ => vocab(6 + rnd.nextInt(6))).mkString(" "))
    }
    (base ++ copies ++ noise).toDF("doc_id", "text")
  }

  test("minhash LSH finds every planted near-dup pair") {
    val pairs = Dedup.minhashPairs(fixture, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 30).foreach { i =>
      assert(pairs.contains((i.toLong, i + 1000L)), s"missed planted pair $i")
    }
    // base/noise vocabularies are disjoint: no cross pairs
    assert(!pairs.exists { case (a, b) => a < 2000 && b >= 2000 })
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`. */
  private def withBroadcastThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, bytes)
    try body finally spark.conf.set(key, saved)
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** The one-task path's rows, asserted equal to the distributed path's
    * (threshold -1), `jacc` compared as exact doubles.
    */
  private def bothPaths(docs: Seq[(Long, String)], threshold: Double): Seq[(Long, Long, Double)] = {
    def run() = Dedup.minhashPairs(docs.toDF("doc_id", "text"), "doc_id", "text", threshold)
    val local = run()
    val plan = local.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions") && !plan.contains("Exchange"), plan)
    val one = pairRows(local)
    val distributed = withBroadcastThreshold(-1) {
      val df = run()
      assert(!df.queryExecution.executedPlan.toString.contains("MapPartitions"))
      pairRows(df)
    }
    spark.catalog.clearCache()
    assert(one.map(p => (p._1, p._2, java.lang.Double.doubleToRawLongBits(p._3))) ==
      distributed.map(p => (p._1, p._2, java.lang.Double.doubleToRawLongBits(p._3))))
    one
  }

  private def fixtureRows: Seq[(Long, String)] =
    fixture.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("minhash one-task path returns the distributed path's rows") {
    val planted = bothPaths(fixtureRows, 0.5)
    assert((0 until 30).forall(i => planted.exists(p => p._1 == i && p._2 == i + 1000L)))
    // no shingles: empty, blank, NULL and one- or two-word texts
    assert(bothPaths(Seq((1L, ""), (2L, "  "), (3L, null), (4L, "word"),
      (5L, "word"), (6L, "two words"), (7L, "two words")), 0.5).isEmpty)
    // exact duplicates score 1.0
    val dups = bothPaths(Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "A  b c d e f"), (4L, "u v w x y z")), 0.8)
    assert(dups == Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
    // 4 of 5 shingles shared: Jaccard exactly 0.8 is kept at 0.8; 3 of 4
    // (0.75) and 3 of 5 (0.6) are not
    val edge = bothPaths(Seq((1L, "a b c d e f g"), (2L, "a b c d e f"),
      (3L, "a b c d e")), 0.8)
    assert(edge == Seq((1L, 2L, 0.8)))
    // every bucket holds 1001 documents, over maxBucket: no pairs at all
    assert(bothPaths((1L to 1001L).map(i => (i, "same text in every document")), 0.5)
      .isEmpty)
  }

  test("minhash one-task path ends at OneTaskMaxBytes of estimated corpus") {
    def corpus(n: Int) = (1L to n).map(i => (i, "")).toDF("doc_id", "text")
    val perRow = corpus(1).queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val under = (Dedup.OneTaskMaxBytes / perRow).toInt
    def oneTask(n: Int) = withBroadcastThreshold(Long.MaxValue) {
      Dedup.minhashPairs(corpus(n), "doc_id", "text", threshold = 0.5)
    }.queryExecution.executedPlan.toString.contains("MapPartitions")
    assert(oneTask(under))
    assert(!oneTask(under + 1))
    spark.catalog.clearCache()
  }

  test("minhash one-task path: construction runs no job, collection exactly one") {
    val docs = fixture
    val (df, built) = JobCount(spark.sparkContext) {
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }
    assert(built == 0)
    val (rows, ran) = JobCount(spark.sparkContext)(df.collect())
    assert(rows.length >= 30)
    assert(ran == 1)
  }

  test("minhash verify builds no hash table or broadcast of shingle arrays") {
    // the distributed path: a threshold of -1 keeps it at any corpus size
    val df = withBroadcastThreshold(-1) {
      Dedup.minhashPairs(fixture, "doc_id", "text", threshold = 0.5)
    }
    assert(df.collect().length >= 30)
    // the final adaptive plan, after AQE's runtime re-planning
    val builds = collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => if (j.buildSide == BuildLeft) j.left else j.right
      case j: ShuffledHashJoinExec => if (j.buildSide == BuildLeft) j.left else j.right
    }
    assert(builds.nonEmpty) // the candidate pairs' broadcast
    builds.foreach(b =>
      assert(!b.output.exists(_.dataType.isInstanceOf[ArrayType]), b.treeString))
  }

  test("minhash distributed path runs the shingle kernel once per document") {
    // read from parquet: over the local fixture the optimizer would fold
    // the filter and projection, kernels included, into a LocalRelation
    val dir = java.nio.file.Files.createTempDirectory("dedup-fixture")
    fixture.write.parquet(dir.resolve("docs").toString)
    val df = withBroadcastThreshold(-1) {
      Dedup.minhashPairs(spark.read.parquet(dir.resolve("docs").toString),
        "doc_id", "text", threshold = 0.5)
    }
    try assert(df.collect().length >= 30)
    finally spark.catalog.clearCache()
    // in the persisted projection only: the empty-shingle filter must not
    // carry a second copy
    def cached(p: SparkPlan): Seq[SparkPlan] = collect(p) {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder.cachedPlan
    }.distinct.flatMap(c => c +: cached(c))
    val plans = df.queryExecution.executedPlan +: cached(df.queryExecution.executedPlan).distinct
    val kernels = plans.flatMap(p => collect(p) { case n => n }).flatMap(_.expressions)
      .flatMap(_.collect { case w: graft.functions.WordShinglesExpr => w })
    assert(kernels.size == 1, plans.mkString("\n"))
    scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  test("simhash finds planted near-dups within small hamming distance") {
    val pairs = Dedup.simhashPairs(fixture, "doc_id", "text", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 30).count(i => pairs.contains((i.toLong, i + 1000L)))
    assert(found >= 25, s"simhash recall too low: $found/30")
  }

  test("exact dedup groups identical normalized text") {
    val df = Seq((1L, "a b  c"), (2L, " A b c "), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", fingerprint(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 1L))) // keep min id, count dups
  }

  test("sorted shingles merge in the order they were sorted: emoji against fullwidth punctuation") {
    // UTF-16 order puts U+FF0C after the emoji's surrogates, UTF-8 bytes
    // put it before; shingles sorted one way and merged the other miss
    // the shared "，"
    val df = Seq(("a b \uD83D\uDE00 \uFF0C", "\uFF0C")).toDF("x", "y")
    val shx = wordShingles(tokens(col("x")), 1)
    val shy = wordShingles(tokens(col("y")), 1)
    val r = df.select(jaccardSorted(shx, shy), jaccard(shx, shy)).head
    assert(r.getDouble(0) == 0.25 && r.getDouble(1) == 0.25)
  }

  test("jaccard/hamming primitives behave") {
    val df = Seq(("a b c d", "a b c e")).toDF("x", "y")
    val j = df.select(jaccard(wordShingles(tokens(col("x")), 2),
      wordShingles(tokens(col("y")), 2)).as("j")).head.getDouble(0)
    assert(j > 0.3 && j < 0.9)
    val h = df.select(hammingBits(simhashBitsMd5(tokens(col("x"))),
      simhashBitsMd5(tokens(col("x")))).as("h")).head.getLong(0)
    assert(h == 0L)
  }
}
