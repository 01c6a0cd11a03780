package graft

import graft.operators.Dedup
import graft.functions.TextFunctions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
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

  test("minhash verify builds no hash table or broadcast of shingle arrays") {
    val df = Dedup.minhashPairs(fixture, "doc_id", "text", threshold = 0.5)
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

  test("jaccard/hamming primitives behave") {
    val df = Seq(("a b c d", "a b c e")).toDF("x", "y")
    val j = df.select(jaccard(wordShingles(tokens(col("x")), 2),
      wordShingles(tokens(col("y")), 2)).as("j")).head.getDouble(0)
    assert(j > 0.3 && j < 0.9)
    val h = df.select(hammingBits(simhashBits(tokens(col("x"))),
      simhashBits(tokens(col("x")))).as("h")).head.getLong(0)
    assert(h == 0L)
  }
}
