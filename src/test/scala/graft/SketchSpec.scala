package graft

import graft.functions.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("hll estimate within 3% of exact on 100k distinct values") {
    import spark.implicits._
    val df = spark.range(0, 100000).map(i => i * 31 + 7).toDF("v")
    val sketch = df.agg(Sketches.hll_add(col("v"))).head.getAs[Array[Byte]](0)
    val est = Sketches.hllEstimate(sketch)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.03, s"estimate $est")
  }

  test("hll merge of disjoint sketches equals union estimate") {
    import spark.implicits._
    val a = spark.range(0, 50000).toDF("v")
      .agg(Sketches.hll_add(col("v"))).head.getAs[Array[Byte]](0)
    val b = spark.range(50000, 100000).toDF("v")
      .agg(Sketches.hll_add(col("v"))).head.getAs[Array[Byte]](0)
    val merged = Seq(a, b).toDF("s")
      .agg(Sketches.hll_merge(col("s"))).head.getAs[Array[Byte]](0)
    val est = Sketches.hllEstimate(merged)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.03, s"merged estimate $est")
  }

  test("bitmap count is exact and or-merge unions") {
    import spark.implicits._
    val a = Seq(1L, 2L, 3L, 1000L).toDF("v")
      .agg(Sketches.bitmap_construct_agg(col("v"))).head.getAs[Array[Byte]](0)
    val b = Seq(3L, 4L).toDF("v")
      .agg(Sketches.bitmap_construct_agg(col("v"))).head.getAs[Array[Byte]](0)
    assert(Sketches.bitmapCount(a) == 4L)
    val merged = Seq(a, b).toDF("s")
      .agg(Sketches.bitmap_or_agg(col("s"))).head.getAs[Array[Byte]](0)
    assert(Sketches.bitmapCount(merged) == 5L)
  }

  test("sketch scalars are native expressions with the reference's NULL and bucket results") {
    val r = spark.sql("SELECT bitmap_count(NULL), hll_cardinality(NULL), " +
      "bitmap_bit_position(65536), bitmap_bucket_number(65536), bitmap_bit_position(NULL)")
    assert(r.columns.head == "bitmap_count(NULL)")
    val row = r.head
    assert(row.getLong(0) == 0L && row.isNullAt(1) && row.isNullAt(4))
    // 0-based v & 32767 and v >> 15 (Spark's built-ins are 1-based)
    assert(row.getLong(2) == 0L && row.getLong(3) == 2L)
    val sf = "/root/testdata/sf0.001"
    val a4 = SparkEntry.queries("a4_bitmap_aggs")(spark, sf)
    val udfs = a4.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
    assert(udfs.isEmpty, a4.queryExecution.optimizedPlan.toString)
    val counts = a4.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .agg(countDistinct(col("o_custkey"))).head.getLong(0)
    assert(counts("__ALL__") == exact)
  }
}
