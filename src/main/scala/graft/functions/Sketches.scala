package graft.functions

import graft.GraftExtensions.Arity
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, ShiftRight, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Re-aggregatable sketch aggregates — the reference's
  * `bitmap_construct_agg`/`bitmap_or_agg`/`bitmap_count`
  * (`pkg/sql/colexec/aggexec/`) and `hll_add`/`hll_merge`/
  * `hll_cardinality` (mergeable HLL sketches, unlike
  * `approx_count_distinct` which cannot be re-merged at SQL level).
  *
  * Implemented as native Catalyst TypedImperativeAggregates
  * ([[SketchAgg]] in SketchAggs.scala; no external sketch libraries):
  * bitmap = java.util.BitSet words, HLL = dense 2^p register array.
  * Both are associative + commutative, so Spark runs them as partial
  * (map-side) aggregates with a tiny merge shuffle — the property that
  * makes them work at 100 TB: per-partition sketches, merged, never
  * re-scanning. (The previous typed-`Aggregator` forms paid an
  * ExpressionEncoder per input row and JAVA-SERIALIZED the BitSet
  * buffer across the partial→final shuffle; the native forms evaluate
  * the child directly and ship the compact byte-array wire form.)
  */
object Sketches {

  def bitmapCount(bytes: Array[Byte]): Long =
    if (bytes == null) 0L else java.util.BitSet.valueOf(bytes).cardinality().toLong

  // ---------------------------------------------------------------- HLL
  val HllP = 14
  val HllM: Int = 1 << HllP // 16384 registers

  private def alpha(m: Int): Double = 0.7213 / (1.0 + 1.079 / m)

  /** 64-bit avalanche hash (splitmix64) — deterministic, engine-local. */
  private def hash64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[functions] def addToRegisters(reg: Array[Byte], v: Long): Unit = {
    val h = hash64(v)
    val idx = (h >>> (64 - HllP)).toInt
    val w = h << HllP
    val rho = (if (w == 0) 64 - HllP else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rho > reg(idx)) reg(idx) = rho.toByte
  }

  def hllEstimate(reg: Array[Byte]): Long = {
    if (reg == null || reg.isEmpty) return 0L
    val m = reg.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -reg(i))
      if (reg(i) == 0) zeros += 1
      i += 1
    }
    var est = alpha(m) * m * m / sum
    if (est <= 2.5 * m && zeros > 0) est = m * math.log(m.toDouble / zeros)
    math.round(est)
  }

  // ------------------------------------------------------- Column API
  import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}
  def bitmap_construct_agg(c: Column): Column =
    asCol(BitmapConstructAggExpr(asExpr(c)).toAggregateExpression())
  def bitmap_or_agg(c: Column): Column =
    asCol(BitmapOrAggExpr(asExpr(c)).toAggregateExpression())
  def hll_add(c: Column): Column =
    asCol(HllAddAggExpr(asExpr(c)).toAggregateExpression())
  def hll_merge(c: Column): Column =
    asCol(HllMergeAggExpr(asExpr(c)).toAggregateExpression())

  def bitmap_count(c: Column): Column = asCol(SketchScalar("bitmap_count", asExpr(c)))
  def hll_cardinality(c: Column): Column = asCol(SketchScalar("hll_cardinality", asExpr(c)))

  /** Scalar + aggregate SQL names. */
  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    // aggregate names resolve to the native AggregateFunctions (the
    // analyzer wraps them in AggregateExpression); builders keep the
    // SAME names/semantics the reference registry exposes
    ft.native("bitmap_construct_agg", "bitmap_construct_agg(bigint)",
      Arity(1))(a => BitmapConstructAggExpr(a.head))
    ft.native("bitmap_or_agg", "bitmap_or_agg(binary)", Arity(1))(a => BitmapOrAggExpr(a.head))
    ft.native("hll_add", "hll_add(bigint)", Arity(1))(a => HllAddAggExpr(a.head))
    ft.native("hll_merge", "hll_merge(binary)", Arity(1))(a => HllMergeAggExpr(a.head))
    // reference registry spells the aggregate forms with _agg
    ft.native("hll_add_agg", "hll_add_agg(bigint)", Arity(1))(a => HllAddAggExpr(a.head))
    ft.native("hll_merge_agg", "hll_merge_agg(binary)", Arity(1))(a => HllMergeAggExpr(a.head))
    Seq("bitmap_count", "hll_cardinality", "bitmap_bucket_number", "bitmap_bit_position")
      .foreach(name => ft.native(name, s"$name(x)", Arity(1))(a => SketchScalar(name, a.head)))
  }
}

/** The sketch scalars as native expressions. Analysis, column names and
  * the analyzed plan show `name(child)`; the optimizer plans the
  * replacement:
  *  - `bitmap_count(b)`: set bits of a bitmap sketch; NULL counts 0;
  *  - `hll_cardinality(b)`: the HLL estimate; NULL stays NULL;
  *  - `bitmap_bucket_number(v)` / `bitmap_bit_position(v)`: the
  *    reference's 0-BASED `v >> 15` / `v & 32767` (func_bitmap2.result:
  *    65536 → bucket 2, position 0). Spark 4's built-ins of the same
  *    names are 1-based, so these shadow them.
  */
case class SketchScalar(name: String, child: Expression)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {
  private def onSketch = name == "bitmap_count" || name == "hll_cardinality"
  override def prettyName: String = name
  override def flatArguments: Iterator[Any] = Iterator(child)
  override def inputTypes: Seq[DataType] = Seq(if (onSketch) BinaryType else LongType)
  override def dataType: DataType = LongType
  override lazy val replacement: Expression = name match {
    case "bitmap_count" => StaticInvoke(Sketches.getClass, LongType, "bitmapCount",
      Seq(child), Seq(BinaryType), propagateNull = false, returnNullable = false)
    case "hll_cardinality" => StaticInvoke(Sketches.getClass, LongType, "hllEstimate",
      Seq(child), Seq(BinaryType))
    case "bitmap_bucket_number" => ShiftRight(child, Literal(15))
    case "bitmap_bit_position" => BitwiseAnd(child, Literal(32767L))
  }
  override protected def withNewChildInternal(c: Expression): SketchScalar = copy(child = c)
}
