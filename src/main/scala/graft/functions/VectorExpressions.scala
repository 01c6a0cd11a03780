package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector distance kernels — the
  * analog of the reference's SIMD asm kernels
  * (`pkg/vectorindex/metric/distance_func.go` + `distance_func_amd64.s`).
  *
  * Compared to the higher-order-function formulations in
  * [[VectorFunctions]], these generate a tight primitive loop inside
  * whole-stage codegen (no per-element lambda eval, no intermediate
  * arrays) and compute cosine's three accumulators in ONE pass. Inputs:
  * array<float> or array<double>; output double; null-safe.
  */
abstract class VectorKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def getD(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    // narrow vector kinds (vecint8 → tinyint, vecuint8 → smallint) take
    // the distance kernels directly (array_vecnarrow_ops.sql scope:
    // "distance functions + casts + storage only")
    case ByteType => a.getByte(i).toDouble
    case ShortType => a.getShort(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case _ => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  /** java accessor snippet for element i of array `v` with element type t. */
  protected def getter(v: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $v.getFloat($i)"
    case DoubleType => s"$v.getDouble($i)"
    case ByteType => s"(double) $v.getByte($i)"
    case ShortType => s"(double) $v.getShort($i)"
    case IntegerType => s"(double) $v.getInt($i)"
    case LongType => s"(double) $v.getLong($i)"
    case _ => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  /** Mismatched dimensions are an ERROR (reference
    * `pkg/vectorindex/metric/metric.go` distance funcs reject them) --
    * never silently truncate to the shorter vector.
    */
  protected def checkedDim(a: ArrayData, b: ArrayData): Int = {
    if (a.numElements() != b.numElements())
      throw VectorKernel.dimMismatch(a.numElements(), b.numElements())
    a.numElements()
  }

  /** codegen snippet: assign checked dimension into int variable `n`. */
  protected def dimCheckCode(a: String, b: String, n: String): String =
    s"""
       |if ($a.numElements() != $b.numElements()) {
       |  throw graft.functions.VectorKernel.dimMismatch($a.numElements(), $b.numElements());
       |}
       |int $n = $a.numElements();
     """.stripMargin
}

object VectorKernel {
  def dimMismatch(n: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"vector dimension mismatch: $n vs $m (both operands must have equal dimensions)")
}

/** Σ aᵢ·bᵢ (reference `inner_product`). */
case class InnerProductExpr(left: Expression, right: Expression) extends VectorKernel {
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = checkedDim(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += getD(a, i, ta) * getD(b, i, tb); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |${dimCheckCode(a, b, n)}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (${getter(a, i, elemType(left))}) * (${getter(b, i, elemType(right))});
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** √Σ (aᵢ−bᵢ)² (reference `l2_distance`). */
case class L2DistanceExpr(left: Expression, right: Expression) extends VectorKernel {
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = checkedDim(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = getD(a, i, ta) - getD(b, i, tb)
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |${dimCheckCode(a, b, n)}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (${getter(a, i, elemType(left))}) - (${getter(b, i, elemType(right))});
         |  $s += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot/(‖a‖·‖b‖) in a single pass; null when either norm is 0
  * (reference `cosine_similarity`).
  */
case class CosineSimilarityExpr(left: Expression, right: Expression) extends VectorKernel {
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = checkedDim(a, b)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = getD(a, i, ta)
      val y = getD(b, i, tb)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |${dimCheckCode(a, b, n)}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (${getter(a, i, elemType(left))});
         |  double $y = (${getter(b, i, elemType(right))});
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Intersection cardinality of two SORTED, distinct, null-free string
  * arrays via a two-pointer merge — no per-call hash set allocation like
  * `array_intersect`, which dominates all-pairs Jaccard workloads.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Shared base hashing for the signature kernels: FNV-1a over the UTF-8
  * bytes, truncated to 32 bits (the affine permutations need headroom).
  */
object SignatureHash {
  val Prime = 1000000007L
  val Golden = 2654435761L

  def base32(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h & 0xffffffffL
  }
}

/** MinHash signature over a string array in ONE interpreted call per row:
  * Spark's higher-order functions evaluate their lambdas per element via
  * the interpreter (no codegen), which made the expression-combinator
  * formulation the dedup bottleneck. k affine permutations
  * (a_i·x + b_i) mod p of the 32-bit FNV base.
  */
case class MinHashSignatureExpr(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val bases = new Array[Long](n)
    var i = 0
    while (i < n) { bases(i) = SignatureHash.base32(a.getUTF8String(i)); i += 1 }
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < k) {
      val mult = j * 2 + 1
      val add = j * SignatureHash.Golden
      var m = Long.MaxValue
      i = 0
      while (i < n) {
        val h = (bases(i) * mult + add) % SignatureHash.Prime
        if (h < m) m = h
        i += 1
      }
      out(j) = m
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted distinct word n-gram shingles from a token array, built in one
  * eval per row (replaces an interpreted transform+array_join+distinct
  * chain).
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val m = a.numElements()
    // UTF8String order (bytes), the order SortedIntersectCountExpr merges
    // in: a String's UTF-16 order puts U+E000–U+FFFF after supplementary
    // characters, UTF-8 bytes put them before
    val set = new java.util.TreeSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i + n <= m) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(a.getUTF8String(i + j).toString)
        j += 1
      }
      set.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(set.toArray())
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Language-ID over a token array: stopword-hit argmax in one eval
  * (table order wins ties; "und" when nothing hits). Mirrors
  * TextFunctions.langStopwords.
  */
case class LangIdExpr(child: Expression,
    tables: Seq[(String, Seq[String])])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  @transient private lazy val sets: Array[(String, java.util.HashSet[String])] =
    tables.map { case (lang, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      (lang, s)
    }.toArray

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val m = a.numElements()
    val hits = new Array[Int](sets.length)
    var i = 0
    while (i < m) {
      val t = a.getUTF8String(i).toString
      var l = 0
      while (l < sets.length) {
        if (sets(l)._2.contains(t)) hits(l) += 1
        l += 1
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < hits.length) { if (hits(l) > hits(best)) best = l; l += 1 }
    if (hits(best) > 0)
      org.apache.spark.unsafe.types.UTF8String.fromString(sets(best)._1)
    else org.apache.spark.unsafe.types.UTF8String.fromString("und")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Elementwise vector arithmetic — the reference's vecf32/vecf64 `+ - * /`
  * operators (`pkg/sql/plan/function/operator.go` vector paths; BVT
  * `vector/vector_func.sql`, `vector/vector_ivf_quant_boundary.sql`).
  * Either side may be a numeric scalar (broadcast). Precision follows the
  * ARRAY operand's element width: float arrays compute in FLOAT32 (the
  * quant_boundary int8 rounding only reproduces with f32 intermediates),
  * anything else in double. Dimension mismatch errors like the distance
  * kernels.
  */
case class VecArithExpr(left: Expression, right: Expression, op: Char)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private def isArr(e: Expression): Boolean = e.dataType.isInstanceOf[ArrayType]

  private def elemOf(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** float iff every array operand carries float-or-narrower elements. */
  private lazy val useFloat: Boolean =
    Seq(left, right).filter(isArr).forall(e => elemOf(e) match {
      case FloatType | ByteType | ShortType => true
      case _ => false
    })

  override def dataType: DataType =
    ArrayType(if (useFloat) FloatType else DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private def numAt(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case ByteType => a.getByte(i).toDouble
    case ShortType => a.getShort(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case d: DecimalType => a.getDecimal(i, d.precision, d.scale).toDouble
    case _ => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  private def scalarOf(v: Any, t: DataType): Double = t match {
    case FloatType => v.asInstanceOf[Float].toDouble
    case DoubleType => v.asInstanceOf[Double]
    case ByteType => v.asInstanceOf[Byte].toDouble
    case ShortType => v.asInstanceOf[Short].toDouble
    case IntegerType => v.asInstanceOf[Int].toDouble
    case LongType => v.asInstanceOf[Long].toDouble
    case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case _ => throw new IllegalArgumentException(s"unsupported scalar type $t")
  }

  private def apply2(x0: Double, y0: Double): Double = {
    // f32 mode: round BOTH operands to float and combine with float
    // arithmetic — a double-precision intermediate shifts values across
    // int8 rounding boundaries (quant_boundary golden id=1)
    if (useFloat) {
      val (x, y) = (x0.toFloat, y0.toFloat)
      (op match {
        case '+' => x + y
        case '-' => x - y
        case '*' => x * y
        case '/' =>
          if (y == 0.0f) throw new ArithmeticException("division by zero")
          x / y
        case '%' => x % y
        case _ => throw new IllegalArgumentException(s"unsupported vector op $op")
      }).toDouble
    } else op match {
      case '+' => x0 + y0
      case '-' => x0 - y0
      case '*' => x0 * y0
      case '/' =>
        if (y0 == 0.0) throw new ArithmeticException("division by zero")
        x0 / y0
      case '%' => x0 % y0
      case _ => throw new IllegalArgumentException(s"unsupported vector op $op")
    }
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val out: Array[Double] = (isArr(left), isArr(right)) match {
      case (true, true) =>
        val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
        if (a.numElements() != b.numElements())
          throw VectorKernel.dimMismatch(a.numElements(), b.numElements())
        val (ta, tb) = (elemOf(left), elemOf(right))
        Array.tabulate(a.numElements())(i =>
          apply2(numAt(a, i, ta), numAt(b, i, tb)))
      case (true, false) =>
        val a = l.asInstanceOf[ArrayData]
        val s = scalarOf(r, right.dataType)
        val ta = elemOf(left)
        Array.tabulate(a.numElements())(i => apply2(numAt(a, i, ta), s))
      case (false, true) =>
        val b = r.asInstanceOf[ArrayData]
        val s = scalarOf(l, left.dataType)
        val tb = elemOf(right)
        Array.tabulate(b.numElements())(i => apply2(s, numAt(b, i, tb)))
      case _ => throw new IllegalStateException("no array operand")
    }
    if (useFloat)
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        out.map(d => d.toFloat))
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
