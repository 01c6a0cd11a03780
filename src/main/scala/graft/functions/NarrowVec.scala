package graft.functions

import org.apache.spark.sql.functions.udf

/** Narrow vector types — the reference's quantized embedding columns
  * (`vecint8` / `vecuint8` / `vecf16` / `vecbf16`, reference
  * `pkg/container/types/types.go` vector family + the cast kernels in
  * `pkg/sql/plan/function/func_cast.go`; BVT `array/array_vecnarrow*.sql`,
  * `array/array_vecuint8.sql`).
  *
  * Spark mapping: int8 → ARRAY<TINYINT>, uint8 → ARRAY<SMALLINT> (no
  * unsigned byte type), f16/bf16 → ARRAY<FLOAT> with the value rounded to
  * the nearest representable half/bfloat16 at store/cast time, so stored
  * values — and every downstream distance — carry exactly the reduced
  * precision the reference's columns do.
  *
  * Semantics pinned by the goldens:
  *  - float → int8/uint8 CAST rounds half away from zero and SATURATES
  *    (`[1.6,200,-3.5,-200]` → `[2,127,-4,-128]`).
  *  - string → int8/uint8 parse is STRICT: integer tokens only, in
  *    range, else "error while casting X to VECINT8" (no round/clamp).
  *  - f16/bf16 round-to-nearest-even to the narrower mantissa.
  *
  * At 100 TB these casts are the quantization step of an embedding
  * pipeline: 4× (int8) or 2× (f16/bf16) storage + shuffle reduction,
  * applied element-wise in a distributed map with no driver involvement.
  */
object NarrowVec {

  /** float32 → bfloat16 → float32 (round-to-nearest-even on the dropped
    * 16 mantissa bits — the standard truncation used by Go's
    * x448/float16 and every ML runtime).
    */
  def toBf16(f: Float): Float = {
    if (f.isNaN) return Float.NaN
    val bits = java.lang.Float.floatToIntBits(f)
    val rounded = bits + 0x7fff + ((bits >>> 16) & 1)
    java.lang.Float.intBitsToFloat(rounded & 0xffff0000)
  }

  /** float32 → IEEE 754 half → float32 (round-to-nearest-even;
    * Java 17 lacks Float.floatToFloat16, so the conversion is spelled
    * out: sign/exponent/mantissa repack with subnormal + overflow
    * handling).
    */
  def toF16(f: Float): Float = halfToFloat(floatToHalfBits(f))

  private def floatToHalfBits(f: Float): Int = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val absBits = bits & 0x7fffffff
    if (absBits > 0x7f800000) return sign | 0x7e00 // NaN
    if (absBits >= 0x47800000) return sign | 0x7c00 // overflow → ±inf
    if (absBits >= 0x38800000) { // normal half
      val mant = absBits - 0x38000000 // re-bias exponent 127→15
      val h = mant >>> 13
      val rem = mant & 0x1fff
      val r = if (rem > 0x1000 || (rem == 0x1000 && (h & 1) == 1)) h + 1 else h
      sign | r
    } else {
      val e = absBits >>> 23
      val shift = 126 - e // ≥ 14 in the subnormal range
      if (shift > 24) sign // underflow → ±0
      else {
        val m = (absBits & 0x7fffff) | 0x800000
        val h = m >>> shift
        val rem = m & ((1 << shift) - 1)
        val halfPoint = 1 << (shift - 1)
        val r = if (rem > halfPoint || (rem == halfPoint && (h & 1) == 1)) h + 1 else h
        sign | r
      }
    }
  }

  private def halfToFloat(h: Int): Float = {
    val sign = (h & 0x8000) << 16
    val exp = (h >>> 10) & 0x1f
    val mant = h & 0x3ff
    if (exp == 0x1f)
      return java.lang.Float.intBitsToFloat(sign | 0x7f800000 | (mant << 13))
    if (exp == 0) {
      if (mant == 0) return java.lang.Float.intBitsToFloat(sign)
      // subnormal: normalize
      var m = mant
      var e = -1
      while ((m & 0x400) == 0) { m <<= 1; e -= 1 }
      return java.lang.Float.intBitsToFloat(
        sign | ((127 - 15 + e + 1) << 23) | ((m & 0x3ff) << 13))
    }
    java.lang.Float.intBitsToFloat(sign | ((exp - 15 + 127) << 23) | (mant << 13))
  }

  /** MySQL-style round half away from zero, saturating to [lo, hi]. */
  private def roundSat(x: Double, lo: Long, hi: Long, kind: String): Long = {
    if (x.isNaN)
      throw new IllegalArgumentException(
        s"internal error: error while casting NaN to ${kindName(kind)}")
    val r = math.floor(math.abs(x) + 0.5) * math.signum(x)
    if (r < lo) lo else if (r > hi) hi else r.toLong
  }

  private def kindName(kind: String): String = "VEC" + kind.toUpperCase

  private def checkDim(n: Int, dim: Int, kind: String): Unit =
    if (dim > 0 && n != dim)
      throw new IllegalArgumentException(
        s"invalid input: expected vector dimension $dim, got $n for ${kindName(kind)}")

  /** Quantizing cast from a numeric array (the vecf32→narrow CAST path:
    * rounds + saturates int kinds, precision-rounds float kinds).
    */
  def quant(xs: Seq[Double], kind: String, dim: Int): Seq[Double] = {
    if (xs == null) return null
    checkDim(xs.length, dim, kind)
    kind match {
      case "int8" => xs.map(x => roundSat(x, -128, 127, kind).toDouble)
      case "uint8" => xs.map(x => roundSat(x, 0, 255, kind).toDouble)
      case "f16" => xs.map(x => toF16(x.toFloat).toDouble)
      case "bf16" => xs.map(x => toBf16(x.toFloat).toDouble)
      case "f32" => xs.map(x => x.toFloat.toDouble)
      case "f64" => xs
      case other => throw new IllegalArgumentException(
        s"unknown vector type vec$other")
    }
  }

  /** STRICT string-literal parse (the reference's string→vector cast,
    * `types.go:99-104` + BVT strictness rows): int kinds take integer
    * tokens in range only; float kinds take any numeric token, then
    * precision-round.
    */
  def parse(s: String, kind: String, dim: Int): Seq[Double] = {
    if (s == null) return null
    val t = s.trim
    if (!t.startsWith("[") || !t.endsWith("]"))
      throw new IllegalArgumentException(
        s"internal error: malformed vector input: $s")
    val body = t.substring(1, t.length - 1).trim
    val toks = if (body.isEmpty) Array.empty[String]
      else body.split(",").map(_.trim)
    checkDim(toks.length, dim, kind)
    val vals = toks.map { tok =>
      val d = try tok.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"internal error: error while casting $tok to ${kindName(kind)}")
      }
      kind match {
        case "int8" | "uint8" =>
          val (lo, hi) = if (kind == "int8") (-128L, 127L) else (0L, 255L)
          if (d != math.rint(d) || tok.contains(".") || tok.toLowerCase.contains("e"))
            throw new IllegalArgumentException(
              s"internal error: error while casting $tok to ${kindName(kind)}")
          if (d < lo || d > hi)
            throw new IllegalArgumentException(
              s"internal error: error while casting $tok to ${kindName(kind)}")
          d
        case "f16" => toF16(d.toFloat).toDouble
        case "bf16" => toBf16(d.toFloat).toDouble
        case "f32" => d.toFloat.toDouble
        case _ => d
      }
    }
    vals.toSeq
  }

  /** Store-side check for INSERT literals that arrived as numeric arrays
    * (the harness folds quoted vector literals to array(...) before the
    * engine sees them — strictness must still hold): int kinds require
    * integral in-range values, float kinds precision-round.
    */
  def strictStore(xs: Seq[Double], kind: String, dim: Int): Seq[Double] = {
    if (xs == null) return null
    checkDim(xs.length, dim, kind)
    kind match {
      case "int8" | "uint8" =>
        val (lo, hi) = if (kind == "int8") (-128L, 127L) else (0L, 255L)
        xs.map { d =>
          if (d != math.rint(d) || d < lo || d > hi)
            throw new IllegalArgumentException(
              s"internal error: error while casting ${fmt(d)} to ${kindName(kind)}")
          d
        }
      case _ => quant(xs, kind, dim)
    }
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Byte width per element — the quantization upcast rule's input
    * (`vector_ivf_quant_upcast.result`: a wider QUANTIZATION than the
    * base column errors).
    */
  def widthOf(kind: String): Int = kind match {
    case "int8" | "uint8" => 1
    case "f16" | "bf16" | "float16" => 2
    case "f32" | "float32" => 4
    case "f64" | "float64" => 8
    case _ => -1
  }

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    // float-returning variants for every kind but f64: downstream
    // arithmetic then runs at FLOAT32 precision, which is what the
    // reference's vecf32 kernels do (vector_ivf_quant_boundary.result
    // pins an int8 round that only falls out of f32 intermediates)
    ft.udf("mo_vec_parse_f",
      udf((s: String, kind: String, dim: Int) =>
        Option(parse(s, kind, dim)).map(_.map(_.toFloat)).orNull))
    ft.udf("mo_vec_parse_d",
      udf((s: String, kind: String, dim: Int) => parse(s, kind, dim)))
    ft.udf("mo_vec_quant_f",
      udf((xs: Seq[Double], kind: String, dim: Int) =>
        Option(quant(xs, kind, dim)).map(_.map(_.toFloat)).orNull))
    ft.udf("mo_vec_quant_d",
      udf((xs: Seq[Double], kind: String, dim: Int) => quant(xs, kind, dim)))
    ft.udf("mo_vec_store",
      udf((xs: Seq[Double], kind: String, dim: Int) => strictStore(xs, kind, dim)))
    ft.udf("mo_vec_text_f",
      udf((xs: Seq[Float], sep: String) =>
        if (xs == null) null else xs.map(goFloat).mkString("[", sep, "]")))
    ft.udf("mo_vec_text_d",
      udf((xs: Seq[Double], sep: String) =>
        if (xs == null) null else xs.map(goDouble).mkString("[", sep, "]")))
  }

  /** Go-style shortest rendering (`%v` of a float32 slice — the export
    * routes in `pkg/sql/colexec/external`): integral values print with
    * no decimal point ("4", not "4.0").
    */
  def goFloat(v: Float): String =
    if (v == math.rint(v) && math.abs(v) < 1e7f) v.toLong.toString
    else v.toString

  def goDouble(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
