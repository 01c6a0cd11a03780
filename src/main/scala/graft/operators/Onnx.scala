package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** `onnx_run(model, input, input_shape, output_shape)` — the reference's
  * ONNX inference builtin (`pkg/sql/plan/function/func_builtin_onnx.go`:
  * varbinary/datalink model, json flat input array, json shapes of the
  * form `{"dim":[1,1,4],"dtype":"float32"}`, one cached session per
  * expression reused across rows). Same pluggable-backend treatment as
  * [[Llm]]: the registry/session-cache/row plumbing is real; the only
  * backend shipped is the deterministic `stub` (no ONNX Runtime in this
  * container — `ai.onnxruntime.OrtSession` plugs in via [[OnnxBackend]]
  * without touching the operator).
  */
object Onnx {

  /** Parsed tensor shape: `{"dim":[...], "dtype":"..."}`. */
  final case class Shape(dims: Seq[Int], dtype: String) {
    def size: Int = dims.product
  }

  private val DimRe = """"dim"\s*:\s*\[([0-9,\s]*)\]""".r
  private val DtypeRe = """"dtype"\s*:\s*"([^"]+)"""".r

  def parseShape(js: String): Shape = {
    val dims = DimRe.findFirstMatchIn(js)
      .map(_.group(1).split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt))
      .getOrElse(throw new IllegalArgumentException(s"onnx_run: bad shape json: $js"))
    val dtype = DtypeRe.findFirstMatchIn(js).map(_.group(1)).getOrElse("float32")
    Shape(dims, dtype)
  }

  /** One loaded model session, reused across rows (≙ `op.sess`). */
  trait OnnxSession extends Serializable {
    def run(input: Array[Double], outShape: Shape): Array[Double]
    def close(): Unit = ()
  }

  /** Backend factory from raw model bytes (varbinary overload; a
    * datalink string resolves to bytes before this seam).
    */
  trait OnnxBackend extends Serializable {
    def create(model: Array[Byte]): OnnxSession
  }

  /** Deterministic stand-in with documented math so specs AND the
    * cross-engine oracle can re-derive outputs exactly:
    * `out(j) = sum(input) * (j + 1) + model.length`.
    */
  final class StubBackend extends OnnxBackend {
    override def create(model: Array[Byte]): OnnxSession = new OnnxSession {
      private val bias = model.length.toDouble
      override def run(input: Array[Double], outShape: Shape): Array[Double] = {
        val s = input.sum
        Array.tabulate(outShape.size)(j => s * (j + 1) + bias)
      }
    }
  }

  private val backends = new java.util.concurrent.ConcurrentHashMap[String, OnnxBackend]()
  backends.put("stub", new StubBackend)
  @volatile private var active = "stub"

  /** Register a backend and/or select the active one (the reference's
    * function has no backend argument — the runtime is a deployment
    * choice, so it is session-global here).
    */
  def registerBackend(name: String, b: OnnxBackend): Unit = backends.put(name, b)
  def use(name: String): Unit = {
    require(backends.containsKey(name), s"onnx: unknown backend '$name'")
    active = name
  }

  // per-executor session cache keyed by model digest — the reference
  // caches per expression instance; per-executor is strictly broader
  // reuse with the same rebuild-on-change semantics
  @transient private lazy val sessions =
    new java.util.concurrent.ConcurrentHashMap[(String, String), OnnxSession]()

  private def session(model: Array[Byte]): OnnxSession = {
    val digest = java.security.MessageDigest.getInstance("MD5").digest(model)
      .map("%02x".format(_)).mkString
    sessions.computeIfAbsent((active, digest), _ => backends.get(active).create(model))
  }

  /** Drop every cached session (e.g. after switching backends). */
  def reset(): Unit = {
    sessions.values().forEach(_.close())
    sessions.clear()
  }

  private def parseFlatArray(js: String): Array[Double] = {
    val body = js.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) Array.empty
    else body.split(',').map(_.trim.toDouble)
  }

  /** Row form: returns the output tensor as a json flat array. */
  def runOnce(model: Array[Byte], inputJson: String, inShapeJson: String,
      outShapeJson: String): String = {
    if (model == null || inputJson == null) return null
    val inShape = parseShape(inShapeJson)
    val outShape = parseShape(outShapeJson)
    val input = parseFlatArray(inputJson)
    require(input.length == inShape.size,
      s"onnx_run: input has ${input.length} values, shape wants ${inShape.size}")
    session(model).run(input, outShape).mkString("[", ",", "]")
  }

  private val runU = udf(runOnce _)
  def onnx_run(model: Column, input: Column, inShape: Column, outShape: Column): Column =
    runU(model, input, inShape, outShape)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit =
    ft.udf("onnx_run", udf(runOnce _))
}
