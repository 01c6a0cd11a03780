package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** Bridge into Spark's classic Column↔Expression conversion (private[sql]
  * in Spark 4) so graft's native Catalyst expressions can be exposed as
  * `Column`s — the standard pattern for out-of-tree expression libraries.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager ColumnNode→Expression conversion. `expression` defers via a
    * lazy wrapper that only the DataFrame API's analysis path unwraps —
    * an expression returned from a FunctionRegistry builder must instead
    * be converted NOW (to UnresolvedFunction nodes etc.) so the
    * analyzer's fixed-point resolution picks it up.
    */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Spark's WRONG_NUM_ARGS analysis error for a call of `name`. */
  def wrongNumArgs(name: String, accepted: Seq[Any], actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, accepted, actual)

  /** The argument count of a typed Scala UDF (one input encoder each). */
  def udfArity(f: UserDefinedFunction): Int =
    f.asInstanceOf[SparkUserDefinedFunction].inputEncoders.length
}
