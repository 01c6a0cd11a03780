package graft.functions

import graft.GraftExtensions.Arity
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}

/** Decimal overflow guard (SURVEY §2.13 decimal arithmetic): Spark caps
  * decimals at Decimal(38) where the reference carries an internal
  * decimal256 (`pkg/container/types/types.go:34`; user-facing widths are
  * still capped at 38, `types.go:703`). Under non-ANSI Spark a value
  * that exceeds the target precision silently becomes NULL — this guard
  * restores the reference's loud failure with its error text
  * (`pkg/container/types/decimal.go:413` "Decimal128 scale overflow",
  * Add/Mul overflow ibid:649,761) so a pipeline migrated from the
  * reference fails the same way instead of nulling revenue sums.
  */
object DecimalGuard {

  /** Max user-facing precision — both engines' limit for stored values. */
  val MaxPrecision = 38

  case class CheckedDecimalExpr(child: Expression, precision: Int, scale: Int)
      extends Expression with CodegenFallback {

    override def children: Seq[Expression] = Seq(child)
    override def dataType: DataType = DecimalType(precision, scale)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "checked_decimal"

    // widest intermediate: reference scales into decimal256 then checks;
    // here the widest Spark type carries the value into the check
    @transient private lazy val asWide =
      Cast(child, DecimalType(MaxPrecision, scale))

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) return null
      val wide = asWide.eval(input)
      if (wide == null)
        // did not even fit Decimal(38, scale): the reference's decimal256
        // regime — same message its Scale path raises (decimal.go:596)
        throw new ArithmeticException(s"Decimal256 scale overflow: $v")
      val d = wide.asInstanceOf[Decimal].clone()
      if (!d.changePrecision(precision, scale))
        throw new ArithmeticException(s"Decimal128 scale overflow: $v")
      d
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
  }

  import org.apache.spark.sql.GraftColumnBridge.{column => asCol, expression => asExpr}

  /** `checked_decimal(e, p, s)` — cast to DECIMAL(p, s), throwing the
    * reference's overflow error instead of producing NULL.
    */
  def checked_decimal(e: Column, precision: Int, scale: Int): Column = {
    require(precision <= MaxPrecision,
      s"DECIMAL($precision, $scale): precision beyond $MaxPrecision is " +
        "internal-only in the reference (decimal256 intermediates, " +
        "types.go:34); user decimals cap at 38 in both engines")
    asCol(CheckedDecimalExpr(asExpr(e), precision, scale))
  }

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit =
    ft.native("checked_decimal",
      "checked_decimal(e, p, s) - DECIMAL(p, s) cast that throws on overflow", Arity(3)) { args =>
      def lit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"checked_decimal: $what must be an integer literal, got $other")
      }
      val p = lit(args(1), "precision")
      require(p <= MaxPrecision,
        s"DECIMAL($p): precision beyond $MaxPrecision is internal-only " +
          "in the reference; user decimals cap at 38 in both engines")
      CheckedDecimalExpr(args(0), p, lit(args(2), "scale"))
    }
}
