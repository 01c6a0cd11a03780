package graft.plans

import graft.functions.{CosineSimilarityExpr, L2DistanceExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Matching for ANN top-k sorts: `ORDER BY l2_distance(vec, q)
  * ASC`, `ORDER BY cosine_distance(vec, q) ASC` (which the Column API
  * builds as `1.0 - cosine_similarity`), or `ORDER BY
  * cosine_similarity(vec, q) DESC`, each over a LIMIT k — the patterns
  * the reference rewrites in `apply_indices_vector.go` for every
  * metric/index kind.
  */
private[plans] object AnnSortPattern {
  def literalVector(e: Expression): Option[Array[Double]] = e match {
    case Literal(a: ArrayData, ArrayType(FloatType, _)) =>
      Some(a.toFloatArray().map(_.toDouble))
    case Literal(a: ArrayData, ArrayType(DoubleType, _)) =>
      Some(a.toDoubleArray())
    // the SQL surface writes `array(0.1, ...)` — a foldable CreateArray,
    // not yet a Literal when a post-hoc resolution rule sees it
    case _ if e.foldable => e.dataType match {
      case ArrayType(FloatType, _) =>
        Option(e.eval(null)).map(_.asInstanceOf[ArrayData].toFloatArray().map(_.toDouble))
      case ArrayType(DoubleType, _) =>
        Option(e.eval(null)).map(_.asInstanceOf[ArrayData].toDoubleArray())
      case _ => None
    }
    case _ => None
  }

  /** (vector attribute, query literal, metric) when the sort is an ANN
    * top-k shape.
    */
  def unapply(so: SortOrder): Option[(AttributeReference, Array[Double], String)] =
    so match {
      case SortOrder(L2DistanceExpr(attr: AttributeReference, qe), Ascending, _, _) =>
        literalVector(qe).map(q => (attr, q, "l2"))
      case SortOrder(Subtract(Literal(one, DoubleType),
          CosineSimilarityExpr(attr: AttributeReference, qe), _), Ascending, _, _)
          if one == 1.0 =>
        literalVector(qe).map(q => (attr, q, "cosine"))
      case SortOrder(CosineSimilarityExpr(attr: AttributeReference, qe), Descending, _, _) =>
        literalVector(qe).map(q => (attr, q, "cosine"))
      case _ => None
    }

  /** Rebind a replacement plan's output to the original attribute ids so
    * parent operators are untouched.
    */
  def rebind(child: LogicalPlan, replacement: LogicalPlan): Option[Seq[NamedExpression]] = {
    val opts = child.output.map(out =>
      replacement.output.find(_.name == out.name)
        .map(src => Alias(src, out.name)(exprId = out.exprId)))
    if (opts.forall(_.isDefined)) Some(opts.map(_.get)) else None
  }
}

/** ANN top-k pushdown over every [[VectorIndex]] kind — the
  * reference's one planner entry `pushdownVectorIndexTopToTableScan`
  * (query_builder.go:3299) handing each query to its
  * `apply_indices_*.go` rewrite.
  *
  * It matches a metric ORDER BY + LIMIT k whose sort child is exactly an
  * indexed corpus (by CANONICALIZED plan, so any DataFrame or SQL query
  * over it qualifies) and asks the matching index for its candidates.
  * The kinds are tried IVF-flat, then HNSW, then IVF-PQ. The query's own
  * sort and limit stay on top and rank the candidates exactly:
  *  - IVF-flat rows (only the `nprobe` nearest cells, chosen driver-side
  *    against the tiny centroid table by the QUERY's metric) replace
  *    the corpus, rebound to its attribute ids;
  *  - HNSW and IVF-PQ ids semi-join the corpus (`LeftSemi` keeps the
  *    corpus's own attributes). IVF-PQ over-fetches ADC candidates so
  *    the exact re-rank recovers the quantization loss.
  *
  * Approximate by contract, like the reference's index path.
  */
class AnnRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import VectorIndex.{Ids, Rows}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val all = VectorIndex.indexes(spark)
    if (all.isEmpty) return plan
    plan.transformDown {
      case limit @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, sort @ Sort(Seq(AnnSortPattern(attr, q, metric)), true, child, _))) =>
        def replace(idx: VectorIndex.Index): Option[LogicalPlan] =
          idx.candidates(spark, q, metric, k).flatMap {
            case Rows(rows) =>
              AnnSortPattern.rebind(child, rows).map(Project(_, rows))
            case Ids(idCol, ids) => for {
              idAttr <- child.output.find(_.name == idCol)
              nAttr <- ids.output.headOption
            } yield {
              val cond =
                if (idAttr.dataType == nAttr.dataType) EqualTo(idAttr, nAttr)
                else EqualTo(Cast(idAttr, nAttr.dataType), nAttr)
              Join(child, ids, LeftSemi, Some(cond), JoinHint.NONE)
            }
          }
        lazy val corpus = child.canonicalized
        // the first index of each kind on this corpus column, in order
        VectorIndex.Kind.inOrder.iterator
          .flatMap(kind => all.find(ix =>
            ix.kind == kind && ix.vecCol == attr.name && ix.corpusPlan == corpus))
          .flatMap(replace(_))
          .nextOption()
          .map(cands => GlobalLimit(Literal(k), LocalLimit(Literal(k),
            Sort(sort.order, global = true, cands))))
          .getOrElse(limit)
    }
  }
}
