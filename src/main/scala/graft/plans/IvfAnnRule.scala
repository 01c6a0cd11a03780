package graft.plans

import graft.functions.{CosineSimilarityExpr, L2DistanceExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Shared matching for ANN top-k sorts: `ORDER BY l2_distance(vec, q)
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

/** ANN top-k pushdown: rewrites a metric ORDER BY + LIMIT over an
  * IVF-indexed corpus into a probe of the `nprobe` nearest cells
  * (reference planner rewrites `apply_indices_ivfflat.go` /
  * `pushdownVectorIndexTopToTableScan`, query_builder.go:3299).
  *
  * The match is by CANONICALIZED corpus plan, so any DataFrame/SQL query
  * whose sort-child is exactly the indexed corpus gets the rewrite; the
  * nearest-cell choice happens driver-side against the (tiny) centroid
  * table — ranked by the QUERY's metric — and the rewritten plan scans
  * only nprobe/nlist of the corpus. Approximate by contract, like the
  * reference's index path.
  */
class IvfAnnRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (IvfIndex.indexes(spark).isEmpty) return plan
    plan.transformDown {
      case limit @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, sort @ Sort(Seq(AnnSortPattern(attr, q, metric)), true, child, _))) =>
        val rewritten = for {
          idx <- IvfIndex.indexes(spark).find(ix =>
            ix.vecCol == attr.name && child.canonicalized == ix.corpusPlan)
          probePlan = {
            val cellIds = IvfIndex.nearestCells(idx, q, metric)
            idx.cells.filter(col("__ivf_cell").isin(cellIds: _*))
              .drop("__ivf_cell").queryExecution.analyzed
          }
          aliases <- AnnSortPattern.rebind(child, probePlan)
        } yield GlobalLimit(Literal(k), LocalLimit(Literal(k),
          Sort(sort.order, global = true, Project(aliases, probePlan))))
        rewritten.getOrElse(limit)
    }
  }
}

/** IVF-PQ top-k pushdown (reference `apply_indices_ivfpq.go`): the same
  * sort shape over a PQ-indexed corpus becomes a semi-join of the corpus
  * against the ADC probe's candidate ids. The probe scans only the
  * quantized codes of the `nprobe` nearest cells (file-pruned on the
  * `_cell` partition column); the preserved outer sort re-ranks the
  * over-fetched candidates EXACTLY against the original vectors — the
  * reference's ADC-then-refine split.
  */
class IvfPqAnnRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (IvfPqIndex.indexes(spark).isEmpty) return plan
    plan.transformDown {
      case limit @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, sort @ Sort(Seq(AnnSortPattern(attr, q, "l2")), true, child, _))) =>
        val rewritten = for {
          idx <- IvfPqIndex.indexes(spark).find(ix =>
            ix.vecCol == attr.name && child.canonicalized == ix.corpusPlan)
          idAttr <- child.output.find(_.name == idx.idCol)
          // over-fetch ADC candidates so the exact re-rank recovers
          // quantization error (the reference's refine factor)
          candPlan = IvfPqIndex.probe(spark, idx, q, math.max(idx.refineFactor * k, 100))
            .queryExecution.analyzed
          nAttr <- candPlan.output.headOption
        } yield {
          val cond =
            if (idAttr.dataType == nAttr.dataType) EqualTo(idAttr, nAttr)
            else EqualTo(Cast(idAttr, nAttr.dataType), nAttr)
          GlobalLimit(Literal(k), LocalLimit(Literal(k),
            Sort(sort.order, global = true,
              Join(child, candPlan, LeftSemi, Some(cond), JoinHint.NONE))))
        }
        rewritten.getOrElse(limit)
    }
  }
}

/** HNSW top-k pushdown (reference `apply_indices_hnsw.go`): the same
  * sort shape over an HNSW-indexed corpus becomes a semi-join of the
  * corpus against the shard-parallel graph probe's candidate ids — the
  * graph walk replaces the full scan; the outer sort/limit re-ranks the
  * k candidates exactly.
  */
class HnswAnnRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (HnswIndex.indexes(spark).isEmpty) return plan
    plan.transformDown {
      case limit @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, sort @ Sort(Seq(AnnSortPattern(attr, q, "l2")), true, child, _))) =>
        val rewritten = for {
          idx <- HnswIndex.indexes(spark).find(ix =>
            ix.vecCol == attr.name && child.canonicalized == ix.corpusPlan)
          idAttr <- child.output.find(_.name == idx.idCol)
          candPlan = HnswIndex.probe(spark, idx, q, k).queryExecution.analyzed
          nAttr <- candPlan.output.headOption
        } yield {
          val cond =
            if (idAttr.dataType == nAttr.dataType) EqualTo(idAttr, nAttr)
            else EqualTo(Cast(idAttr, nAttr.dataType), nAttr)
          // LeftSemi keeps the child's own attributes, so the preserved
          // outer sort/limit re-ranks the k candidates exactly
          GlobalLimit(Literal(k), LocalLimit(Literal(k),
            Sort(sort.order, global = true,
              Join(child, candPlan, LeftSemi, Some(cond), JoinHint.NONE))))
        }
        rewritten.getOrElse(limit)
    }
  }
}
