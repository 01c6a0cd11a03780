package graft

import graft.functions.{CosineSimilarityExpr, InnerProductExpr, L2DistanceExpr}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column => asCol, eagerExpression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions: graft's optimizer/analyzer rules and its whole
  * SQL function surface.
  *
  * Functions come from ONE table, [[GraftExtensions.functions]], built
  * once per JVM from every module's contribution (native Catalyst
  * builders, Column-combinator trees converted eagerly, and Scala UDFs
  * registered exactly as `UDFRegistration.register` would). `apply` injects
  * that table, so either route gives a session the full surface:
  *  - `SparkSession.builder().withExtensions(new GraftExtensions)`
  *    ([[GraftSession.builder]] does this);
  *  - `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster,
  *    with no further call.
  * [[GraftSession.init]] registers the same table into a session built
  * without the extension.
  *
  * Shadowed built-ins: 54 names deliberately replace Spark built-ins
  * with the reference's semantics (MySQL string/date/math rules, its
  * bitmap wire format and 0-based buckets, its WKT geometry surface),
  * among them `bitmap_construct_agg`, `bitmap_or_agg`, `bitmap_count`,
  * `bitmap_bucket_number`, `bitmap_bit_position`, `st_srid`, `upper`,
  * `substring`, `round`, `unix_timestamp`. Spark logs "replaced a
  * previously registered function" once per shadow each time a
  * session's registry is built; re-registering the table's own tuples
  * (a second `init`) logs nothing, since the entries are the same
  * instances.
  *
  * One registration stays outside the table: `CREATE INDEX … IVFFLAT`
  * registers a per-index `__mo_assign_<table>_<index>` function whose
  * closure holds that index's centroids (`MoCatalog`) — data, not
  * surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // ANN top-k pushdown over registered IVF/HNSW indexes (no-op when none)
    e.injectPostHocResolutionRule(session => new graft.plans.IvfAnnRule(session))
    e.injectPostHocResolutionRule(session => new graft.plans.HnswAnnRule(session))
    e.injectPostHocResolutionRule(session => new graft.plans.IvfPqAnnRule(session))
    // partition pruning over Partitions-managed tables (no-op when none)
    e.injectOptimizerRule(session => new graft.plans.PartitionPruneRule(session))
    // elementwise vector arithmetic: `vec + vec`, `vec * scalar` — the
    // reference's vecf32/vecf64 operator family; resolves what Spark's
    // numeric-only BinaryArithmetic would reject
    e.injectResolutionRule(_ => VecArithRule)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Collects the entries of the function table; each module adds its
    * names through one of three builder shapes.
    */
  final class FunctionTable {
    private val out = Seq.newBuilder[Entry]

    /** A native Catalyst builder. */
    def native(name: String, usage: String = "")(build: Seq[Expression] => Expression): Unit =
      out += ((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "built-in"),
        build))

    /** A Column-combinator tree, converted eagerly so the analyzer's
      * fixed-point resolution sees its unresolved nodes.
      */
    def column(name: String, usage: String = "")(build: Seq[Column] => Column): Unit =
      native(name, usage)(args => eagerExpression(build(args.map(asCol))))

    /** A Scala UDF under `name`: the same `ScalaUDF` node (and plan
      * string) that `UDFRegistration.register(name, f)` produces.
      */
    def udf(name: String, f: UserDefinedFunction): Unit = {
      val named = f.withName(name)
      column(name)(args => named(args: _*))
    }

    /** A Scala UDF bound to the analyzing session: `bind` receives the
      * handle of `SparkSession.active` each time the name resolves
      * (analysis runs with its session active).
      */
    def sessionUdf(name: String)(bind: SessionScoped.Handle => UserDefinedFunction): Unit =
      column(name)(args =>
        bind(SessionScoped.handle(SparkSession.active)).withName(name)(args: _*))

    def result: Seq[Entry] = out.result()
  }

  /** Every statically named graft SQL function, each name once. Built
    * once per JVM: `ExpressionInfo` compares by reference, so only the
    * same tuple instances re-register without a "replaced" warning.
    */
  lazy val functions: Seq[Entry] = {
    val t = new FunctionTable
    own(t)
    graft.functions.MoFunctions.functions(t)
    graft.functions.MoAliases.functions(t)
    graft.functions.DecimalGuard.functions(t)
    graft.functions.Sketches.functions(t)
    graft.functions.JsonExtras.functions(t)
    graft.functions.GeoFunctions.functions(t)
    graft.functions.Collations.functions(t)
    graft.functions.Jq.functions(t)
    graft.functions.JsonTail.functions(t)
    graft.operators.JsonUnnest.functions(t)
    graft.functions.DocText.functions(t)
    graft.operators.Llm.functions(t)
    graft.operators.Onnx.functions(t)
    graft.functions.Starlark.functions(t)
    graft.functions.NarrowVec.functions(t)
    graft.sql.Sequences.functions(t)
    graft.sql.QueryResults.functions(t)
    t.result
  }

  private def own(ft: FunctionTable): Unit = {
    ft.native("l2_distance", "l2_distance(a, b) - euclidean distance of two vectors")(
      args => L2DistanceExpr(args(0), args(1)))
    // the reference's SQL inner_product is the NEGATIVE dot product (a
    // distance, pkg/vectorindex/metric/distance_func.go:158-168 returns
    // -sum); the positive kernel stays internal for cosine/norm reuse
    ft.native("inner_product", "inner_product(a, b) - negative dot product (reference distance semantics)")(
      args => UnaryMinus(InnerProductExpr(args(0), args(1)), failOnError = false))
    ft.native("cosine_similarity", "cosine_similarity(a, b)")(
      args => CosineSimilarityExpr(args(0), args(1)))
    // single-pass JSON mutation program (chains fuse at build time);
    // MySQL's variadic (path, value)* pairs fold into one program
    def pathValuePairs(name: String,
        one: (Expression, Expression, Expression) => Expression)(
        args: Seq[Expression]): Expression = {
      require(args.length >= 3 && args.length % 2 == 1,
        s"invalid argument function $name, bad value " +
          s"[${args.map(_.dataType.simpleString.toUpperCase).mkString(" ")}]")
      args.drop(1).grouped(2).foldLeft(args.head) {
        case (doc, Seq(p, v)) => one(doc, p, v)
        case (doc, _) => doc
      }
    }
    ft.native("json_insert", "json_insert(doc, (path, value)+)")(
      pathValuePairs("json_insert", graft.functions.JsonMutateExpr.insert) _)
    ft.native("json_replace", "json_replace(doc, (path, value)+)")(
      pathValuePairs("json_replace", graft.functions.JsonMutateExpr.replace) _)
    ft.native("json_set", "json_set(doc, (path, value)+)")(
      pathValuePairs("json_set", graft.functions.JsonMutateExpr.set) _)
    ft.native("json_remove", "json_remove(doc, path+)") { args =>
      require(args.length >= 2,
        s"invalid argument function json_remove, bad value length ${args.length}")
      args.tail.foldLeft(args.head)(graft.functions.JsonMutateExpr.remove)
    }
    ft.native("json_merge_patch", "json_merge_patch(target, patch+)") { args =>
      require(args.length >= 2,
        s"invalid argument function json_merge_patch, bad value length ${args.length}")
      args.tail.foldLeft(args.head)(graft.functions.JsonMutateExpr.mergePatch)
    }
    ft.native("fulltext_match",
      "fulltext_match(text, query) - MATCH ... AGAINST predicate " +
        "(natural mode: any term; boolean mode: +must / -mustnot / should)")(
      args => fulltextMatch(args(0), args(1)))
    ft.native("in_range",
      "in_range(v, lo, hi, mode) - range predicate; mode bit0 = strict " +
        "lower bound, bit1 = strict upper bound")(
      args => inRange(args(0), args(1), args(2), args(3)))
    // hot geometry predicates as native expressions: foldable sides parse
    // once per operator, WKB binary operands accepted (GeoFunctions keeps
    // the WKT UDFs for the long tail)
    graft.functions.GeoPredicateExpr.ops.foreach { op =>
      val name = graft.functions.GeoPredicateExpr.sqlName(op)
      ft.native(name, s"$name(g1, g2) - geometry predicate over WKT or WKB")(
        args => graft.functions.GeoPredicateExpr(op, args(0), args(1)))
    }
  }

  /** The reference's zonemappable `in_range` operator
    * (`pkg/sql/plan/function/operator_between.go:372`; registry
    * `list_builtIn.go:3158`): mode 0 = [lo,hi], 1 = (lo,hi], 2 = [lo,hi),
    * 3 = (lo,hi). Expanded into plain comparison conjunctions so
    * Catalyst sees pushdown-able predicates; the STRICT null contract
    * (any NULL input → NULL) is pinned by the outer If, matching
    * `inRangeFixed`'s null handling.
    */
  private def inRange(v: Expression, lo: Expression, hi: Expression,
      mode: Expression): Expression = {
    def expand(m: Int): Expression = And(
      if ((m & 1) == 0) GreaterThanOrEqual(v, lo) else GreaterThan(v, lo),
      if ((m & 2) == 0) LessThanOrEqual(v, hi) else LessThan(v, hi))
    val body = mode match {
      case Literal(m, _) if m != null => expand(m.toString.toInt)
      case _ => CaseWhen(
        (0 to 3).map(m => (EqualTo(Cast(mode, org.apache.spark.sql.types.IntegerType),
          Literal(m)), expand(m))), None)
    }
    If(Or(Or(IsNull(v), IsNull(lo)), IsNull(hi)),
      Literal(null, org.apache.spark.sql.types.BooleanType), body)
  }

  /** Expand `fulltext_match(text, query)` into token-set expressions at
    * function-resolution time — the reference's MATCH...AGAINST predicate
    * (relevance > 0 semantics; `pkg/fulltext/fulltext.go:731` boolean
    * parser). Literal queries get boolean-mode parsing; non-literal
    * queries fall back to any-term-overlap. Scoring lives in
    * `graft.fulltext.Bm25` (needs corpus stats, not expression-local).
    */
  private def fulltextMatch(text: Expression, query: Expression): Expression = {
    def tokensOf(e: Expression): Expression =
      StringSplit(Lower(StringTrim(e)), Literal("\\s+"), Literal(-1))
    val tk = tokensOf(text)
    def has(term: String): Expression = ArrayContains(tk, Literal(UTF8String.fromString(term), StringType))
    query match {
      case Literal(s: UTF8String, StringType) =>
        val toks = s.toString.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val must = toks.filter(_.startsWith("+")).map(_.drop(1)).filter(_.nonEmpty)
        val mustNot = toks.filter(_.startsWith("-")).map(_.drop(1)).filter(_.nonEmpty)
        val should = toks.filterNot(t => t.startsWith("+") || t.startsWith("-"))
        val positive: Expression =
          if (must.nonEmpty) must.map(has).reduce[Expression](And)
          else if (should.nonEmpty) should.map(has).reduce[Expression](Or)
          else Literal(false)
        mustNot.map(t => Not(has(t)): Expression).foldLeft(positive)(And)
      case q => ArraysOverlap(tk, tokensOf(q))
    }
  }
}

/** Resolves arithmetic over vector (array) operands into the elementwise
  * [[graft.functions.VecArithExpr]] — Spark's BinaryArithmetic is
  * numeric-only, the reference's `+ - * /` accept vecf32/vecf64 with
  * scalar broadcast (`vector/vector_func.sql`).
  */
object VecArithRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.{ArrayType, NumericType}

  private def vecOperand(x: Expression): Boolean = x.dataType match {
    case ArrayType(_: NumericType, _) => true
    case _ => false
  }
  private def numOrVec(x: Expression): Boolean =
    vecOperand(x) || x.dataType.isInstanceOf[NumericType]
  private def applies(l: Expression, r: Expression): Boolean =
    l.resolved && r.resolved && (vecOperand(l) || vecOperand(r)) &&
      numOrVec(l) && numOrVec(r)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case a @ Add(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '+')
    case s @ Subtract(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '-')
    case m @ Multiply(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '*')
    case d @ Divide(l, r, _) if applies(l, r) =>
      graft.functions.VecArithExpr(l, r, '/')
  }
}
