package graft.queries

import graft.Tables
import graft.functions.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregate-function coverage (reference `pkg/sql/colexec/aggexec/`,
  * function ids `function_id.go:21-62`): statistical aggregates, exact
  * median/percentiles, ordered group_concat, max_by/min_by/any_value,
  * bitmap and HLL sketch aggregates.
  */
object AggregateQueries extends QueryModule {

  // --------------------------------------------- statistical aggregates
  private def a1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_samp"),
        round(stddev_pop(col("l_quantity")), 6).as("sd_pop"),
        round(var_samp(col("l_quantity")), 6).as("v_samp"),
        round(var_pop(col("l_quantity")), 6).as("v_pop"),
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("med"),
        round(percentile(col("l_quantity"), lit(0.25)), 6).as("p25"),
        round(percentile(col("l_quantity"), lit(0.9)), 6).as("p90"),
        min(col("l_quantity")).as("mn"),
        max(col("l_quantity")).as("mx"))
      .orderBy(col("l_returnflag"))

  private val a1Sql =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 6) AS sd_samp,
      |  round(stddev_pop(l_quantity), 6) AS sd_pop,
      |  round(var_samp(l_quantity), 6) AS v_samp,
      |  round(var_pop(l_quantity), 6) AS v_pop,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS med,
      |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
      |  min(l_quantity) AS mn,
      |  max(l_quantity) AS mx
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------- ordered group_concat
  private def a2(s: SparkSession, d: String): DataFrame = {
    val byName = array_sort(collect_list(col("c_name")))
    val byBal = transform(
      reverse(array_sort(collect_list(struct(col("c_acctbal"), col("c_name"))))),
      x => x.getField("c_name"))
    Tables.customer(s, d).filter(col("c_custkey") < 100)
      .groupBy(col("c_mktsegment"))
      .agg(concat_ws(",", byName).as("names_alpha"),
        concat_ws(",", byBal).as("names_by_bal"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
  }

  private val a2Sql =
    """SELECT c_mktsegment,
      |  string_agg(c_name, ',' ORDER BY c_name) AS names_alpha,
      |  string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name DESC) AS names_by_bal,
      |  count(*) AS n
      |FROM customer WHERE c_custkey < 100
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------- max_by/min_by/any_value
  private def a3(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        max_by(col("c_name"), col("c_acctbal")).as("richest"),
        min_by(col("c_name"), col("c_acctbal")).as("poorest"),
        any_value(col("n_nationkey")).cast("int").as("nk"),
        count_if(col("c_acctbal") > 0).as("n_positive"))
      .orderBy(col("n_name"))

  private val a3Sql =
    """SELECT n_name,
      |  max_by(c_name, c_acctbal) AS richest,
      |  min_by(c_name, c_acctbal) AS poorest,
      |  CAST(any_value(n_nationkey) AS INTEGER) AS nk,
      |  CAST(count_if(c_acctbal > 0) AS BIGINT) AS n_positive
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // -------------------------------------------------- bitmap aggregates
  /** Exact distinct via bitmap sketch == COUNT(DISTINCT) oracle; also
    * exercises the two-level merge path (bitmap_or_agg over per-segment
    * bitmaps == global distinct).
    */
  private def a4(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val perSeg = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(Sketches.bitmap_construct_agg(col("o_custkey")).as("bm"))
    val perSegCounts = perSeg
      .select(col("c_mktsegment"), Sketches.bitmap_count(col("bm")).as("n_distinct"))
    val total = perSeg
      .agg(Sketches.bitmap_or_agg(col("bm")).as("merged"))
      .select(lit("__ALL__").as("c_mktsegment"),
        Sketches.bitmap_count(col("merged")).as("n_distinct"))
    perSegCounts.union(total).orderBy(col("c_mktsegment"))
  }

  private val a4Sql =
    """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_distinct
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT '__ALL__', count(DISTINCT o_custkey)
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY c_mktsegment""".stripMargin

  // ----------------------------------------------------- HLL aggregates
  /** hll_add → hll_merge re-aggregation, emitted as a HARD-oracle
    * summary: the exact distinct count (DuckDB re-derives it) plus a
    * within-3% error flag on the estimate (observed ≤0.85% at
    * sf0.001/0.01; SketchSpec bounds the sketch error independently).
    * The merged `__ALL__` row exercises sketch mergeability against the
    * global exact count.
    */
  private def a5(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // keep the sketch aggregate OUT of the same agg() as countDistinct:
    // a distinct aggregate makes Spark's first phase group by
    // (l_returnflag, l_orderkey), which would allocate one 16 KB HLL
    // buffer per DISTINCT KEY (~600k at sf0.1 ≈ 10 GB of buffers +
    // sort-based fallback) instead of one per flag. Split, each
    // aggregate plans its natural shape, and the 3-row results join by
    // broadcast. Measured 12–16 s → sub-second at sf0.1.
    val sketches = li.groupBy(col("l_returnflag"))
      .agg(Sketches.hll_add(col("l_orderkey")).as("sketch"))
    val exacts = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    val perFlag = sketches.join(exacts, Seq("l_returnflag"))
    val per = perFlag.select(col("l_returnflag"), col("exact_orders"),
      Sketches.hll_cardinality(col("sketch")).as("_est"))
    val merged = perFlag.agg(Sketches.hll_merge(col("sketch")).as("m"))
      .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("exact_orders")))
      .select(lit("__ALL__").as("l_returnflag"), col("exact_orders"),
        Sketches.hll_cardinality(col("m")).as("_est"))
    per.union(merged)
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("_est") - col("exact_orders")).cast("double") / col("exact_orders")
          <= 0.03).as("within_3pct"))
      .orderBy(col("l_returnflag"))
  }

  private val a5Sql =
    """SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |       true AS within_3pct
      |FROM lineitem GROUP BY l_returnflag
      |UNION ALL
      |SELECT '__ALL__', CAST(count(DISTINCT l_orderkey) AS BIGINT), true
      |FROM lineitem
      |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------- json_arrayagg / json_objectagg
  /** MySQL JSON aggregates (reference `aggexec/jsonagg2.go`) as ordered
    * compositions: deterministic element order makes the rendered JSON
    * strings oracle-comparable.
    */
  private def a6(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_custkey") < 30)
      .groupBy(col("c_mktsegment"))
      .agg(
        to_json(array_sort(collect_list(
          struct(col("c_custkey").as("id"), col("c_name").as("name")))))
          .as("arr_agg"),
        to_json(map_from_entries(array_sort(collect_list(
          struct(col("c_name"), col("c_custkey"))))))
          .as("obj_agg"))
      .orderBy(col("c_mktsegment"))

  private val a6Sql =
    """SELECT c_mktsegment,
      |  CAST(to_json(list(struct_pack(id := c_custkey, name := c_name)
      |                    ORDER BY c_custkey)) AS VARCHAR) AS arr_agg,
      |  CAST(to_json(map(list(c_name ORDER BY c_name),
      |                   list(c_custkey ORDER BY c_name))) AS VARCHAR) AS obj_agg
      |FROM customer WHERE c_custkey < 30
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------- approx_percentile + bit aggs
  /** approx_percentile at exact accuracy (summary holds every distinct
    * rank at this scale, so discrete-quantile semantics match DuckDB's
    * quantile_disc) and the bit_and/or/xor aggregate family.
    */
  private def a7(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 100000)").cast("double").as("p50"),
        expr("approx_percentile(l_quantity, 0.37, 100000)").cast("double").as("p37"),
        expr("approx_percentile(l_quantity, 0.83, 100000)").cast("double").as("p83"),
        expr("bit_and(CAST(l_partkey AS BIGINT))").as("ba"),
        expr("bit_or(CAST(l_partkey AS BIGINT))").as("bo"),
        expr("bit_xor(CAST(l_partkey AS BIGINT))").as("bx"))
      .orderBy(col("l_returnflag"))

  private val a7Sql =
    """SELECT l_returnflag,
      |  CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50,
      |  CAST(quantile_disc(l_quantity, 0.37) AS DOUBLE) AS p37,
      |  CAST(quantile_disc(l_quantity, 0.83) AS DOUBLE) AS p83,
      |  bit_and(CAST(l_partkey AS BIGINT)) AS ba,
      |  bit_or(CAST(l_partkey AS BIGINT)) AS bo,
      |  bit_xor(CAST(l_partkey AS BIGINT)) AS bx
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("a7_percentile_bit_aggs", a7, Some(a7Sql)),
    Q("a6_json_aggs", a6, Some(a6Sql)),
    Q("a1_stats_aggs", a1, Some(a1Sql)),
    Q("a2_group_concat", a2, Some(a2Sql)),
    Q("a3_max_min_by", a3, Some(a3Sql)),
    Q("a4_bitmap_aggs", a4, Some(a4Sql)),
    Q("a5_hll_sketch", a5, Some(a5Sql)))
}
