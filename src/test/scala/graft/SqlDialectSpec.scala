package graft

import graft.sql.GraftSql
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference-dialect SQL layer: interval()/sliding()/fill() windows,
  * scored MATCH...AGAINST, sample(N rows | K percent) — each parsed from
  * raw SQL (reference syntax per `test/distributed/cases/window/
  * time_window.sql`, `fulltext/fulltext.sql`, `sample/sample.sql`) and
  * mapped onto TimeWindow / Bm25 / the window-rank sample rewrite.
  */
class SqlDialectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("stored procedure: searched CASE (no subject) takes the right branch") {
    def run(s: String) = GraftSql.sql(spark, s)
    run("drop table if exists case_t")
    run("create table case_t (v int)")
    run("drop procedure if exists p_case")
    run(
      "create procedure p_case(in x int) 'begin " +
        "CASE WHEN x < 0 THEN insert into case_t values (-1); " +
        "WHEN x = 0 THEN insert into case_t values (0); " +
        "ELSE insert into case_t values (1); END CASE; end'")
    run("call p_case(-5)")
    run("call p_case(0)")
    run("call p_case(7)")
    assert(run("select v from case_t order by v")
      .collect().map(_.getInt(0)).toSeq == Seq(-1, 0, 1))
    // nested CASE: `end case` must close the INNER construct only
    run("drop procedure if exists p_case2")
    run(
      "create procedure p_case2(in x int) 'begin " +
        "CASE WHEN x > 0 THEN " +
        "CASE WHEN x > 10 THEN insert into case_t values (100); " +
        "ELSE insert into case_t values (10); END CASE; " +
        "ELSE insert into case_t values (-100); END CASE; end'")
    run("delete from case_t")
    run("call p_case2(20)")
    run("call p_case2(5)")
    run("call p_case2(-1)")
    assert(run("select v from case_t order by v")
      .collect().map(_.getInt(0)).toSeq == Seq(-100, 10, 100))
    run("drop table case_t")
  }

  test("remapdb substitution never touches string-literal data") {
    GraftSql.sql(spark, "set enable_remap_hint = 1")
    GraftSql.sql(spark,
      """set remap_rewrites = '{"remapdb": {"testdb": "proddb"}}'""")
    try {
      // 'c@testdb.com' contains `testdb.` INSIDE a literal — the remap
      // must match against the masked copy and leave the data alone
      val v = GraftSql.sql(spark, "select 'c@testdb.com' as e").head.getString(0)
      assert(v == "c@testdb.com")
    } finally {
      GraftSql.sql(spark, "set remap_rewrites = ''")
      GraftSql.sql(spark, "set enable_remap_hint = 0")
    }
  }

  test("ON DUPLICATE KEY batch deeper than 16 rounds applies every row") {
    GraftSql.sql(spark, "drop table if exists updeep_t")
    GraftSql.sql(spark, "create table updeep_t (k int, v int)")
    GraftSql.registerPrimaryKey(spark, "updeep_t", "k")
    // 20 occurrences of the same key: row 1 inserts, 19 sequential
    // updates chain (+1 each) — a silent round cap would lose rows
    val vals = Seq.fill(20)("(1, 0)").mkString(", ")
    GraftSql.sql(spark,
      s"insert into updeep_t values $vals on duplicate key update v = v + 1")
    assert(GraftSql.sql(spark, "select v from updeep_t").head.getInt(0) == 19)
    GraftSql.sql(spark, "drop table updeep_t")
  }

  // ---------------------------------------------------------- interval
  private def tsTable(): Unit =
    Seq(
      ("2021-01-01 00:00:00", Some(10), "a"),
      ("2021-01-01 05:00:00", Some(20), "a"),
      // the 06-12 bucket HAS a row but its value is NULL — the
      // reference's interval() emits only data-bearing windows
      // (time_window.result goldens), so fills patch NULL cells
      ("2021-01-01 07:00:00", None, "a"),
      ("2021-01-01 13:00:00", Some(40), "b"),
      ("2021-01-02 01:00:00", Some(80), "b"))
      .toDF("tss", "v", "k")
      .select(to_timestamp($"tss").as("ts"), $"v", $"k")
      .createOrReplaceTempView("tw_t")

  test("interval(ts, N, unit) groups into _wstart/_wend windows") {
    tsTable()
    val rows = GraftSql.sql(spark,
      "SELECT _wstart, _wend, max(v) AS mx, min(v) AS mn FROM tw_t interval(ts, 6, hour)")
      .orderBy("_wstart")
      .select(unix_timestamp($"_wstart"), unix_timestamp($"_wend"), $"mx", $"mn")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -99 else r.getInt(2),
        if (r.isNullAt(3)) -99 else r.getInt(3)))
    val day = 1609459200L // 2021-01-01 UTC
    assert(rows.toSeq == Seq(
      (day, day + 21600, 20, 10),
      (day + 21600, day + 43200, -99, -99), // null-valued window emitted
      (day + 43200, day + 64800, 40, 40),
      (day + 86400, day + 108000, 80, 80)))
  }

  test("fill(prev) materializes gap windows with carried values") {
    tsTable()
    val rows = GraftSql.sql(spark,
      "SELECT _wstart, max(v) AS mx FROM tw_t interval(ts, 6, hour) fill(prev)")
      .orderBy("_wstart").select($"mx").as[Int].collect()
    // sparse windows 00,06,12,00+1d → 20 carried into the NULL 06-12
    // cell; gaps with NO rows are not materialized (the goldens'
    // semantics — dense gap-filling is the TimeWindow.gapFill operator)
    assert(rows.toSeq == Seq(20, 20, 40, 80))
  }

  test("fill(value, X) and fill(linear) follow the reference modes") {
    tsTable()
    val v = GraftSql.sql(spark,
      "SELECT _wstart, max(v) AS mx FROM tw_t interval(ts, 6, hour) fill(value, -1)")
      .orderBy("_wstart").select($"mx").as[Double].collect()
    assert(v.toSeq == Seq(20.0, -1.0, 40.0, 80.0))
    val lin = GraftSql.sql(spark,
      "SELECT _wstart, max(v) AS mx FROM tw_t interval(ts, 6, hour) fill(linear)")
      .orderBy("_wstart").select($"mx").as[Double].collect()
    // linear = neighbor midpoint (time_window.result block 182)
    assert(lin.toSeq == Seq(20.0, 30.0, 40.0, 80.0))
  }

  test("sliding(M, unit) produces overlapping windows") {
    tsTable()
    val n = GraftSql.sql(spark,
      "SELECT _wstart, count(v) AS n FROM tw_t interval(ts, 12, hour) sliding(6, hour)")
      .count()
    // each event lands in 2 windows; distinct starts ≥ 4
    assert(n >= 4)
  }

  test("WHERE inside an interval query filters before windowing") {
    tsTable()
    val rows = GraftSql.sql(spark,
      "SELECT _wstart, max(v) AS mx FROM tw_t WHERE k = 'b' interval(ts, 6, hour)")
      .orderBy("_wstart").select($"mx").as[Int].collect()
    assert(rows.toSeq == Seq(40, 80))
  }

  // ------------------------------------------------------------ sample
  private def sampleTable(): Unit =
    Seq((1, Some("x")), (1, Some("y")), (1, Some("z")), (1, None),
        (2, None), (2, None), (3, Some("only")))
      .toDF("g", "s").createOrReplaceTempView("sm_t")

  test("sample(col, N rows) draws non-null values per group") {
    sampleTable()
    val rows = GraftSql.sql(spark,
      "SELECT g, sample(s, 2 rows) AS v FROM sm_t GROUP BY g ORDER BY g, v")
      .collect().map(r => (r.getInt(0), Option(r.getString(1))))
    val byG = rows.groupBy(_._1)
    assert(byG(1).length == 2 && byG(1).forall(_._2.isDefined)) // nulls skipped
    assert(byG(2).toSeq == Seq((2, None)))                      // all-null group → 1 null row
    assert(byG(3).toSeq == Seq((3, Some("only"))))              // fewer rows than N
  }

  test("sample is deterministic across runs and partitionings") {
    sampleTable()
    def got = GraftSql.sql(spark,
      "SELECT g, sample(s, 2 rows) AS v FROM sm_t GROUP BY g ORDER BY g, v")
      .collect().toSeq
    assert(got == got)
    val global = GraftSql.sql(spark,
      "SELECT sample(s, 3 rows) AS v FROM sm_t").collect()
    assert(global.length == 3 && global.forall(!_.isNullAt(0)))
  }

  test("sample(col, K percent) sizes by ceil of the non-null count") {
    sampleTable()
    val n = GraftSql.sql(spark,
      "SELECT sample(s, 50 percent) AS v FROM sm_t").count()
    assert(n == 2) // ceil(4 * 0.5)
  }

  // ------------------------------------------------------- MATCH/AGAINST
  private def docTable(): Unit =
    Seq((1L, "spark joins fast"), (2L, "flink streams"), (3L, "spark spark streams"))
      .toDF("doc_id", "text").createOrReplaceTempView("ft_t")

  test("scored MATCH in projection, predicate MATCH in WHERE") {
    docTable()
    GraftSql.registerPrimaryKey(spark, "ft_t", "doc_id")
    val rows = GraftSql.sql(spark,
      """SELECT doc_id, MATCH(text) AGAINST('spark' IN NATURAL LANGUAGE MODE) AS score
        |FROM ft_t
        |WHERE MATCH(text) AGAINST('spark' IN NATURAL LANGUAGE MODE)
        |ORDER BY score DESC, doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.map(_._1).toSeq == Seq(3L, 1L)) // doc 3 has tf=2 → higher bm25
    assert(rows.forall(_._2 > 0))
  }

  test("projection-only MATCH filters to matching docs (reference index-apply)") {
    // the reference's `select *, match(...) as score from t` keeps ONLY
    // matching docs (BVT fulltext.result:63-65) — the index join is inner
    docTable()
    val rows = GraftSql.sql(spark,
      """SELECT doc_id, MATCH(text) AGAINST('spark' IN NATURAL LANGUAGE MODE) AS score
        |FROM ft_t ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.map(_._1).toSeq.sorted == Seq(1L, 3L)) // doc 2 has no 'spark'
    assert(rows.forall(_._2 > 0))
  }

  test("natural mode is a positional phrase (reference SqlPhrase)") {
    docTable()
    def ids(q: String) = GraftSql.sql(spark,
      s"""SELECT doc_id FROM ft_t
         |WHERE MATCH(text) AGAINST('$q' IN NATURAL LANGUAGE MODE)""".stripMargin)
      .collect().map(_.getLong(0)).toSeq.sorted
    // adjacency in order, not OR: doc1 is "spark joins fast"
    assert(ids("spark joins") == Seq(1L))
    assert(ids("joins spark") == Seq())
    assert(ids("spark fast") == Seq()) // words present but not adjacent
  }

  test("boolean mode MATCH respects +/- operators through SQL") {
    docTable()
    val ids = GraftSql.sql(spark,
      """SELECT doc_id FROM ft_t
        |WHERE MATCH(text) AGAINST('+spark -joins' IN BOOLEAN MODE)
        |ORDER BY doc_id""".stripMargin)
      .as[Long].collect()
    assert(ids.toSeq == Seq(3L))
  }

  test("standard SQL passes through untouched") {
    assert(GraftSql.sql(spark, "SELECT 1 AS one").as[Int].head() == 1)
    // INTERVAL literals must not trip the interval() rewriter
    assert(GraftSql.sql(spark,
      "SELECT timestamp'2021-01-01 00:00:00' + INTERVAL 1 DAY AS t").count() == 1)
  }

  // ------------------------------------------------ PREPARE / EXECUTE
  test("PREPARE/EXECUTE with USING vars binds ? placeholders") {
    Seq((1, 11), (2, 22), (3, 33)).toDF("a", "b")
      .createOrReplaceTempView("prep_t")
    GraftSql.sql(spark, "prepare stmt1 from 'select a, b from prep_t where a > ? order by a'")
    GraftSql.sql(spark, "set @a_var = 1")
    assert(GraftSql.sql(spark, "execute stmt1 using @a_var")
      .as[(Int, Int)].collect().toSeq == Seq((2, 22), (3, 33)))
    GraftSql.sql(spark, "set @a_var = 2")
    assert(GraftSql.sql(spark, "execute stmt1 using @a_var")
      .as[(Int, Int)].collect().toSeq == Seq((3, 33)))
    GraftSql.sql(spark, "deallocate prepare stmt1")
    assertThrows[IllegalStateException](
      GraftSql.sql(spark, "execute stmt1 using @a_var"))
  }

  test("user @vars substitute into plain queries; strings stay quoted") {
    GraftSql.sql(spark, "set @s = 'a?@b'")
    // ? and @ INSIDE the stored string are not treated as placeholders
    // on re-substitution
    assert(GraftSql.sql(spark, "select @s as v").as[String].head() == "a?@b")
    GraftSql.sql(spark, "set @n = 1 + 2")
    assert(GraftSql.sql(spark, "select @n + 1 as v").as[Int].head() == 4)
    // unset vars are NULL, like MySQL
    assert(GraftSql.sql(spark, "select @never_set as v").filter("v is null").count() == 1)
    // @@system variables are left for Spark (conf lookup), not rewritten
    assertThrows[Exception](GraftSql.sql(spark, "select @@not_a_real_sysvar"))
  }

  test("prepared statement with multiple params and literal row values") {
    spark.sql("drop table if exists prep_ins")
    spark.sql("create table prep_ins(a int, b int) using parquet")
    GraftSql.sql(spark, """prepare pi from "insert into prep_ins values (?, ?), (?, 99)"""")
    GraftSql.sql(spark, "set @x=5")
    GraftSql.sql(spark, "set @y=55")
    GraftSql.sql(spark, "set @z=9")
    GraftSql.sql(spark, "execute pi using @x, @y, @z")
    assert(spark.table("prep_ins").orderBy("a").as[(Int, Int)].collect().toSeq ==
      Seq((5, 55), (9, 99)))
    assert(GraftSql.preparedBody(spark, "pi").exists(_.startsWith("insert into prep_ins")))
    spark.sql("drop table prep_ins")
  }

  // ------------------------------------------- quantified ALL/ANY/SOME
  test("quantified comparisons: ALL/ANY/SOME over subqueries with 3VL") {
    Seq(1, 5, 9).toDF("a").createOrReplaceTempView("qt")
    Seq(Some(2), Some(4), None).toDF("s").createOrReplaceTempView("qs_null")
    Seq(2, 4).toDF("s").createOrReplaceTempView("qs")
    Seq.empty[Int].toDF("s").createOrReplaceTempView("qs_empty")
    def as(q: String): Seq[Int] =
      GraftSql.sql(spark, q).orderBy("a").as[Int].collect().toSeq

    // plain set, ordering ops
    assert(as("select a from qt where a > all(select s from qs)") == Seq(5, 9))
    assert(as("select a from qt where a < all(select s from qs)") == Seq(1))
    assert(as("select a from qt where a > any(select s from qs)") == Seq(5, 9))
    assert(as("select a from qt where a < some(select s from qs)") == Seq(1))
    // NULL in the set: ALL comparisons go UNKNOWN unless already FALSE
    assert(as("select a from qt where a > all(select s from qs_null)").isEmpty)
    // ANY still TRUE when a witness exists, UNKNOWN otherwise
    assert(as("select a from qt where a > any(select s from qs_null)") == Seq(5, 9))
    // empty set: ALL is TRUE, ANY is FALSE
    assert(as("select a from qt where a > all(select s from qs_empty)") == Seq(1, 5, 9))
    assert(as("select a from qt where a > any(select s from qs_empty)").isEmpty)
    // = / <> route through IN / NOT IN (NULL-aware)
    assert(as("select a from qt where a = any(select s from qs union all select 5)") == Seq(5))
    assert(as("select a from qt where a <> all(select s from qs)") == Seq(1, 5, 9))
    assert(as("select a from qt where a <> all(select s from qs_null)").isEmpty)
    // = ALL over a single-value set
    assert(as("select a from qt where a = all(select 5)") == Seq(5))
    assert(as("select a from qt where a <> any(select 5 union all select 5)") == Seq(1, 9))
    // HAVING context (the reference BVT shape, subquery-with-exists.sql:221)
    assert(as("select a from qt group by a having a > all(select s from qs)") == Seq(5, 9))
    // no false positives: UNION ALL ( SELECT, aggregate ALL, GROUP BY ALL
    assert(GraftSql.sql(spark,
      "select a from qt union all (select s from qs)").count() == 5)
  }

  // ------------------------------------------------------ sequences
  test("sequences: DDL, nextval/currval/setval/lastval, cycle, state row") {
    def one(q: String): Any = GraftSql.sql(spark, q).collect().head.get(0)
    GraftSql.sql(spark, "drop sequence if exists sq1")
    GraftSql.sql(spark,
      "create sequence sq1 as smallint increment by -40 minvalue 30 maxvalue 100 cycle")
    assert(one("select nextval('sq1')") == 100L) // first call returns start=max
    assert(one("select nextval('sq1')") == 60L)
    assert(one("select nextval('sq1')") == 100L) // 20 < min → cycle to max
    assert(one("select currval('sq1')") == 100L)
    assert(one("select lastval()") == 100L)
    assert(one("select setval('sq1', 50)") == 50L)
    assert(one("select nextval('sq1')") == 100L) // 10 < min → cycle
    // state row shape + drop-table guard
    val st = GraftSql.sql(spark, "select * from sq1").collect().head
    assert(st.getDecimal(1).intValue == 30 && st.getDecimal(2).intValue == 100)
    intercept[IllegalArgumentException](GraftSql.sql(spark, "drop table sq1"))
    // no-cycle exhaustion errors; left-to-right evaluation in one row
    GraftSql.sql(spark, "create sequence sq2 increment 2 minvalue 10 maxvalue 12 no cycle")
    val row = GraftSql.sql(spark,
      "select nextval('sq2'), currval('sq2'), nextval('sq2')").collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((10L, 10L, 12L)))
    val e = intercept[Exception](GraftSql.sql(spark, "select nextval('sq2')").collect())
    assert(e.getMessage.contains("Reached maximum") ||
      Option(e.getCause).exists(_.getMessage.contains("Reached maximum")))
    // show sequences lists both in creation order
    val names = GraftSql.sql(spark, "show sequences").collect().map(_.getString(0)).toSeq
    assert(names == Seq("sq1", "sq2"))
    GraftSql.sql(spark, "drop sequence sq1")
    GraftSql.sql(spark, "drop sequence if exists sq2")
    assert(GraftSql.sql(spark, "show sequences").count() == 0)
  }

  // ---------------------------------------------- save_query_result
  test("save_query_result: hint saves, result_scan/meta_scan re-read") {
    spark.sql("DROP TABLE IF EXISTS qr_t")
    val dir = java.nio.file.Files.createTempDirectory("graft_qr_t")
    spark.sql(s"CREATE TABLE qr_t(a INT) USING parquet LOCATION '$dir/t'")
    spark.sql("INSERT INTO qr_t VALUES (1), (2)")

    // off → result_scan is the reference's "no configure" error
    GraftSql.sql(spark, "set save_query_result = off")
    val off = intercept[IllegalStateException](
      GraftSql.sql(spark, "select * from result_scan(last_query_id()) as u"))
    assert(off.getMessage.contains("no configure"))

    GraftSql.sql(spark, "set save_query_result = on")
    GraftSql.sql(spark, "/* save_result */select * from qr_t")
    val back = GraftSql.sql(spark,
      "select * from result_scan(last_query_id()) as u").orderBy("a")
    assert(back.collect().map(_.getInt(0)).toSeq == Seq(1, 2))

    // saved result is frozen against later table mutation
    spark.sql("INSERT INTO qr_t VALUES (9)")
    assert(GraftSql.sql(spark,
      "select count(*) from result_scan(last_query_id()) as u")
      .collect().head.getLong(0) == 2L)

    // column names lowercase on re-read; offsets address earlier saves
    GraftSql.sql(spark, "/* save_result */select 1 as AbC, 2 as DeF")
    val cols = GraftSql.sql(spark,
      "select * from result_scan(last_query_id()) as u").columns.toSeq
    assert(cols == Seq("abc", "def"))
    assert(GraftSql.sql(spark,
      "select count(*) from result_scan(last_query_id(-2)) as u")
      .collect().head.getLong(0) == 2L) // save #1 frozen at 2 rows

    // meta_scan reports the read tables and a real result file
    val meta = GraftSql.sql(spark,
      "select tables, result_size from meta_scan(last_query_id(-2)) as u")
      .collect().head
    assert(meta.getString(0) == "qr_t" && meta.getLong(1) > 0)

    // maxsize 0: no result file, metadata says so
    GraftSql.sql(spark, "set query_result_maxsize = 0")
    GraftSql.sql(spark, "/* save_result */select * from qr_t")
    val m0 = GraftSql.sql(spark,
      "select char_length(result_path), result_size from meta_scan(last_query_id()) as u")
      .collect().head
    assert(m0.getInt(0) == 0 && m0.getLong(1) == 0L)
    GraftSql.sql(spark, "set query_result_maxsize = 100")

    // unknown id errors; result_scan(?) is rejected at PREPARE
    assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
      "select * from result_scan('no-such-id') as u")).getMessage.contains("not found"))
    assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
      "prepare qr_st from 'select count(*) from result_scan(?) as u'"))
      .getMessage.contains("invalid argument"))
    GraftSql.sql(spark, "set save_query_result = off")
    spark.sql("DROP TABLE qr_t")
  }

  // -------------------------------------- LOAD DATA INFILE / OUTFILE
  test("LOAD DATA INFILE loads csv with MySQL clauses; INTO OUTFILE exports") {
    val dir = java.nio.file.Files.createTempDirectory("graft_load")
    val f = dir.resolve("in.csv")
    // row 2: empty numeric → 0; row 3: \N → NULL (issue_24211 semantics)
    java.nio.file.Files.writeString(f,
      "skipme\n1|10|x\n2||y\n3|\\N|z\n")
    spark.sql("DROP TABLE IF EXISTS ld_t")
    // explicit temp LOCATION: immune to warehouse leftovers from a
    // crashed prior run (LOCATION_ALREADY_EXISTS on managed create)
    spark.sql("CREATE TABLE ld_t(a INT, b INT, c STRING) USING parquet " +
      s"LOCATION '${dir.resolve("ld_t")}'")
    GraftSql.sql(spark,
      s"load data local infile '$f' into table ld_t " +
        "fields terminated by '|' lines terminated by '\\n' ignore 1 lines parallel 'true'")
    val rows = spark.table("ld_t").orderBy("a")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2)))
    assert(rows.toSeq == Seq((1, 10, "x"), (2, 0, "y"), (3, -1, "z")))

    // column-list form: unlisted columns arrive NULL
    val f2 = dir.resolve("in2.csv")
    java.nio.file.Files.writeString(f2, "7,seven\n8,eight\n")
    GraftSql.sql(spark, s"load data infile '$f2' into table ld_t (a, c)")
    assert(spark.table("ld_t").filter("b is null and a >= 7").count() == 2)

    // export round trip
    val out = dir.resolve("out.csv").toString
    GraftSql.sql(spark,
      s"select a, c from ld_t where a <= 3 order by a into outfile '$out'")
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 3)
    assert(back.columns.toSeq == Seq("a", "c"))
    spark.sql("DROP TABLE ld_t")
  }

  test("SHOW INDEX and information_schema.statistics read the index registry") {
    GraftSql.sql(spark, "DROP TABLE IF EXISTS stat_t")
    GraftSql.sql(spark, "create table stat_t(a int, b int, c int) using parquet")
    GraftSql.sql(spark, "create unique index uq_b on stat_t(b)")
    GraftSql.sql(spark, "create index ix_bc on stat_t(b, c)")
    try {
      val rows = GraftSql.sql(spark,
        """select index_name, column_name, seq_in_index, non_unique
          |from information_schema.statistics
          |where table_name = 'stat_t'
          |order by index_name, seq_in_index""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
      assert(rows.toSeq == Seq(("ix_bc", "b", 1, 1), ("ix_bc", "c", 2, 1),
        ("uq_b", "b", 1, 0)))
      val shown = GraftSql.sql(spark, "show index from stat_t")
      assert(shown.columns.take(5).toSeq ==
        Seq("Table", "Non_unique", "Key_name", "Seq_in_index", "Column_name"))
      assert(shown.count() == 3)
      GraftSql.sql(spark, "drop index ix_bc on stat_t")
      assert(GraftSql.sql(spark,
        "select count(*) as c from information_schema.statistics " +
          "where table_name = 'stat_t'").head.getLong(0) == 1L)
    } finally GraftSql.sql(spark, "DROP TABLE IF EXISTS stat_t")
  }

  test("LOAD auto_increment fill is parallel (no coalesce(1)) and exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ai_load")
    val n = 20000
    // interleave explicit ids (jump to 50000 at row 5000, 90000 at row
    // 12000) with NULL allocations — the serial-allocator reference:
    // null rows continue from the running max
    val sb = new StringBuilder
    var expect = Vector.newBuilder[Long]
    var ctr = 0L
    (1 to n).foreach { i =>
      if (i == 5000) { sb.append(s"50000|v$i\n"); ctr = math.max(ctr, 50000L) }
      else if (i == 12000) { sb.append(s"90000|v$i\n"); ctr = math.max(ctr, 90000L) }
      else { sb.append(s"\\N|v$i\n"); ctr += 1; expect += ctr }
    }
    val f = dir.resolve("ai.csv")
    java.nio.file.Files.writeString(f, sb.toString)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      GraftSql.sql(spark, "DROP TABLE IF EXISTS ld_ai")
      GraftSql.sql(spark,
        "create table ld_ai(id bigint auto_increment, v varchar(20))")
      // the split file must actually arrive in >1 partition for the
      // parallelism claim to be exercised
      assert(spark.read.textFile(f.toString).rdd.getNumPartitions > 1,
        "test setup: csv should split into multiple partitions")
      GraftSql.sql(spark,
        s"load data infile '$f' into table ld_ai fields terminated by '|'")
      val got = spark.table("ld_ai").orderBy("id")
        .select("id").collect().map(_.getLong(0)).toVector
      val want = (expect.result() ++ Vector(50000L, 90000L)).sorted
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      GraftSql.sql(spark, "DROP TABLE IF EXISTS ld_ai")
    }
  }

  test("INSERT auto_increment fill happens in the engine (no harness help)") {
    def run(s: String) = GraftSql.sql(spark, s)
    run("drop table if exists eng_ai")
    run("create table eng_ai (id int auto_increment, v varchar(10))")
    // omitted auto column allocates 1, 2
    run("insert into eng_ai(v) values ('a'), ('b')")
    // explicit NULL/0 allocate; explicit positive advances the counter
    run("insert into eng_ai values (null, 'c'), (10, 'd'), (0, 'e')")
    assert(run("select id, v from eng_ai order by id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c"), (10, "d"), (11, "e")))
    // INSERT ... SELECT omitting the auto column continues from 11
    run("insert into eng_ai(v) select concat(v, '2') from eng_ai where id <= 2")
    assert(run("select max(id) from eng_ai").head.getInt(0) == 13)
    // failed inserts do not consume ids
    intercept[Exception](run("insert into eng_ai(v, nope) values ('x', 1)"))
    run("insert into eng_ai(v) values ('f')")
    assert(run("select max(id) from eng_ai").head.getInt(0) == 14)
    // TRUNCATE resets the allocator; ALTER ... AUTO_INCREMENT moves it
    run("truncate table eng_ai")
    run("insert into eng_ai(v) values ('g')")
    assert(run("select id from eng_ai").head.getInt(0) == 1)
    run("alter table eng_ai auto_increment = 100")
    run("insert into eng_ai(v) values ('h')")
    assert(run("select max(id) from eng_ai").head.getInt(0) == 100)
    // CREATE ... AUTO_INCREMENT = N table option sets the start
    run("drop table if exists eng_ai2")
    run("create table eng_ai2 (id bigint auto_increment, v int) AUTO_INCREMENT = 7")
    run("insert into eng_ai2(v) values (1)")
    assert(run("select id from eng_ai2").head.getLong(0) == 7L)
    run("drop table if exists eng_ai")
    run("drop table if exists eng_ai2")
  }
}
