package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL surface: extension-injected native functions + registered UDF
  * names are callable from `spark.sql`, and external CSV/JSON sources
  * round-trip (reference External operator, §2.1).
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("extension-injected vector functions resolve in SQL") {
    val r = spark.sql(
      """SELECT l2_distance(array(0.0F, 3.0F), array(4.0F, 0.0F)) AS d,
        |       inner_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS ip,
        |       round(cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)), 6) AS cs
        |""".stripMargin).head
    assert(r.getDouble(0) == 5.0)
    // reference inner_product is the NEGATIVE dot product (distance)
    assert(r.getDouble(1) == -11.0)
    assert(r.getDouble(2) == 1.0)
  }

  test("registered UDF names resolve in SQL") {
    val r = spark.sql(
      """SELECT inet_aton('10.0.0.1') AS ip,
        |       period_add(202411L, 3L) AS pa,
        |       json_merge_patch('{"a":1}', '{"b":2}') AS jm,
        |       mo_date_format(timestamp'1997-06-15 10:30:00', '%Y/%m/%d %H:%i') AS fmt
        |""".stripMargin).head
    assert(r.getLong(0) == 167772161L)
    assert(r.getLong(1) == 202502L)
    assert(r.getString(2) == """{"a":1,"b":2}""")
    assert(r.getString(3) == "1997/06/15 10:30")
  }

  test("new SQL names resolve: geo, collation, json extras, time, inet6") {
    val r = spark.sql(
      """SELECT st_x(st_geomfromtext('POINT(3 4)')) AS x,
        |       st_distance('POINT(0 0)', 'POINT(3 4)') AS d,
        |       st_contains('POLYGON((0 0,10 0,0 10,0 0))', 'POINT(1 1)') AS cont,
        |       st_geohash(CAST(-5.6 AS DOUBLE), CAST(42.6 AS DOUBLE), 5) AS gh,
        |       collated_strcmp('ABC', 'abc', 'utf8mb4_general_ci') AS ci_cmp,
        |       json_type('{"a":1}') AS jt,
        |       json_contains('[1,2,3]', '2') AS jc,
        |       sec_to_time(3725L) AS stt,
        |       time_to_sec('01:02:05') AS tts,
        |       hex(inet6_aton('::1')) AS i6,
        |       is_ipv6('2001:db8::1') AS v6,
        |       convert_tz(timestamp'2024-01-15 08:30:00', 'America/New_York', 'Asia/Tokyo') AS tz
        |""".stripMargin).head
    assert(r.getDouble(0) == 3.0)
    assert(r.getDouble(1) == 5.0)
    assert(r.getBoolean(2))
    assert(r.getString(3) == "ezs42")
    assert(r.getInt(4) == 0)
    assert(r.getString(5) == "OBJECT")
    assert(r.getBoolean(6))
    assert(r.getString(7) == "01:02:05")
    assert(r.getLong(8) == 3725L)
    assert(r.getString(9).endsWith("01") && r.getString(9).length == 32)
    assert(r.getBoolean(10))
    // convert_tz renders at seconds precision as a STRING (MO guards —
    // invalid offsets NULL, out-of-range results echo the input)
    assert(r.getString(11).startsWith("2024-01-15 22:30"))
    // the datetime/inet SQL surface resolves to the same codegen'd
    // combinator trees as the Column API — no ScalaUDF (literal args;
    // convert_tz is deliberately a UDF kernel now, so not listed)
    val plan = spark.sql(
      """SELECT to_days(date'2024-01-01'), sec_to_time(10L),
        |  period_add(202411L, 3L), inet_ntoa(167772161L),
        |  mo_date_format(timestamp'2024-01-15 08:30:00', '%Y-%m')""".stripMargin)
    assert(!plan.queryExecution.analyzed.toString.contains("UDF"),
      "datetime SQL surface must not resolve to ScalaUDF for literal args")
  }

  /** Prepared-statement analog (reference COM_STMT_PREPARE/EXECUTE,
    * SURVEY §3.2): Spark's parameterized SQL binds named/positional
    * params without string splicing — plan template + bound values.
    */
  test("parameterized sql is the prepared-statement analog") {
    val named = spark.sql("SELECT :a + :b AS s, upper(:name) AS n",
      Map("a" -> 40, "b" -> 2, "name" -> "graft")).head
    assert(named.getInt(0) == 42 && named.getString(1) == "GRAFT")
    val positional = spark.sql("SELECT ? * ? AS p", Array(6, 7)).head
    assert(positional.getInt(0) == 42)
    // re-execution with new bindings reuses the same text (the EXECUTE path)
    val again = spark.sql("SELECT :a + :b AS s, upper(:name) AS n",
      Map("a" -> 1, "b" -> 2, "name" -> "x")).head
    assert(again.getInt(0) == 3 && again.getString(1) == "X")
  }

  test("native WITH RECURSIVE works on the SQL surface (Spark 4.1 UnionLoop)") {
    val sum = spark.sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 10)
        |SELECT CAST(sum(n) AS BIGINT) FROM t""".stripMargin).head.getLong(0)
    assert(sum == 55L)
  }

  test("generate_random_int64/float64 analogs: seeded, deterministic, in range") {
    // the reference's generators map to seeded rand over a range; same
    // seed → same draw, and bounds hold
    def draw() = spark.range(100)
      .selectExpr("CAST(floor(rand(42) * 1000) AS BIGINT) AS i",
        "rand(7) AS f")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val a = draw()
    val b = draw()
    assert(a == b)
    assert(a.forall { case (i, f) => i >= 0 && i < 1000 && f >= 0.0 && f < 1.0 })
    assert(a.map(_._1).distinct.size > 50) // actually random, not constant
  }

  test("csv and json sources round-trip a table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ext").toString
    val src = Tables.nation(spark, "/root/testdata/sf0.001")
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/nation_csv")
    src.write.mode("overwrite").json(s"$dir/nation_json")
    val fromCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/nation_csv")
    val fromJson = spark.read.json(s"$dir/nation_json")
    assert(fromCsv.count() == 25 && fromJson.count() == 25)
    assert(fromCsv.columns.sorted.sameElements(src.columns.sorted))
    // values survive the round trip
    val names = fromJson.select("n_name").collect().map(_.getString(0)).toSet
    assert(names == src.select("n_name").collect().map(_.getString(0)).toSet)
  }
}
