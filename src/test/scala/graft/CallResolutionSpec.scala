package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One call resolution: the function table picks each name's builder by
  * the call's argument count. Every optional-argument form, and every
  * quoted `'[…]'` vector operand of the distance kernels, gives the same
  * values through [[graft.sql.GraftSql.sql]] and through plain
  * `spark.sql` on a session configured only with
  * `spark.sql.extensions=graft.GraftExtensions`. The expected values
  * were taken from `GraftSql.sql` before the table dispatched on
  * argument count, when text passes renamed these calls; doubles render
  * with `Double.toString` (bit-exact) and binaries as hex.
  */
class CallResolutionSpec extends AnyFunSuite with BeforeAndAfterAll {
  import CallResolution._

  private lazy val spark = SparkTestSession.spark

  // the session is shared by every suite: a sequence left behind shows
  // in a later suite's `show sequences`
  override def afterAll(): Unit = {
    graft.sql.GraftSql.sql(spark, s"DROP SEQUENCE IF EXISTS $SeqName")
    super.afterAll()
  }

  test("every optional-argument form through GraftSql.sql keeps its values") {
    graft.sql.GraftSql.sql(spark, s"CREATE SEQUENCE $SeqName")
    val got = cases.map { case (q, _) => render(graft.sql.GraftSql.sql(spark, q)) }
    cases.map(_._2).zip(got).zip(cases.map(_._1)).foreach { case ((want, have), q) =>
      assert(have == want, q)
    }
  }

  private lazy val plain = ChildJvm.run("graft.CallResolutionPlain")

  test("every optional-argument form through plain spark.sql on an extension-only session") {
    val got = plain
      .collect { case l if l.startsWith("case ") => l.stripPrefix("case ").split("=", 2) }
      .map(kv => kv(0).toInt -> kv(1)).toMap
    cases.zipWithIndex.foreach { case ((q, want), i) =>
      assert(got.get(i).contains(want), q)
    }
  }

  test("last_query_id() through plain spark.sql is the latest saved result's id") {
    def line(key: String) = plain.collectFirst { case l if l.startsWith(key) => l.stripPrefix(key) }
    val saved = line("saved=").get
    assert(line("last_query_id=").contains(s"$saved|$saved"))
  }

  test("a call with an argument count no builder takes raises WRONG_NUM_ARGS") {
    val v = "(SELECT CAST(array(1, 2) AS ARRAY<FLOAT>) v) t"
    Seq(s"SELECT l2_distance(v) FROM $v" -> ("`l2_distance`", "2", "1"),
      "SELECT in_range(1, 2)" -> ("`in_range`", "4", "2"),
      "SELECT st_area()" -> ("`st_area`", "[1, 2]", "0"),
      "SELECT regexp_like('a')" -> ("`regexp_like`", "[2, 3]", "1"),
      "SELECT json_insert()" -> ("`json_insert`", "> 0", "0")
    ).foreach { case (q, (fn, expected, actual)) =>
      val e = intercept[AnalysisException](spark.sql(q).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", q)
      assert(e.getMessageParameters.get("functionName") == fn, q)
      assert(e.getMessageParameters.get("expectedNum") == expected, q)
      assert(e.getMessageParameters.get("actualNum") == actual, q)
    }
  }
}

object CallResolution {
  val SeqName = "call_resolution_seq"

  private val square = "'POLYGON((0 0,1 0,1 1,0 1,0 0))'"
  private val vec = "(SELECT CAST(array(0.5, 1.25, -2) AS ARRAY<FLOAT>) v) t"

  /** Each statement with its rendered rows as `GraftSql.sql` returned
    * them before the table dispatched on argument count.
    */
  val cases: Seq[(String, String)] = Seq(
    s"SELECT st_geomfromtext('POINT(1 2)'), st_geomfromtext('POINT(1 2)', 4326), " +
      "st_geomfromtext('POINT(1 2)', 0)" -> "POINT(1 2)|SRID=4326;POINT(1 2)|POINT(1 2)",
    s"SELECT st_area($square), st_area($square, 0), st_area($square, 4326), " +
      s"st_area(st_geomfromtext($square, 4326))" -> "1.0|1.0|1.236403190946561E10|1.236403190946561E10",
    "SELECT st_length('LINESTRING(0 0,3 4)'), st_length('LINESTRING(0 0,1 1)', 4326), " +
      "st_length('LINESTRING(0 0,1 1)', 0)" -> "5.0|157249.59847404022|1.4142135623730951",
    "SELECT st_distance('POINT(0 0)', 'POINT(3 4)'), " +
      "st_distance('POINT(0 0)', 'POINT(1 1)', 4326), " +
      "st_distance(st_geomfromtext('POINT(0 0)', 4326), st_geomfromtext('POINT(1 1)', 4326))" -> "5.0|157249.59847404022|157249.59847404022",
    "SELECT st_buffer('POINT(0 0)', 1), st_buffer('POINT(0 0)', 1, 2)" ->
      "POLYGON((1 0,0.9807852804032304 0.19509032201612825,0.9238795325112867 0.3826834323650898,0.8314696123025452 0.5555702330196022,0.7071067811865476 0.7071067811865475,0.5555702330196023 0.8314696123025452,0.38268343236508984 0.9238795325112867,0.19509032201612833 0.9807852804032304,6.123233995736766e-17 1,-0.1950903220161282 0.9807852804032304,-0.3826834323650897 0.9238795325112867,-0.555570233019602 0.8314696123025455,-0.7071067811865475 0.7071067811865476,-0.8314696123025453 0.5555702330196022,-0.9238795325112867 0.3826834323650899,-0.9807852804032304 0.1950903220161286,-1 1.2246467991473532e-16,-0.9807852804032304 -0.19509032201612836,-0.9238795325112868 -0.38268343236508967,-0.8314696123025455 -0.555570233019602,-0.7071067811865477 -0.7071067811865475,-0.5555702330196022 -0.8314696123025452,-0.38268343236509034 -0.9238795325112865,-0.19509032201612866 -0.9807852804032303,-1.8369701987210297e-16 -1,0.1950903220161283 -0.9807852804032304,0.38268343236509 -0.9238795325112866,0.5555702330196018 -0.8314696123025455,0.7071067811865474 -0.7071067811865477,0.8314696123025452 -0.5555702330196022,0.9238795325112865 -0.3826834323650904,0.9807852804032303 -0.19509032201612872,1 0))|POLYGON((1 0,0.7071067811865476 0.7071067811865475,6.123233995736766e-17 1,-0.7071067811865475 0.7071067811865476,-1 1.2246467991473532e-16,-0.7071067811865477 -0.7071067811865475,-1.8369701987210297e-16 -1,0.7071067811865474 -0.7071067811865477,1 0))",
    "SELECT st_geohash(116.3, 39.9, 8), st_geohash('POINT(116.3 39.9)', 8)" -> "wx4dyrx4|wx4dyrx4",
    "SELECT st_pointfromgeohash('wx4g0b'), st_pointfromgeohash('wx4g0b', 4326), " +
      "st_pointfromgeohash('wx4g0b', 0)" ->
      "POINT(116.4056396484375 39.90509033203125)|SRID=4326;POINT(116.4056396484375 39.90509033203125)|POINT(116.4056396484375 39.90509033203125)",
    "SELECT st_asgeojson('POINT(1.23456 2.34567)'), st_asgeojson('POINT(1.23456 2.34567)', 2)" ->
      "{\"type\":\"Point\",\"coordinates\":[1.23456,2.34567]}|{\"type\":\"Point\",\"coordinates\":[1.23,2.35]}",
    """SELECT st_geomfromgeojson('{"type":"Point","coordinates":[1,2]}'), """ +
      """st_geomfromgeojson('{"type":"Point","coordinates":[1,2]}', 0), """ +
      """st_geomfromgeojson('{"type":"Point","coordinates":[1,2]}', 3857)""" -> "SRID=4326;POINT(1 2)|POINT(1 2)|SRID=3857;POINT(1 2)",
    "SELECT st_makeenvelope(0, 0, 2, 3), st_makeenvelope('POINT(2 3)', 'POINT(0 0)')" ->
      "POLYGON((0 0,2 0,2 3,0 3,0 0))|POLYGON((0 0,2 0,2 3,0 3,0 0))",
    "SELECT regexp_like('Abc', '^a'), regexp_like('Abc', '^a', 'i'), " +
      "regexp_like('Abc', '^a', 'ic'), regexp_like('a\\nb', 'a.b', 'n'), " +
      "regexp_like('a\\nb', '^b', 'm'), regexp_like(NULL, 'a', 'i')" -> "false|true|false|true|true|null",
    "SELECT aes_encrypt('text', 'key'), aes_decrypt(aes_encrypt('text', 'key'), 'key'), " +
      "aes_encrypt('text', 'key', '0123456789abcdef'), " +
      "aes_decrypt(aes_encrypt('text', 'key', 'abcdefghijklmnopqrstuvwxyz'), 'key', " +
      "'abcdefghijklmnopqrstuvwxyz')" ->
      "0x15e36637363712fc2e699b9c95b75393|text|0x39b083a54c0f1886c45fc459bb3f4f07|text",
    s"SELECT setval('$SeqName', 10)" -> "10",
    s"SELECT nextval('$SeqName')" -> "11",
    s"SELECT setval('$SeqName', 20, false)" -> "20",
    s"SELECT nextval('$SeqName')" -> "21",
    s"SELECT l2_distance(v, '[1,2,3]'), l2_distance_sq(v, '[1,2,3]'), " +
      s"cosine_distance(v, '[1,2,3]'), cosine_similarity(v, '[1,2,3]'), " +
      s"inner_product(v, '[1,2,3]') FROM $vec" ->
      "5.080600358225394|25.8125|1.3325643972842158|-0.33256439728421594|3.0",
    s"SELECT l2_distance(v, '[0.1, -0.25, 3e-1]'), cosine_distance(v, '[0.1,-0.25,3e-1]') " +
      s"FROM $vec" -> "2.774887394768332|1.8874643982605743")

  /** Rows as `a|b|…`, joined by `;`: doubles and floats by their shortest
    * round-trip decimal (equal strings, equal bits), binaries as hex.
    */
  def render(df: DataFrame): String = df.collect().map { r =>
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => "null"
        case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
        case d: Double => java.lang.Double.toString(d)
        case f: Float => "f" + java.lang.Float.toString(f)
        case v => v.toString
      }
    }.mkString("|")
  }.mkString(";")
}

/** Runs [[CallResolution.cases]] through plain `spark.sql` on a session
  * configured only with `spark.sql.extensions`; prints `case i=rows`, or
  * `case i=error: …` for a statement that fails. Then saves one result
  * and prints its id (`saved=`) and `last_query_id()` with
  * `last_query_id(-1)` (`last_query_id=`).
  */
object CallResolutionPlain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("call-resolution")
      .config("spark.sql.extensions", "graft.GraftExtensions").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      graft.sql.Sequences.create(spark, CallResolution.SeqName, "", ifNotExists = false)
      CallResolution.cases.zipWithIndex.foreach { case ((q, _), i) =>
        val out = try CallResolution.render(spark.sql(q))
          catch { case e: Exception => s"error: ${e.getMessage.linesIterator.next()}" }
        println(s"case $i=$out")
      }
      println(s"saved=${graft.sql.QueryResults.save(spark, spark.sql("SELECT 1"))}")
      val lastId = try CallResolution.render(spark.sql("SELECT last_query_id(), last_query_id(-1)"))
        catch { case e: Exception => s"error: ${e.getMessage.linesIterator.next()}" }
      println(s"last_query_id=$lastId")
    } finally spark.stop()
  }
}
