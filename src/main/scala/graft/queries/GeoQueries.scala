package graft.queries

import graft.Tables
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geo conformance queries (SURVEY §2.13 geo family — reference ST_*
  * registrations `function_id.go:595-651`). Geometries are synthesized
  * deterministically from table keys so the DuckDB oracle can recompute
  * every measure from the raw coordinates with plain math: distances via
  * the same haversine/Euclid formulas, areas via the closed form of the
  * synthesized triangle, predicates via coordinate comparisons.
  * Coordinates sit on .25/.5 grids so no value ever lands on a rounding
  * or cell boundary.
  */
object GeoQueries extends QueryModule {

  /** Point accessors, Euclid + sphere distance, geohash round-trip,
    * point-in-rectangle, over per-customer synthesized lon/lat.
    */
  private def geo1(s: SparkSession, d: String): DataFrame = {
    val lon = ((col("c_custkey") * 7) % 360).cast("double") - 180 + 0.25
    val lat = ((col("c_custkey") * 3) % 170).cast("double") - 85 + 0.25
    val wkt = concat(lit("POINT("), lon.cast("string"), lit(" "),
      lat.cast("string"), lit(")"))
    val rect = lit("POLYGON((-90 -45,90 -45,90 45,-90 45,-90 -45))")
    Tables.customer(s, d).select(
        col("c_custkey"),
        st_x(st_geomfromtext(wkt)).as("px"),
        st_y(st_geomfromtext(wkt)).as("py"),
        st_geometrytype(wkt).as("gtype"),
        st_astext(wkt).as("ast"),
        round(st_distance(wkt, lit("POINT(10 20)")), 6).as("dist"),
        round(st_distance_sphere(wkt, lit("POINT(0 0)")), 3).as("dsphere"),
        round(st_x(st_pointfromgeohash(st_geohash(lon, lat, lit(9)))), 3).as("ghx"),
        round(st_y(st_pointfromgeohash(st_geohash(lon, lat, lit(9)))), 3).as("ghy"),
        st_contains(rect, wkt).as("in_rect"),
        st_dimension(wkt).as("dim"))
      .orderBy(col("c_custkey"))
  }

  // oracle recomputes every measure from lon/lat with DuckDB math; the
  // haversine is written in the same operation order as the Scala kernel
  private val geo1Sql =
    """SELECT c_custkey,
      |  lon AS px,
      |  lat AS py,
      |  'POINT' AS gtype,
      |  'POINT(' || CAST(lon AS VARCHAR) || ' ' || CAST(lat AS VARCHAR) || ')' AS ast,
      |  round(sqrt((lon - 10) * (lon - 10) + (lat - 20) * (lat - 20)), 6) AS dist,
      |  round(2 * 6371008.8 * asin(least(1.0, sqrt(
      |    pow(sin((0 - radians(lat)) / 2), 2)
      |      + cos(radians(lat)) * cos(0) * pow(sin((0 - radians(lon)) / 2), 2)))), 3) AS dsphere,
      |  round(lon, 3) AS ghx,
      |  round(lat, 3) AS ghy,
      |  (lon > -90 AND lon < 90 AND lat > -45 AND lat < 45) AS in_rect,
      |  CAST(0 AS INTEGER) AS dim
      |FROM (SELECT c_custkey,
      |        CAST((c_custkey * 7) % 360 AS DOUBLE) - 180 + 0.25 AS lon,
      |        CAST((c_custkey * 3) % 170 AS DOUBLE) - 85 + 0.25 AS lat
      |      FROM customer)
      |ORDER BY c_custkey""".stripMargin

  /** Polygon/linestring measures and predicates over per-part
    * synthesized right triangles (legs w, h): closed-form area w*h/2,
    * centroid (w/3, h/3), corner distance, strict/boundary containment.
    */
  private def geo2(s: SparkSession, d: String): DataFrame = {
    val w = (col("p_partkey") % 50).cast("double") + 1.5
    val h = (col("p_partkey") % 30).cast("double") + 2.5
    val ws = w.cast("string")
    val hs = h.cast("string")
    val tri = concat(lit("POLYGON((0 0,"), ws, lit(" 0,0 "), hs, lit(",0 0))"))
    val path = concat(lit("LINESTRING(0 0,"), ws, lit(" 0,"), ws, lit(" "), hs, lit(")"))
    val insidePt = concat(lit("POINT("), (w / 4).cast("string"), lit(" "),
      (h / 4).cast("string"), lit(")"))
    val edgePt = concat(lit("POINT("), (w / 2).cast("string"), lit(" 0)"))
    val a = (col("p_partkey") % 5).cast("double") + 1
    val b = (col("p_partkey") % 7).cast("double") + 1
    val farPt = concat(lit("POINT(-"), a.cast("string"), lit(" -"), b.cast("string"), lit(")"))
    Tables.part(s, d).select(
        col("p_partkey"),
        st_area(tri).as("tarea"),
        round(st_x(st_centroid(tri)), 6).as("cx"),
        round(st_y(st_centroid(tri)), 6).as("cy"),
        st_length(path).as("plen"),
        st_numpoints(path).as("npts"),
        st_isclosed(path).as("closed"),
        st_astext(st_startpoint(path)).as("sp"),
        st_astext(st_endpoint(path)).as("ep"),
        st_contains(tri, insidePt).as("inside"),
        st_contains(tri, edgePt).as("onedge"),
        st_within(insidePt, tri).as("within_f"),
        round(st_distance(farPt, tri), 6).as("corner_d"),
        st_astext(st_envelope(tri)).as("env"),
        st_intersects(path, tri).as("isect"))
      .orderBy(col("p_partkey"))
  }

  private val geo2Sql =
    """SELECT p_partkey,
      |  w * h / 2 AS tarea,
      |  round(w / 3, 6) AS cx,
      |  round(h / 3, 6) AS cy,
      |  w + h AS plen,
      |  CAST(3 AS INTEGER) AS npts,
      |  false AS closed,
      |  'POINT(0 0)' AS sp,
      |  'POINT(' || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR) || ')' AS ep,
      |  true AS inside,
      |  false AS onedge,
      |  true AS within_f,
      |  round(sqrt(a * a + b * b), 6) AS corner_d,
      |  'POLYGON((0 0,' || CAST(w AS VARCHAR) || ' 0,' || CAST(w AS VARCHAR) || ' '
      |    || CAST(h AS VARCHAR) || ',0 ' || CAST(h AS VARCHAR) || ',0 0))' AS env,
      |  true AS isect
      |FROM (SELECT p_partkey,
      |        CAST(p_partkey % 50 AS DOUBLE) + 1.5 AS w,
      |        CAST(p_partkey % 30 AS DOUBLE) + 2.5 AS h,
      |        CAST(p_partkey % 5 AS DOUBLE) + 1 AS a,
      |        CAST(p_partkey % 7 AS DOUBLE) + 1 AS b
      |      FROM part)
      |ORDER BY p_partkey""".stripMargin

  /** Overlay set ops, convex hull, simplify, buffer, and WKB/GeoJSON io
    * over per-part synthesized rectangles whose overlap is closed-form:
    * rect A = (0,0)-(w,h); rect B = A shifted by (w/2+0.25, h/2+0.25),
    * so the overlap box is (w/2-0.25)×(h/2-0.25) and never degenerate.
    * The oracle recomputes every area from the closed forms, the WKB
    * known-answer bytes as a hex literal, and the GeoJSON/round-trip
    * strings by direct construction.
    */
  private def geo3(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(
      """SELECT p_partkey,
        |  round(st_area(st_intersection(ra, rb)), 6) AS ai,
        |  round(st_area(st_union(ra, rb)), 6) AS au,
        |  round(st_area(st_difference(ra, rb)), 6) AS ad,
        |  round(st_area(st_symdifference(ra, rb)), 6) AS asym,
        |  round(st_area(st_convexhull(zig)), 6) AS hull_area,
        |  round(st_length(st_simplify(wiggle, 0.5)), 6) AS simp_len,
        |  round(st_area(st_buffer(pt, r)), 6) AS buf_area,
        |  hex(st_aswkb('POINT(1 2)')) AS wkb_hex,
        |  st_astext(st_geomfromwkb(st_aswkb(ra))) AS wkb_rt,
        |  st_asgeojson(pt) AS gj
        |FROM (
        |  SELECT p_partkey, w, h, r,
        |    concat('POLYGON((0 0,', w, ' 0,', w, ' ', h, ',0 ', h, ',0 0))') AS ra,
        |    concat('POLYGON((', dx, ' ', dy, ',', dx + w, ' ', dy, ',',
        |           dx + w, ' ', dy + h, ',', dx, ' ', dy + h, ',', dx, ' ', dy, '))') AS rb,
        |    concat('LINESTRING(0 0,', w, ' 0,', w / 4, ' ', h / 4, ',0 ', h, ')') AS zig,
        |    concat('LINESTRING(0 0,', w / 2, ' 0.1,', w, ' 0)') AS wiggle,
        |    concat('POINT(', w / 4, ' ', h / 4, ')') AS pt
        |  FROM (SELECT p_partkey,
        |          CAST(p_partkey % 40 AS DOUBLE) + 2.5 AS w,
        |          CAST(p_partkey % 20 AS DOUBLE) + 3.5 AS h,
        |          CAST(p_partkey % 40 AS DOUBLE) / 2 + 1.5 AS dx,
        |          CAST(p_partkey % 20 AS DOUBLE) / 2 + 2.0 AS dy,
        |          CAST(p_partkey % 5 AS DOUBLE) + 1.5 AS r
        |        FROM part))
        |ORDER BY p_partkey""".stripMargin)
  }

  private val geo3Sql =
    """SELECT p_partkey,
      |  round(ox * oy, 6) AS ai,
      |  round(2 * w * h - ox * oy, 6) AS au,
      |  round(w * h - ox * oy, 6) AS ad,
      |  round(2 * (w * h - ox * oy), 6) AS asym,
      |  round(w * h / 2, 6) AS hull_area,
      |  round(w, 6) AS simp_len,
      |  round(0.5 * 32 * r * r * sin(2 * pi() / 32), 6) AS buf_area,
      |  '0101000000000000000000F03F0000000000000040' AS wkb_hex,
      |  'POLYGON((0 0,' || CAST(w AS VARCHAR) || ' 0,' || CAST(w AS VARCHAR) || ' '
      |    || CAST(h AS VARCHAR) || ',0 ' || CAST(h AS VARCHAR) || ',0 0))' AS wkb_rt,
      |  '{"type":"Point","coordinates":[' || CAST(w / 4 AS VARCHAR) || ','
      |    || CAST(h / 4 AS VARCHAR) || ']}' AS gj
      |FROM (SELECT p_partkey, w, h, r,
      |        (w - dx) AS ox, (h - dy) AS oy
      |      FROM (SELECT p_partkey,
      |              CAST(p_partkey % 40 AS DOUBLE) + 2.5 AS w,
      |              CAST(p_partkey % 20 AS DOUBLE) + 3.5 AS h,
      |              CAST(p_partkey % 40 AS DOUBLE) / 2 + 1.5 AS dx,
      |              CAST(p_partkey % 20 AS DOUBLE) / 2 + 2.0 AS dy,
      |              CAST(p_partkey % 5 AS DOUBLE) + 1.5 AS r
      |            FROM part))
      |ORDER BY p_partkey""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("geo1_point_ops", geo1, Some(geo1Sql)),
    Q("geo2_polygon_ops", geo2, Some(geo2Sql)),
    Q("geo3_set_ops", geo3, Some(geo3Sql)))
}
