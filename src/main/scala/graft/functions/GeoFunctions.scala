package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Geospatial function family (reference `pkg/geo/` + registrations
  * `pkg/sql/plan/function/function_id.go:595-651` ST_*). The reference
  * backs these with a GEOS-style geometry kernel; here the core surface
  * is re-implemented pure-Scala over WKT-carried geometries so the
  * family works with zero native dependencies:
  *
  *  - constructors/accessors: st_geomfromtext, st_astext, st_x, st_y,
  *    st_srid, st_geometrytype, st_isempty, st_dimension,
  *    st_numpoints, st_startpoint, st_endpoint, st_pointn, st_isclosed
  *  - measures: st_length, st_area, st_distance (Cartesian),
  *    st_distance_sphere (great-circle meters, IUGG R1 = 6371008.8 —
  *    reference `pkg/geo/geodetic.go:30`; POINT-only operands with
  *    lon/lat range checks per `func_binary.go:9188`)
  *  - constructions: st_envelope, st_centroid
  *  - predicates: st_contains, st_within, st_intersects, st_disjoint
  *  - geohash: st_geohash, st_pointfromgeohash (reference
  *    `func_binary.go:8668-8741`)
  *
  * Geometries travel as WKT strings (POINT / LINESTRING / POLYGON);
  * ST_GeomFromText canonicalizes, everything else parses on demand.
  * Predicate semantics follow OGC for the supported type combinations
  * (point-in-polygon is strict-interior for contains); curve/collection
  * types and full DE-9IM are out of scope and return null. Invalid WKT
  * yields null (the reference raises; null keeps the UDF surface total).
  */
object GeoFunctions {

  // ------------------------------------------------------------ geometry
  type Pt = (Double, Double)

  sealed trait Geom
  final case class GPoint(x: Double, y: Double) extends Geom
  final case class GLine(pts: IndexedSeq[Pt]) extends Geom
  /** rings.head = exterior shell, tail = holes; rings are closed. */
  final case class GPolygon(rings: IndexedSeq[IndexedSeq[Pt]]) extends Geom
  /** Multi/collection types (WKT MULTIPOINT/MULTILINESTRING/MULTIPOLYGON/
    * GEOMETRYCOLLECTION; empty collection ⇔ `GEOMETRYCOLLECTION EMPTY`,
    * the reference's empty overlay result).
    */
  final case class GMultiPoint(pts: IndexedSeq[Pt]) extends Geom
  final case class GMultiLine(lines: IndexedSeq[GLine]) extends Geom
  final case class GMultiPolygon(polys: IndexedSeq[GPolygon]) extends Geom
  final case class GCollection(geoms: IndexedSeq[Geom]) extends Geom

  /** Flatten a geometry into its atomic parts. */
  def parts(g: Geom): IndexedSeq[Geom] = g match {
    case GMultiPoint(ps) => ps.map(p => GPoint(p._1, p._2))
    case GMultiLine(ls) => ls
    case GMultiPolygon(ps) => ps
    case GCollection(gs) => gs.flatMap(parts)
    case atomic => Vector(atomic)
  }

  // ----------------------------------------------------------- WKT parse
  private def parseCoords(s: String): Option[IndexedSeq[Pt]] = {
    val parts = s.split(",").map(_.trim)
    val out = Vector.newBuilder[Pt]
    for (p <- parts) {
      val nums = p.split("\\s+")
      if (nums.length != 2) return None
      try out += ((nums(0).toDouble, nums(1).toDouble))
      catch { case _: NumberFormatException => return None }
    }
    Some(out.result())
  }

  /** Split a WKT body at top-level commas, honoring paren nesting. */
  private def splitGroups(body: String): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < body.length) {
      body(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += body.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    out += body.substring(start).trim
    out.result()
  }

  /** Strip one layer of enclosing parens, if present. */
  private def unparen(s: String): String = {
    val t = s.trim
    if (t.startsWith("(") && t.endsWith(")")) t.substring(1, t.length - 1).trim else t
  }

  private def parseRings(body: String): Option[IndexedSeq[IndexedSeq[Pt]]] = {
    val rings = Vector.newBuilder[IndexedSeq[Pt]]
    for (grp <- splitGroups(body)) {
      val t = grp.trim
      if (!t.startsWith("(") || !t.endsWith(")")) return None
      parseCoords(t.substring(1, t.length - 1)) match {
        case Some(r) if r.size >= 4 && r.head == r.last => rings += r
        case _ => return None
      }
    }
    val rs = rings.result()
    if (rs.isEmpty) None else Some(rs)
  }

  /** Leading `SRID=n;` (EWKT, the reference's stored form for geometries
    * created with an explicit SRID — `stripEWKTSRID`,
    * `pkg/sql/plan/function/func_unary.go:1640`) parsed off; 0 = none.
    */
  def sridOf(wkt: String): Int = {
    if (wkt == null) return 0
    val s = wkt.trim
    if (!s.toUpperCase.startsWith("SRID=")) return 0
    val sep = s.indexOf(';')
    if (sep <= 5) return 0
    try s.substring(5, sep).trim.toInt catch { case _: NumberFormatException => 0 }
  }

  def stripSrid(wkt: String): String = {
    if (wkt == null) return null
    val s = wkt.trim
    if (!s.toUpperCase.startsWith("SRID=")) return s
    val sep = s.indexOf(';')
    if (sep <= 5) s else s.substring(sep + 1).trim
  }

  /** Carry the input's SRID prefix onto a derived geometry's WKT (the
    * reference's geometry→geometry functions keep the SRID —
    * `geo_srid.result`: centroid/boundary/envelope of a 4326 input all
    * report 4326).
    */
  def withSridOf(in: String, outWkt: String): String = {
    val s = sridOf(in)
    if (s == 0 || outWkt == null) outWkt else s"SRID=$s;$outWkt"
  }

  def parseWkt(wkt: String): Option[Geom] = {
    if (wkt == null) return None
    val s = stripSrid(wkt)
    if (s.equalsIgnoreCase("GEOMETRYCOLLECTION EMPTY")) return Some(GCollection(Vector()))
    // the empty point round-trips as NaN coordinates (the reference's
    // WKB encodes POINT EMPTY the same way — geo_review_fixes2.result)
    if (s.equalsIgnoreCase("POINT EMPTY")) return Some(GPoint(Double.NaN, Double.NaN))
    // the other empty spellings: `<TAG> EMPTY` and `<TAG>()`
    val emptyM = """(?i)^(LINESTRING|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|POLYGON|GEOMETRYCOLLECTION)\s*(EMPTY|\(\s*\))$""".r
    emptyM.findFirstMatchIn(s).foreach { m =>
      return Some(m.group(1).toUpperCase match {
        case "LINESTRING" => GLine(Vector())
        case "MULTIPOINT" => GMultiPoint(Vector())
        case "MULTILINESTRING" => GMultiLine(Vector())
        case "MULTIPOLYGON" => GMultiPolygon(Vector())
        case "POLYGON" => GPolygon(Vector())
        case _ => GCollection(Vector())
      })
    }
    val open = s.indexOf('(')
    if (open < 0 || !s.endsWith(")")) return None
    val tag = s.substring(0, open).trim.toUpperCase
    val body = s.substring(open + 1, s.length - 1).trim
    tag match {
      case "POINT" =>
        parseCoords(body).filter(_.size == 1).map(p => GPoint(p.head._1, p.head._2))
      case "LINESTRING" =>
        parseCoords(body).filter(_.size >= 2).map(GLine)
      case "POLYGON" => parseRings(body).map(GPolygon)
      case "MULTIPOINT" =>
        // both WKT spellings: MULTIPOINT(1 2, 3 4) and MULTIPOINT((1 2),(3 4));
        // an EMPTY member round-trips as the NaN pair
        val coords = splitGroups(body).map { g =>
          if (unparen(g).trim.equalsIgnoreCase("EMPTY"))
            Some(Vector((Double.NaN, Double.NaN)))
          else parseCoords(unparen(g))
        }
        if (coords.exists(c => c.isEmpty || c.get.size != 1)) None
        else Some(GMultiPoint(coords.map(_.get.head)))
      case "MULTILINESTRING" =>
        val lines = splitGroups(body).map { g =>
          val t = g.trim
          if (!t.startsWith("(") || !t.endsWith(")")) None
          else parseCoords(t.substring(1, t.length - 1)).filter(_.size >= 2).map(GLine)
        }
        if (lines.exists(_.isEmpty)) None else Some(GMultiLine(lines.map(_.get)))
      case "MULTIPOLYGON" =>
        val polys = splitGroups(body).map { g =>
          val t = g.trim
          if (!t.startsWith("(") || !t.endsWith(")")) None
          else parseRings(t.substring(1, t.length - 1)).map(GPolygon)
        }
        if (polys.exists(_.isEmpty)) None else Some(GMultiPolygon(polys.map(_.get)))
      case "GEOMETRYCOLLECTION" =>
        if (body.isEmpty || body.equalsIgnoreCase("EMPTY")) Some(GCollection(Vector()))
        else {
          val gs = splitGroups(body).map(parseWkt)
          if (gs.exists(_.isEmpty)) None else Some(GCollection(gs.map(_.get)))
        }
      case _ => None
    }
  }

  /** Go `%v` float formatting (`strconv.FormatFloat(v,'g',-1,64)`) — the
    * reference renders WKT coordinates through Go, so exponent form kicks
    * in at |v| ≥ 1e6 / < 1e-4 with an `e+NN` two-digit exponent
    * (`geo_review_fixes2.result` renders 1e10 as `1e+10`).
    */
  private def fmt(v: Double): String = {
    if (v.isNaN) return "NaN"
    if (v == 0.0) return "0"
    val neg = v < 0
    val repr = java.lang.Double.toString(math.abs(v)) // shortest round-trip
    val (mant, e10) = repr.split("E") match {
      case Array(m) => (m, 0)
      case Array(m, e) => (m, e.toInt)
    }
    val dot = mant.indexOf('.')
    val digitsRaw = mant.replace(".", "")
    val intLen = if (dot < 0) mant.length else dot
    val lead = digitsRaw.takeWhile(_ == '0').length
    val digits = digitsRaw.drop(lead).reverse.dropWhile(_ == '0').reverse
    if (digits.isEmpty) return "0"
    val dp = intLen - lead + e10 // v = 0.<digits> × 10^dp
    val exp = dp - 1
    val s =
      if (exp < -4 || exp >= 6) {
        val m = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
        val sign = if (exp < 0) "-" else "+"
        f"${m}e$sign${math.abs(exp)}%02d"
      } else if (dp <= 0) "0." + ("0" * -dp) + digits
      else if (dp >= digits.length) digits + ("0" * (dp - digits.length))
      else digits.substring(0, dp) + "." + digits.substring(dp)
    if (neg) "-" + s else s
  }

  def toWkt(g: Geom): String = g match {
    case GPoint(x, y) if x.isNaN && y.isNaN => "POINT EMPTY"
    case GPoint(x, y) => s"POINT(${fmt(x)} ${fmt(y)})"
    case GLine(pts) if pts.isEmpty => "LINESTRING EMPTY"
    case GLine(pts) =>
      pts.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }.mkString("LINESTRING(", ",", ")")
    case GPolygon(rings) if rings.isEmpty => "POLYGON EMPTY"
    case GPolygon(rings) =>
      rings.map(_.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }
        .mkString("(", ",", ")")).mkString("POLYGON(", ",", ")")
    case GMultiPoint(pts) =>
      // MySQL renders multipoints WITHOUT per-point parens; an empty
      // member renders as EMPTY
      pts.map { case (x, y) =>
        if (x.isNaN && y.isNaN) "EMPTY" else s"${fmt(x)} ${fmt(y)}"
      }.mkString("MULTIPOINT(", ",", ")")
    case GMultiLine(lines) =>
      lines.map(l => l.pts.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }
        .mkString("(", ",", ")")).mkString("MULTILINESTRING(", ",", ")")
    case GMultiPolygon(polys) =>
      polys.map(p => p.rings.map(_.map { case (x, y) => s"${fmt(x)} ${fmt(y)}" }
        .mkString("(", ",", ")")).mkString("(", ",", ")"))
        .mkString("MULTIPOLYGON(", ",", ")")
    case GCollection(gs) =>
      if (gs.isEmpty) "GEOMETRYCOLLECTION EMPTY"
      else gs.map(toWkt).mkString("GEOMETRYCOLLECTION(", ",", ")")
  }

  def geometryType(g: Geom): String = g match {
    case _: GPoint => "POINT"
    case _: GLine => "LINESTRING"
    case _: GPolygon => "POLYGON"
    case _: GMultiPoint => "MULTIPOINT"
    case _: GMultiLine => "MULTILINESTRING"
    case _: GMultiPolygon => "MULTIPOLYGON"
    case _: GCollection => "GEOMETRYCOLLECTION"
  }

  def dimension(g: Geom): Int = g match {
    case _: GPoint | _: GMultiPoint => 0
    case _: GLine | _: GMultiLine => 1
    case _: GPolygon | _: GMultiPolygon => 2
    case GCollection(gs) => if (gs.isEmpty) -1 else gs.map(dimension).max
  }

  // ------------------------------------------------------------ measures
  private def segLen(a: Pt, b: Pt): Double =
    math.hypot(b._1 - a._1, b._2 - a._2)

  def length(g: Geom): Option[Double] = g match {
    case GLine(pts) => Some(pts.sliding(2).map(s => segLen(s(0), s(1))).sum)
    case GMultiLine(ls) => Some(ls.flatMap(length).sum)
    case _ => None // MySQL: NULL for non-linear geometries
  }

  /** Signed shoelace area of one ring (positive = CCW). */
  private def ringArea(r: IndexedSeq[Pt]): Double = {
    var s = 0.0
    var i = 0
    while (i < r.size - 1) {
      s += r(i)._1 * r(i + 1)._2 - r(i + 1)._1 * r(i)._2
      i += 1
    }
    s / 2.0
  }

  def area(g: Geom): Option[Double] = g match {
    case GPolygon(rings) =>
      Some(math.abs(ringArea(rings.head)) - rings.tail.map(r => math.abs(ringArea(r))).sum)
    case GMultiPolygon(ps) => Some(ps.flatMap(area).sum)
    case GCollection(gs) => Some(gs.flatMap(area).sum)
    case _ => Some(0.0) // MySQL: 0 for point/linestring
  }

  /** Distance from point p to segment [a,b]. */
  private[functions] def pointSegDist(p: Pt, a: Pt, b: Pt): Double = {
    val (dx, dy) = (b._1 - a._1, b._2 - a._2)
    val l2 = dx * dx + dy * dy
    if (l2 == 0.0) segLen(p, a)
    else {
      val t = math.max(0.0, math.min(1.0,
        ((p._1 - a._1) * dx + (p._2 - a._2) * dy) / l2))
      segLen(p, (a._1 + t * dx, a._2 + t * dy))
    }
  }

  private[functions] def segments(g: Geom): Iterator[(Pt, Pt)] = g match {
    case GPoint(_, _) => Iterator.empty
    case GLine(pts) => pts.sliding(2).map(s => (s(0), s(1)))
    case GPolygon(rings) => rings.iterator.flatMap(_.sliding(2).map(s => (s(0), s(1))))
    case GMultiPoint(_) => Iterator.empty
    case other => parts(other).iterator.flatMap(segments)
  }

  private[functions] def vertices(g: Geom): IndexedSeq[Pt] = g match {
    case GPoint(x, y) => Vector((x, y))
    case GLine(pts) => pts
    case GPolygon(rings) => rings.flatten
    case GMultiPoint(pts) => pts
    case other => parts(other).flatMap(vertices)
  }

  /** Ray-cast point-in-polygon: 1 = interior, 0 = on boundary, -1 = out. */
  private[functions] def pipState(p: Pt, poly: GPolygon): Int = {
    for ((a, b) <- segments(poly))
      if (pointSegDist(p, a, b) < 1e-12) return 0
    var inside = false
    for (ring <- poly.rings) {
      var i = 0
      while (i < ring.size - 1) {
        val (x1, y1) = ring(i)
        val (x2, y2) = ring(i + 1)
        if ((y1 > p._2) != (y2 > p._2)) {
          val xint = x1 + (p._2 - y1) * (x2 - x1) / (y2 - y1)
          if (xint > p._1) inside = !inside
        }
        i += 1
      }
    }
    if (inside) 1 else -1
  }

  /** Proper/improper intersection of segments [a,b] and [c,d]. */
  private def segIntersect(a: Pt, b: Pt, c: Pt, d: Pt): Boolean = {
    def orient(p: Pt, q: Pt, r: Pt): Double =
      (q._1 - p._1) * (r._2 - p._2) - (q._2 - p._2) * (r._1 - p._1)
    def onSeg(p: Pt, q: Pt, r: Pt): Boolean =
      math.min(p._1, r._1) - 1e-12 <= q._1 && q._1 <= math.max(p._1, r._1) + 1e-12 &&
        math.min(p._2, r._2) - 1e-12 <= q._2 && q._2 <= math.max(p._2, r._2) + 1e-12
    val o1 = orient(a, b, c); val o2 = orient(a, b, d)
    val o3 = orient(c, d, a); val o4 = orient(c, d, b)
    if (((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
        ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))) true
    else (math.abs(o1) < 1e-12 && onSeg(a, c, b)) ||
      (math.abs(o2) < 1e-12 && onSeg(a, d, b)) ||
      (math.abs(o3) < 1e-12 && onSeg(c, a, d)) ||
      (math.abs(o4) < 1e-12 && onSeg(c, b, d))
  }

  /** Min Cartesian distance between any two supported geometries; 0 when
    * they intersect (reference ST_DISTANCE with non-4326 SRID,
    * `func_binary.go:9225` geometryDistanceBySRID Cartesian branch).
    */
  def distance(g1: Geom, g2: Geom): Double = {
    if (intersects(g1, g2)) return 0.0
    val segs1 = segments(g1).toVector
    val segs2 = segments(g2).toVector
    var best = Double.MaxValue
    for (v <- vertices(g1)) {
      if (segs2.isEmpty) for (w <- vertices(g2)) best = math.min(best, segLen(v, w))
      else for ((a, b) <- segs2) best = math.min(best, pointSegDist(v, a, b))
    }
    for (v <- vertices(g2)) {
      if (segs1.isEmpty) for (w <- vertices(g1)) best = math.min(best, segLen(v, w))
      else for ((a, b) <- segs1) best = math.min(best, pointSegDist(v, a, b))
    }
    best
  }

  /** IUGG mean Earth radius R1 (reference `pkg/geo/geodetic.go:30`). */
  val EarthRadiusMeters: Double = 6371008.8

  /** Great-circle meters between POINTs; X=lon, Y=lat in degrees, range
    * checked like the reference (`validateDistanceSphereGeometry`).
    */
  def distanceSphere(g1: Geom, g2: Geom): Option[Double] = {
    // POINT/MULTIPOINT only, min over pairs (geo_review_fixes2.result's
    // multipoint case); coordinates range-checked like the reference
    // (`validateDistanceSphereGeometry`)
    def ptsOf(g: Geom): Option[Seq[Pt]] = g match {
      case GPoint(x, y) if !x.isNaN => Some(Seq((x, y)))
      case GMultiPoint(ps) if ps.nonEmpty => Some(ps.toSeq)
      case _ => None
    }
    for {
      a <- ptsOf(g1)
      b <- ptsOf(g2)
      if (a ++ b).forall(p => math.abs(p._1) <= 180 && math.abs(p._2) <= 90)
    } yield a.flatMap(p => b.map(q => centralAngle(p, q))).min * EarthRadiusMeters
  }

  // ------------------------------------------------ geodesy (SRID 4326)
  // Spherical measures matching the reference's S2-backed kernels
  // (`pkg/geo/geodetic.go`: R1 = 6371008.8 m; great-circle lengths,
  // exact spherical-excess areas).

  /** Haversine central angle (radians) between two lon/lat points. */
  private def centralAngle(a: Pt, b: Pt): Double = {
    val (p1, l1) = (math.toRadians(a._2), math.toRadians(a._1))
    val (p2, l2) = (math.toRadians(b._2), math.toRadians(b._1))
    val h = math.pow(math.sin((p2 - p1) / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin((l2 - l1) / 2), 2)
    2 * math.asin(math.min(1.0, math.sqrt(h)))
  }

  def geodeticLength(g: Geom): Option[Double] = g match {
    case GLine(p) if p.size >= 2 =>
      Some(p.sliding(2).map(s => centralAngle(s(0), s(1))).sum * EarthRadiusMeters)
    case GMultiLine(ls) =>
      Some(ls.flatMap(geodeticLength).sum)
    case _ => None
  }

  private type V3 = (Double, Double, Double)
  private def unitVec(p: Pt): V3 = {
    val lat = math.toRadians(p._2); val lon = math.toRadians(p._1)
    (math.cos(lat) * math.cos(lon), math.cos(lat) * math.sin(lon), math.sin(lat))
  }
  private def dot3(u: V3, v: V3) = u._1 * v._1 + u._2 * v._2 + u._3 * v._3
  private def cross3(u: V3, v: V3): V3 =
    (u._2 * v._3 - u._3 * v._2, u._3 * v._1 - u._1 * v._3, u._1 * v._2 - u._2 * v._1)
  private def norm3(u: V3) = math.sqrt(dot3(u, u))
  private def sideAngle(u: V3, v: V3): Double =
    math.atan2(norm3(cross3(u, v)), dot3(u, v))

  /** Unit-sphere area of a ring via a signed l'Huilier triangle fan —
    * exact spherical excess, like S2's Loop.Area.
    */
  private def sphericalRingArea(ring: IndexedSeq[Pt]): Double = {
    val pts = if (ring.size > 1 && ring.head == ring.last) ring.dropRight(1) else ring
    if (pts.size < 3) return 0
    val vs = pts.map(unitVec)
    var total = 0.0
    for (i <- 1 until vs.size - 1) {
      val (a, b, c) = (vs(0), vs(i), vs(i + 1))
      val (sa, sb, sc) = (sideAngle(b, c), sideAngle(a, c), sideAngle(a, b))
      val s = (sa + sb + sc) / 2
      val t = math.tan(s / 2) * math.tan((s - sa) / 2) *
        math.tan((s - sb) / 2) * math.tan((s - sc) / 2)
      val e = 4 * math.atan(math.sqrt(math.max(0, t)))
      val sign = if (dot3(a, cross3(b, c)) >= 0) 1 else -1
      total += sign * e
    }
    math.abs(total)
  }

  def geodeticArea(g: Geom): Option[Double] = g match {
    case GPolygon(rings) if rings.nonEmpty =>
      val outer = sphericalRingArea(rings.head)
      val holes = rings.tail.map(sphericalRingArea).sum
      Some(math.max(0, outer - holes) * EarthRadiusMeters * EarthRadiusMeters)
    case GMultiPolygon(ps) => Some(ps.flatMap(geodeticArea).sum)
    case _ => None
  }

  /** Minimum great-circle meters between the vertex sets of two
    * geometries (exact for points/multipoints — the golden-covered
    * shapes; a vertex-level approximation for lines/polygons).
    */
  def geodeticDistance(a: Geom, b: Geom): Option[Double] = {
    val pa = vertices(a); val pb = vertices(b)
    if (pa.isEmpty || pb.isEmpty) None
    else Some(pa.flatMap(p => pb.map(q => centralAngle(p, q))).min * EarthRadiusMeters)
  }

  // ---------------------------------------------------------- predicates
  private def isMulti(g: Geom): Boolean = g match {
    case _: GMultiPoint | _: GMultiLine | _: GMultiPolygon | _: GCollection => true
    case _ => false
  }

  def intersects(g1: Geom, g2: Geom): Boolean = (g1, g2) match {
    case _ if isMulti(g1) || isMulti(g2) =>
      parts(g1).exists(a => parts(g2).exists(b => intersects(a, b)))
    case (GPoint(x, y), GPoint(x2, y2)) => segLen((x, y), (x2, y2)) < 1e-12
    case (p: GPoint, l: GLine) =>
      segments(l).exists { case (a, b) => pointSegDist((p.x, p.y), a, b) < 1e-12 }
    case (l: GLine, p: GPoint) => intersects(p, l)
    case (p: GPoint, poly: GPolygon) => pipState((p.x, p.y), poly) >= 0
    case (poly: GPolygon, p: GPoint) => intersects(p, poly)
    case _ =>
      // any edge crossing, or either containing a vertex of the other
      segments(g1).exists { case (a, b) =>
        segments(g2).exists { case (c, d) => segIntersect(a, b, c, d) }
      } || ((g1, g2) match {
        case (poly: GPolygon, o) => vertices(o).exists(pipState(_, poly) >= 0)
        case _ => false
      }) || ((g2, g1) match {
        case (poly: GPolygon, o) => vertices(o).exists(pipState(_, poly) >= 0)
        case _ => false
      })
  }

  /** OGC-style contains for polygon ⊇ {point, line, polygon}: every
    * vertex of b inside-or-on a, no edge of b properly crossing out, and
    * at least one interior point.
    */
  /** OGC contains over the whole point/line/polygon/multi matrix:
    * b ⊆ closure(a) (sampled covers, hole-aware) AND the interiors meet
    * — a point at a line's ENDPOINT is covered but not contained, a
    * polygon contains itself (func_geometry.result's full matrix; the
    * polygon path's chord-escape sampling lives in covers' probe set —
    * vertex, mid and quarter points).
    */
  def contains(a: Geom, b: Geom): Option[Boolean] = (a, b) match {
    case (poly: GPolygon, GPoint(x, y)) => Some(pipState((x, y), poly) == 1)
    case _ =>
      // MySQL additionally requires every POINT part of b to sit in
      // a's INTERIOR (contains_multiline_multipoint_boundary = 0: one
      // point at a line endpoint disqualifies)
      def pointPartsInterior: Boolean = parts(b).forall {
        case p: GPoint => inInteriorPt((p.x, p.y), a)
        case _ => true
      }
      Some(covers(a, b).contains(true) && interiorsIntersect(a, b) &&
        pointPartsInterior)
  }

  def within(a: Geom, b: Geom): Option[Boolean] = contains(b, a)

  // ------------------------------------------------------- constructions
  def envelope(g: Geom): Geom = {
    val vs = vertices(g)
    if (vs.isEmpty) return GCollection(Vector())
    val (xs, ys) = (vs.map(_._1), vs.map(_._2))
    val (x0, x1, y0, y1) = (xs.min, xs.max, ys.min, ys.max)
    if (x0 == x1 && y0 == y1) GPoint(x0, y0)
    else if (x0 == x1 || y0 == y1) GLine(Vector((x0, y0), (x1, y1)))
    else GPolygon(Vector(Vector((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))))
  }

  // ----------------------------------------------------- MBR predicates
  /** Bounding box (minx, miny, maxx, maxy). */
  private def box(g: Geom): (Double, Double, Double, Double) = {
    val vs = vertices(g)
    (vs.map(_._1).min, vs.map(_._2).min, vs.map(_._1).max, vs.map(_._2).max)
  }

  /** The MySQL `MBR*` family on minimum bounding rectangles (reference
    * registry `function_id.go` MBRCONTAINS..MBRWITHIN; MySQL MBR
    * semantics). For axis-aligned boxes, covers≡contains and
    * coveredby≡within.
    */
  def mbrRelate(op: String, a: Geom, b: Geom): Boolean = {
    val (ax0, ay0, ax1, ay1) = box(a)
    val (bx0, by0, bx1, by1) = box(b)
    def contains = ax0 <= bx0 && ay0 <= by0 && ax1 >= bx1 && ay1 >= by1
    def within = bx0 <= ax0 && by0 <= ay0 && bx1 >= ax1 && by1 >= ay1
    def intersects = ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1
    // interiors overlap: strict inequalities (degenerate boxes use touch)
    def interiorOverlap = ax0 < bx1 && bx0 < ax1 && ay0 < by1 && by0 < ay1
    op match {
      case "contains" | "covers" => contains
      case "within" | "coveredby" => within
      case "equals" => ax0 == bx0 && ay0 == by0 && ax1 == bx1 && ay1 == by1
      case "intersects" => intersects
      case "disjoint" => !intersects
      case "touches" => intersects && !interiorOverlap
      case "overlaps" => interiorOverlap && !contains && !within
    }
  }

  def centroid(g: Geom): Geom = g match {
    case _: GMultiPoint | _: GMultiLine | _: GMultiPolygon | _: GCollection =>
      // parts of the highest dimension, weighted by their measure (OGC)
      val ps = parts(g)
      val dim = dimension(g)
      val top = ps.filter(dimension(_) == dim)
      val weighted = top.map { p =>
        val w = dim match {
          case 2 => area(p).getOrElse(0.0)
          case 1 => length(p).getOrElse(0.0)
          case _ => 1.0
        }
        val GPoint(cx, cy) = centroid(p): @unchecked
        (cx * w, cy * w, w)
      }
      val (sx, sy, sw) = weighted.foldLeft((0.0, 0.0, 0.0)) {
        case ((ax, ay, aw), (x, y, w)) => (ax + x, ay + y, aw + w)
      }
      if (sw == 0) centroid(top.head) else GPoint(sx / sw, sy / sw)
    case p: GPoint => p
    case GLine(pts) =>
      // length-weighted midpoint average
      var (sx, sy, sl) = (0.0, 0.0, 0.0)
      for (Seq(a, b) <- pts.sliding(2)) {
        val l = segLen(a, b)
        sx += (a._1 + b._1) / 2 * l; sy += (a._2 + b._2) / 2 * l; sl += l
      }
      if (sl == 0) GPoint(pts.head._1, pts.head._2) else GPoint(sx / sl, sy / sl)
    case GPolygon(rings) =>
      // area-weighted centroid; holes contribute negative area
      var (cx, cy, ta) = (0.0, 0.0, 0.0)
      for ((ring, ri) <- rings.zipWithIndex) {
        val a = ringArea(ring)
        val sign = if (ri == 0) 1.0 else -1.0
        val w = sign * math.abs(a)
        var (rx, ry) = (0.0, 0.0)
        var i = 0
        while (i < ring.size - 1) {
          val cross = ring(i)._1 * ring(i + 1)._2 - ring(i + 1)._1 * ring(i)._2
          rx += (ring(i)._1 + ring(i + 1)._1) * cross
          ry += (ring(i)._2 + ring(i + 1)._2) * cross
          i += 1
        }
        // rx/ry are signed by ring orientation; normalize to ring area sign
        val norm = if (a == 0) 0.0 else 1.0 / (6 * a)
        cx += w * rx * norm; cy += w * ry * norm; ta += w
      }
      if (ta == 0) GPoint(rings.head.head._1, rings.head.head._2)
      else GPoint(cx / ta, cy / ta)
  }

  // -------------------------------------------------------------- geohash
  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard geohash encode (reference `StGeoHashFromLonLat`,
    * `func_binary.go:8679`).
    */
  def geohashEncode(lon: Double, lat: Double, len: Int): Option[String] = {
    if (math.abs(lon) > 180 || math.abs(lat) > 90 || len < 1 || len > 32) return None
    var (lonLo, lonHi, latLo, latHi) = (-180.0, 180.0, -90.0, 90.0)
    val sb = new StringBuilder
    var bit = 0
    var ch = 0
    var even = true
    while (sb.length < len) {
      if (even) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid } else { ch <<= 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid } else { ch <<= 1; latHi = mid }
      }
      even = !even
      bit += 1
      if (bit == 5) { sb.append(Base32(ch)); bit = 0; ch = 0 }
    }
    Some(sb.toString)
  }

  /** Geohash decode to the cell-center POINT. */
  def geohashDecode(hash: String): Option[GPoint] = {
    if (hash == null || hash.isEmpty) return None
    var (lonLo, lonHi, latLo, latHi) = (-180.0, 180.0, -90.0, 90.0)
    var even = true
    for (c <- hash.toLowerCase) {
      val idx = Base32.indexOf(c)
      if (idx < 0) return None
      for (shift <- 4 to 0 by -1) {
        val bit = (idx >> shift) & 1
        if (even) {
          val mid = (lonLo + lonHi) / 2
          if (bit == 1) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bit == 1) latLo = mid else latHi = mid
        }
        even = !even
      }
    }
    Some(GPoint((lonLo + lonHi) / 2, (latLo + latHi) / 2))
  }

  // ------------------------------------------------------------ UDF layer
  private def g1[T](f: Geom => Option[T]): String => Option[T] =
    (w: String) => parseWkt(w).flatMap(f)
  private def g2[T](f: (Geom, Geom) => Option[T]): (String, String) => Option[T] =
    (w1: String, w2: String) =>
      for { a <- parseWkt(w1); b <- parseWkt(w2); r <- f(a, b) } yield r

  private val fromTextU = udf((w: String) => parseWkt(w).map(toWkt))
  private val asTextU = fromTextU
  private val typeU = udf(g1(g => Some(geometryType(g))))
  private val xU = udf(g1 { case GPoint(x, _) => Some(x); case _ => None })
  private val yU = udf(g1 { case GPoint(_, y) => Some(y); case _ => None })
  private val sridU = udf(g1(_ => Some(0)))
  private val isEmptyU = udf(g1 {
    case GCollection(gs) => Some(gs.isEmpty); case _ => Some(false)
  })
  private val dimensionU = udf(g1(g => Some(dimension(g))))
  private val numPointsU = udf(g1 { case GLine(p) => Some(p.size); case _ => None })
  private val startPointU =
    udf(g1 { case GLine(p) => Some(toWkt(GPoint(p.head._1, p.head._2))); case _ => None })
  private val endPointU =
    udf(g1 { case GLine(p) => Some(toWkt(GPoint(p.last._1, p.last._2))); case _ => None })
  private val pointNU = udf((w: String, n: Int) => parseWkt(w).flatMap {
    case GLine(p) if n >= 1 && n <= p.size => Some(toWkt(GPoint(p(n - 1)._1, p(n - 1)._2)))
    case _ => None
  })
  private val isClosedU = udf(g1 {
    case GLine(p) => Some(p.head == p.last); case _ => None
  })
  private val lengthU = udf(g1(length))
  private val areaU = udf(g1(area))
  private val distanceU = udf(g2((a, b) => Some(distance(a, b))))
  private val distanceSphereU = udf(g2(distanceSphere))
  // hot predicates route to the native expression (foldable-side parse
  // caching, WKB operands) — same semantics as the kernel fns above
  private def geoPred(op: String, a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(GeoPredicateExpr(op,
      GraftColumnBridge.eagerExpression(a), GraftColumnBridge.eagerExpression(b)))
  }
  private val envelopeU = udf(g1(g => Some(toWkt(envelope(g)))))
  private val centroidU = udf(g1(g => Some(toWkt(centroid(g)))))
  private val geohashU = udf((lon: Double, lat: Double, len: Int) => geohashEncode(lon, lat, len))
  private val fromGeohashU = udf((h: String) => geohashDecode(h).map(toWkt))

  def st_geomfromtext(w: Column): Column = fromTextU(w)
  def st_astext(w: Column): Column = asTextU(w)
  def st_geometrytype(w: Column): Column = typeU(w)
  def st_x(w: Column): Column = xU(w)
  def st_y(w: Column): Column = yU(w)
  def st_srid(w: Column): Column = sridU(w)
  def st_isempty(w: Column): Column = isEmptyU(w)
  def st_dimension(w: Column): Column = dimensionU(w)
  def st_numpoints(w: Column): Column = numPointsU(w)
  def st_startpoint(w: Column): Column = startPointU(w)
  def st_endpoint(w: Column): Column = endPointU(w)
  def st_pointn(w: Column, n: Column): Column = pointNU(w, n)
  def st_isclosed(w: Column): Column = isClosedU(w)
  def st_length(w: Column): Column = lengthU(w)
  def st_area(w: Column): Column = areaU(w)
  def st_distance(a: Column, b: Column): Column = distanceU(a, b)
  def st_distance_sphere(a: Column, b: Column): Column = distanceSphereU(a, b)
  def st_contains(a: Column, b: Column): Column = geoPred("contains", a, b)
  def st_within(a: Column, b: Column): Column = geoPred("within", a, b)
  def st_intersects(a: Column, b: Column): Column = geoPred("intersects", a, b)
  def st_disjoint(a: Column, b: Column): Column = geoPred("disjoint", a, b)
  def mbr_relate(op: String, a: Column, b: Column): Column = geoPred(s"mbr:$op", a, b)
  def st_envelope(w: Column): Column = envelopeU(w)
  def st_centroid(w: Column): Column = centroidU(w)
  def st_geohash(lon: Column, lat: Column, len: Column): Column = geohashU(lon, lat, len)
  def st_pointfromgeohash(h: Column): Column = fromGeohashU(h)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit = {
    ft.udf("st_geomfromtext", udf((w: String) => parseWkt(w).map(toWkt).orNull),
      udf((w: String, srid: Int) =>
        parseWkt(w).map(g =>
          if (srid != 0) s"SRID=$srid;${toWkt(g)}" else toWkt(g)).orNull))
    ft.udf("st_astext", udf((w: String) => parseWkt(w).map(toWkt).orNull))
    ft.udf("st_x", udf((w: String) =>
      parseWkt(w).collect { case GPoint(x, _) => x }))
    ft.udf("st_y", udf((w: String) =>
      parseWkt(w).collect { case GPoint(_, y) => y }))
    ft.udf("st_distance_sphere", udf((a: String, b: String) =>
      for { x <- parseWkt(a); y <- parseWkt(b); d <- distanceSphere(x, y) } yield d))
    // st_contains/st_within/st_intersects/st_disjoint and the mbr* family
    // are not Scala UDFs: GraftExtensions injects them as native
    // expressions (GeoPredicateExpr) and a UDF entry here would shadow
    // them back to the slow path
    ft.udf("st_geohash", udf((lon: Double, lat: Double, len: Int) =>
      geohashEncode(lon, lat, len).orNull),
      udf((w: String, len: Int) =>
        parseWkt(w).flatMap {
          case GPoint(x, y) => geohashEncode(x, y, len)
          case _ => None
        }.orNull))
    ft.udf("st_pointfromgeohash", udf((h: String) =>
      geohashDecode(h).map(toWkt).orNull),
      udf((h: String, srid: Int) =>
        geohashDecode(h).map(p =>
          (if (srid != 0) s"SRID=$srid;" else "") + toWkt(p)).orNull))
    ft.udf("st_geometrytype", udf(g1(g => Some(geometryType(g)))))
    ft.udf("st_isempty", udf(g1 {
      case GPoint(x, y) if x.isNaN && y.isNaN => Some(true)
      case GLine(p) => Some(p.isEmpty)
      case GPolygon(r) => Some(r.isEmpty)
      case GMultiPoint(p) => Some(p.isEmpty)
      case GMultiLine(l) => Some(l.isEmpty)
      case GMultiPolygon(ps) => Some(ps.isEmpty)
      case GCollection(gs) => Some(gs.isEmpty); case _ => Some(false)
    }))
    ft.udf("st_dimension", udf(g1(g => Some(
      if (vertices(g).isEmpty &&
        !(g.isInstanceOf[GPoint])) -1 else dimension(g)))))
    ft.udf("st_numpoints",
      udf(g1 { case GLine(p) => Some(p.size); case _ => None }))
    ft.udf("st_pointn", udf((w: String, n: Int) => parseWkt(w).flatMap {
      case GLine(p) if n >= 1 && n <= p.size =>
        Some(withSridOf(w, toWkt(GPoint(p(n - 1)._1, p(n - 1)._2))))
      case _ => None
    }))
    ft.udf("st_isclosed",
      udf(g1 { case GLine(p) => Some(p.head == p.last); case _ => None }))
    // ------------------------------------------- overlay / constructive
    Seq("union", "intersection", "difference", "symdifference").foreach { op =>
      ft.udf(s"st_$op",
        udf(g2((a, b) => GeoOverlay.setOp(op, a, b).map(toWkt))))
    }
    ft.udf("st_convexhull",
      udf(g1(g => Some(toWkt(GeoOverlay.convexHull(g))))))
    ft.udf("st_simplify", udf((w: String, tol: Double) =>
      parseWkt(w).map(g => toWkt(GeoOverlay.simplify(g, tol))).orNull))
    ft.udf("st_buffer", udf((w: String, d: Double) =>
      parseWkt(w).flatMap(g => GeoOverlay.buffer(g, d)).map(toWkt).orNull),
      udf((w: String, d: Double, quadSegs: Int) =>
        parseWkt(w).flatMap(g =>
          GeoOverlay.bufferN(g, d, math.max(4, quadSegs * 4))).map(toWkt).orNull))

    // --------------------------------------------------------- binary io
    ft.udf("st_aswkb",
      udf((w: String) => parseWkt(w).map(GeoOverlay.toWkb).orNull))
    ft.udf("st_asbinary",
      udf((w: String) => parseWkt(w).map(GeoOverlay.toWkb).orNull))
    ft.udf("st_geomfromwkb",
      udf((b: Array[Byte]) => GeoOverlay.fromWkb(b).map(toWkt).orNull))
    Seq[(String, Geom => Boolean)](
      ("st_pointfromwkb", _.isInstanceOf[GPoint]),
      ("st_linefromwkb", _.isInstanceOf[GLine]),
      ("st_polyfromwkb", _.isInstanceOf[GPolygon]),
      ("st_mpointfromwkb", _.isInstanceOf[GMultiPoint]),
      ("st_mlinefromwkb", _.isInstanceOf[GMultiLine]),
      ("st_mpolyfromwkb", _.isInstanceOf[GMultiPolygon]),
      ("st_geomcollfromwkb", _.isInstanceOf[GCollection])
    ).foreach { case (name, accept) =>
      ft.udf(name,
        udf((b: Array[Byte]) => GeoOverlay.fromWkb(b).filter(accept).map(toWkt).orNull))
    }

    // ------------------------------------------------------- geojson io
    ft.udf("st_asgeojson",
      udf((w: String) => parseWkt(w).map(GeoOverlay.toGeoJson).orNull),
      udf((w: String, nd: Int) =>
        parseWkt(w).map(g => GeoOverlay.toGeoJson(mapPts(g) {
          case (x, y) if x.isNaN || y.isNaN => (x, y)
          case (x, y) =>
            (BigDecimal(x).setScale(nd, BigDecimal.RoundingMode.HALF_EVEN).toDouble,
              BigDecimal(y).setScale(nd, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
        })).orNull))

    // ------------------------------------------- typed text constructors
    Seq[(String, Geom => Boolean)](
      ("st_pointfromtext", _.isInstanceOf[GPoint]),
      ("st_linefromtext", _.isInstanceOf[GLine]),
      ("st_polyfromtext", _.isInstanceOf[GPolygon]),
      ("st_mpointfromtext", _.isInstanceOf[GMultiPoint]),
      ("st_mlinefromtext", _.isInstanceOf[GMultiLine]),
      ("st_mpolyfromtext", _.isInstanceOf[GMultiPolygon]),
      ("st_geomcollfromtext", _.isInstanceOf[GCollection])
    ).foreach { case (name, accept) =>
      ft.udf(name,
        udf((w: String) => parseWkt(w).filter(accept).map(toWkt).orNull))
    }

    // ----------------------------------------- rings / parts / validity
    ft.udf("st_exteriorring", udf((w: String) => parseWkt(w).flatMap {
      case GPolygon(r) => Some(withSridOf(w, toWkt(GLine(r.head))))
      case _ => None
    }.orNull))
    ft.udf("st_numinteriorrings",
      udf(g1 { case GPolygon(r) => Some(r.size - 1); case _ => None }))
    ft.udf("st_interiorringn", udf((w: String, n: Int) => parseWkt(w).flatMap {
      case GPolygon(r) if n >= 1 && n < r.size =>
        Some(withSridOf(w, toWkt(GLine(r(n)))))
      case _ => None
    }))
    ft.udf("st_numgeometries",
      udf(g1 {
        // MO returns NULL for any EMPTY geometry (func_geometry.result)
        case GCollection(gs) if gs.isEmpty => None
        case GMultiPoint(ps) if ps.isEmpty => None
        case GMultiLine(ls) if ls.isEmpty => None
        case GMultiPolygon(ps) if ps.isEmpty => None
        case GLine(ps) if ps.isEmpty => None
        case GPolygon(rs) if rs.isEmpty => None
        case g => Some(g match {
          case GCollection(gs) => gs.size
          case _ if isMulti(g) => parts(g).size
          case _ => 1
        })
      }))
    ft.udf("st_iscollection", udf(g1(g => Some(isMulti(g)))))
    ft.udf("st_isvalid", udf(g1 {
      case GPolygon(rings) =>
        // simple validity: >=4 points, closed, nonzero area per ring
        Some(rings.forall(r => r.size >= 4 && r.head == r.last) &&
          area(GPolygon(rings)).exists(_ > 0))
      case _ => Some(true)
    }))
    ft.udf("st_isring", udf(g1 {
      case GLine(p) => Some(p.head == p.last && p.size >= 4)
      case _ => Some(false)
    }))

    // --------------------------------------------------- point helpers
    ft.udf("st_longitude",
      udf(g1 { case GPoint(x, _) => Some(x); case _ => None }))
    ft.udf("st_latitude",
      udf(g1 { case GPoint(_, y) => Some(y); case _ => None }))
    ft.udf("st_swapxy", udf(g1(g => Some(toWkt(swapXY(g))))))
    ft.udf("st_makeenvelope",
      udf((x0: Double, y0: Double, x1: Double, y1: Double) => {
        val (a, b) = (math.min(x0, x1), math.max(x0, x1))
        val (c, d) = (math.min(y0, y1), math.max(y0, y1))
        toWkt(GPolygon(Vector(Vector((a, c), (b, c), (b, d), (a, d), (a, c)))))
      }),
      udf((a: String, b: String) =>
        (parseWkt(a), parseWkt(b)) match {
          case (Some(GPoint(x0, y0)), Some(GPoint(x1, y1)))
              if !x0.isNaN && !x1.isNaN =>
            val (lo, hi) = (math.min(x0, x1), math.max(x0, x1))
            val (lo2, hi2) = (math.min(y0, y1), math.max(y0, y1))
            toWkt(GPolygon(Vector(Vector(
              (lo, lo2), (hi, lo2), (hi, hi2), (lo, hi2), (lo, lo2)))))
          case _ => null
        }))
    ft.udf("st_latfromgeohash",
      udf((h: String) => geohashDecode(h).map(_.y)))
    ft.udf("st_longfromgeohash",
      udf((h: String) => geohashDecode(h).map(_.x)))
    ft.udf("st_validate",
      udf((w: String) => parseWkt(w).map(toWkt).orNull))
    ft.udf("st_pointonsurface", udf((w: String) => parseWkt(w).flatMap {
      case p: GPoint => Some(withSridOf(w, toWkt(p)))
      case l: GLine =>
        // the reference returns the ARC-LENGTH midpoint (line_surface
        // golden: LINESTRING(0 0,4 0,4 2) -> POINT(3 0))
        val segs = segments(l).toVector
        val lens = segs.map { case (c, d) => segLen(c, d) }
        val half = lens.sum / 2
        var acc = 0.0
        var pt = l.pts.head
        segs.zip(lens).foreach { case ((c, d), len) =>
          if (acc < half && acc + len >= half && len > 0) {
            val t = (half - acc) / len
            pt = (c._1 + t * (d._1 - c._1), c._2 + t * (d._2 - c._2))
          }
          acc += len
        }
        Some(withSridOf(w, toWkt(GPoint(pt._1, pt._2))))
      case poly: GPolygon =>
        // scanline at the bbox-center x: interior intervals on that
        // column (even-odd over ring crossings), FIRST interval midpoint
        // (polygon_hole_surface golden: holed 6x6 -> POINT(3 1))
        val vs = vertices(poly)
        val cx = (vs.map(_._1).min + vs.map(_._1).max) / 2
        val ys = segments(poly).flatMap { case (c, d) =>
          if ((c._1 - cx) * (d._1 - cx) < 0)
            Some(c._2 + (cx - c._1) / (d._1 - c._1) * (d._2 - c._2))
          else None
        }.toVector.sorted
        val midY = ys.grouped(2).collectFirst {
          case Vector(y0, y1) if pipState((cx, (y0 + y1) / 2), poly) == 1 =>
            (y0 + y1) / 2
        }
        midY.map(y => withSridOf(w, toWkt(GPoint(cx, y))))
          .orElse(Some(withSridOf(w,
            toWkt(GPoint(poly.rings.head.head._1, poly.rings.head.head._2)))))
      case _ => None
    }.orNull))

    // --------------------------------------------------- more predicates
    ft.udf("st_equals", udf(g2((a, b) => Some(geomEquals(a, b)))))
    ft.udf("st_touches", udf(g2((a, b) => Some(touches(a, b)))))
    ft.udf("st_crosses", udf(g2(crosses)))
    ft.udf("st_overlaps", udf(g2(overlaps)))
    ft.udf("st_covers", udf(g2((a, b) => covers(a, b))))
    ft.udf("st_coveredby", udf(g2((a, b) => covers(b, a))))

    // ----------------------------------- linear referencing + distances
    ft.udf("st_lineinterpolatepoint", udf((w: String, f: Double) =>
      parseWkt(w).flatMap(GeoOverlay.lineInterpolatePoint(_, f)).map(toWkt).orNull))
    ft.udf("st_pointatdistance", udf((w: String, d: Double) =>
      parseWkt(w).flatMap(GeoOverlay.pointAtDistance(_, d)).map(toWkt).orNull))
    ft.udf("st_frechetdistance", udf(g2(GeoOverlay.frechet)))
    ft.udf("st_hausdorffdistance", udf(g2(GeoOverlay.hausdorff)))

    // ------------------------- point constructors + 2-arg collect + aliases
    // (geo BVT surface: geo_stpoint.result, geo_construct.result —
    // st_point32 stores float32 coordinates, so text round-trips show
    // the float32 value like the reference)
    ft.udf("st_point", udf((x: java.lang.Double, y: java.lang.Double) =>
      if (x == null || y == null) null else toWkt(GPoint(x, y))))
    ft.udf("st_point32", udf((x: java.lang.Double, y: java.lang.Double) =>
      if (x == null || y == null) null
      else toWkt(GPoint(x.floatValue.toDouble, y.floatValue.toDouble))))
    ft.udf("st_collect", udf(g2((a, b) => Some(toWkt((a, b) match {
      case (p1: GPoint, p2: GPoint) =>
        GMultiPoint(Vector((p1.x, p1.y), (p2.x, p2.y)))
      case (l1: GLine, l2: GLine) => GMultiLine(Vector(l1, l2))
      case (p1: GPolygon, p2: GPolygon) => GMultiPolygon(Vector(p1, p2))
      case _ => GCollection(Vector(a, b))
    })))))
    ft.udf("st_lineinterpolatepoints", udf((w: String, f: Double) =>
      parseWkt(w).flatMap(GeoOverlay.lineInterpolatePoints(_, f)).map(toWkt).orNull))
    ft.udf("st_aswkt", udf((w: String) => parseWkt(w).map(toWkt).orNull))
    ft.udf("st_geomfrombinary",
      udf((b: Array[Byte]) => GeoOverlay.fromWkb(b).map(toWkt).orNull))
    ft.udf("st_geometryfromtext",
      udf((w: String) => parseWkt(w).map(toWkt).orNull))
    ft.udf("st_polygonfromtext",
      udf((w: String) => parseWkt(w).filter(_.isInstanceOf[GPolygon]).map(toWkt).orNull))
    ft.udf("st_linestringfromtext",
      udf((w: String) => parseWkt(w).filter(_.isInstanceOf[GLine]).map(toWkt).orNull))
    ft.udf("st_numinteriorring",
      udf(g1 { case GPolygon(r) => Some(r.size - 1); case _ => None }))

    // ---------------- SRID-aware measures + explicit-SRID constructors
    // (the reference selects geodesic math for SRID 4326 —
    // `geometryAreaBySRID`, func_unary.go:3901; EWKT carries the SRID).
    // NB the lambdas must reference ONLY object members (static module
    // access) — a local helper def would capture the method frame and
    // make the UDF non-serializable.
    ft.udf("st_area", udf((w: String) =>
      parseWkt(w).flatMap(g => if (sridOf(w) == 4326) geodeticArea(g) else area(g))),
      udf((w: String, srid: Int) =>
        parseWkt(w).flatMap(g => if (srid == 4326) geodeticArea(g) else area(g))))
    ft.udf("st_length", udf((w: String) =>
      parseWkt(w).flatMap(g => if (sridOf(w) == 4326) geodeticLength(g) else length(g))),
      udf((w: String, srid: Int) =>
        parseWkt(w).flatMap(g => if (srid == 4326) geodeticLength(g) else length(g))))
    ft.udf("st_distance", udf((a: String, b: String) =>
      for {
        x <- parseWkt(a); y <- parseWkt(b)
        d <- if (sridOf(a) == 4326 || sridOf(b) == 4326) geodeticDistance(x, y)
          else Some(distance(x, y))
      } yield d),
      udf((a: String, b: String, srid: Int) =>
        for {
          x <- parseWkt(a); y <- parseWkt(b)
          d <- if (srid == 4326) geodeticDistance(x, y) else Some(distance(x, y))
        } yield d))
    ft.udf("st_srid", udf((w: String) => parseWkt(w).map(_ => sridOf(w))))
    // GeoJSON is WGS 84 by definition: parse defaults to SRID 4326; the
    // explicit form can force another id (geo_geojson.result:default_srid)
    ft.udf("st_geomfromgeojson",
      udf((j: String) => GeoOverlay.fromGeoJson(j).map(g => s"SRID=4326;${toWkt(g)}").orNull),
      udf((j: String, srid: Int) =>
        GeoOverlay.fromGeoJson(j).map(g =>
          (if (srid != 0) s"SRID=$srid;" else "") + toWkt(g)).orNull))
    // SRID propagates through derived geometries (geo_srid.result)
    ft.udf("st_centroid", udf((w: String) =>
      parseWkt(w).map(g => withSridOf(w, toWkt(centroid(g)))).orNull))
    ft.udf("st_envelope", udf((w: String) =>
      parseWkt(w).map(g => withSridOf(w, toWkt(envelope(g)))).orNull))
    ft.udf("st_startpoint", udf((w: String) =>
      parseWkt(w).flatMap {
        case GLine(p) => Some(withSridOf(w, toWkt(GPoint(p.head._1, p.head._2))))
        case _ => None
      }.orNull))
    ft.udf("st_endpoint", udf((w: String) =>
      parseWkt(w).flatMap {
        case GLine(p) => Some(withSridOf(w, toWkt(GPoint(p.last._1, p.last._2))))
        case _ => None
      }.orNull))
    ft.udf("st_geometryn", udf((w: String, n: Int) =>
      parseWkt(w).flatMap { g =>
        val ps = g match {
          case GCollection(gs) => gs
          case _ if isMulti(g) => parts(g)
          case _ => Vector(g)
        }
        if (n >= 1 && n <= ps.size) Some(withSridOf(w, toWkt(ps(n - 1)))) else None
      }.orNull))
    // polygon boundaries are MULTILINESTRING even for a single ring
    // (geo_functions_unary.result)
    ft.udf("st_boundary", udf((w: String) =>
      parseWkt(w).flatMap {
        case GLine(p) =>
          Some(toWkt(if (p.head == p.last) GMultiPoint(Vector())
          else GMultiPoint(Vector(p.head, p.last))))
        case GPolygon(r) => Some(withSridOf(w, toWkt(GMultiLine(r.map(GLine)))))
        case _: GPoint => Some("GEOMETRYCOLLECTION EMPTY")
        case _ => None
      }.orNull))
    // backtracking lines are not simple: a vertex where the direction
    // exactly reverses retraces the previous segment (geo_validity)
    ft.udf("st_issimple", udf(g1 {
      case GLine(p) =>
        val backtrack = p.sliding(3).exists { w =>
          w.size == 3 && {
            val (ax, ay) = (w(0)._1 - w(1)._1, w(0)._2 - w(1)._2)
            val (bx, by) = (w(2)._1 - w(1)._1, w(2)._2 - w(1)._2)
            math.abs(ax * by - ay * bx) < 1e-12 && ax * bx + ay * by > 0
          }
        }
        val segs = p.sliding(2).map(s => (s(0), s(1))).toVector
        Some(!backtrack && !segs.indices.exists(i => (i + 2 until segs.size).exists { j =>
          !(i == 0 && j == segs.size - 1 && p.head == p.last) &&
            segIntersect(segs(i)._1, segs(i)._2, segs(j)._1, segs(j)._2)
        }))
      case _ => Some(true)
    }))
  }

  /** Apply `f` to every coordinate pair of `g`. */
  def mapPts(g: Geom)(f: Pt => Pt): Geom = g match {
    case GPoint(x, y) => val (a, b) = f((x, y)); GPoint(a, b)
    case GLine(p) => GLine(p.map(f))
    case GPolygon(r) => GPolygon(r.map(_.map(f)))
    case GMultiPoint(p) => GMultiPoint(p.map(f))
    case GMultiLine(ls) => GMultiLine(ls.map(l => GLine(l.pts.map(f))))
    case GMultiPolygon(ps) => GMultiPolygon(ps.map(p => GPolygon(p.rings.map(_.map(f)))))
    case GCollection(gs) => GCollection(gs.map(mapPts(_)(f)))
  }

  // --------------------------------------- predicate kernels (exact ops)
  def swapXY(g: Geom): Geom = g match {
    case GPoint(x, y) => GPoint(y, x)
    case GLine(p) => GLine(p.map(_.swap))
    case GPolygon(r) => GPolygon(r.map(_.map(_.swap)))
    case GMultiPoint(p) => GMultiPoint(p.map(_.swap))
    case GMultiLine(ls) => GMultiLine(ls.map(l => GLine(l.pts.map(_.swap))))
    case GMultiPolygon(ps) => GMultiPolygon(ps.map(p => GPolygon(p.rings.map(_.map(_.swap)))))
    case GCollection(gs) => GCollection(gs.map(swapXY))
  }

  /** Non-strict containment: no vertex or edge-midpoint of b outside a
    * (boundary allowed) — OGC covers for the supported combinations.
    */
  /** Sampled probe points of `g`: vertices + segment midpoints (the
    * same sampling the polygon-contains path has always used).
    */
  private def probePts(g: Geom): Seq[Pt] = g match {
    case p: GPoint => Seq((p.x, p.y))
    case _ => vertices(g) ++ segments(g).flatMap { case (c, d) =>
      Seq(((c._1 + d._1) / 2, (c._2 + d._2) / 2),
        ((3 * c._1 + d._1) / 4, (3 * c._2 + d._2) / 4),
        ((c._1 + 3 * d._1) / 4, (c._2 + 3 * d._2) / 4))
    }.toSeq
  }

  /** p ∈ closure(g) — on the point, on a segment, or inside/on a ring;
    * a multi/collection covers via any part.
    */
  private def onClosure(p: Pt, g: Geom): Boolean = g match {
    case gp: GPoint => segLen(p, (gp.x, gp.y)) < 1e-9
    case l: GLine =>
      segments(l).exists { case (c, d) => pointSegDist(p, c, d) < 1e-9 }
    case poly: GPolygon => pipState(p, poly) >= 0
    case _ => parts(g).exists(onClosure(p, _))
  }

  /** OGC covers: b ⊆ closure(a), over the sampled probes — total across
    * the whole point/line/polygon/multi matrix (func_geometry.result's
    * covers/contains/within blocks).
    */
  def covers(a: Geom, b: Geom): Option[Boolean] =
    Some(probePts(b).forall(onClosure(_, a)) &&
      holeSamples(a).forall(p => !inInteriorPt(p, b)))

  /** Sample points INSIDE the holes of `g`'s polygons — a candidate
    * coveree that needs the hole region is not covered
    * (covers_polygon_hole_polygon_spans_hole golden).
    */
  private def holeSamples(g: Geom): Iterator[Pt] = g match {
    case poly: GPolygon =>
      poly.rings.drop(1).iterator.flatMap { ring =>
        val n = math.max(1, ring.length - 1)
        val cx = ring.take(n).map(_._1).sum / n
        val cy = ring.take(n).map(_._2).sum / n
        (Iterator((cx, cy)) ++ ring.iterator.map(v =>
          ((v._1 + cx) / 2, (v._2 + cy) / 2)))
          .filter(p => pipState(p, poly) == -1)
      }
    case _: GPoint | _: GLine => Iterator.empty
    case _ => parts(g).iterator.flatMap(holeSamples)
  }

  private def inInteriorPt(p: Pt, g: Geom): Boolean = g match {
    case gp: GPoint => segLen(p, (gp.x, gp.y)) < 1e-9
    case l: GLine => pointInteriorOfLine(p, l)
    case poly: GPolygon => pipState(p, poly) == 1
    case _ => parts(g).exists(inInteriorPt(p, _))
  }

  /** Equality via mutual covers (same point set) — TYPE-STRICT like the
    * reference: POINT ≠ MULTIPOINT((same)) (func_geometry.result
    * cross-type equals goldens return 0).
    */
  def geomEquals(a: Geom, b: Geom): Boolean = {
    def rank(g: Geom): Int = g match {
      case _: GPoint => 0
      case _: GLine => 1
      case _: GPolygon => 2
      case _: GMultiPoint => 3
      case _: GMultiLine => 4
      case _: GMultiPolygon => 5
      case _ => 6
    }
    (a, b) match {
      case (GPoint(x1, y1), GPoint(x2, y2)) => segLen((x1, y1), (x2, y2)) < 1e-12
      case _ =>
        rank(a) == rank(b) && dimension(a) == dimension(b) &&
          covers(a, b).contains(true) && covers(b, a).contains(true)
    }
  }

  /** Interiors disjoint but boundaries meet. */
  def touches(a: Geom, b: Geom): Boolean = {
    if (!intersects(a, b)) return false
    !interiorsIntersect(a, b)
  }

  private def interiorsIntersect(a: Geom, b: Geom): Boolean = (a, b) match {
    // a point's interior IS the point — equal points share it (without
    // this case the generic parts() decomposition below recurses forever
    // on point/point: a point decomposes to itself)
    case (pa: GPoint, pb: GPoint) =>
      math.abs(pa.x - pb.x) < 1e-12 && math.abs(pa.y - pb.y) < 1e-12
    case (p: GPoint, poly: GPolygon) => pipState((p.x, p.y), poly) == 1
    case (poly: GPolygon, p: GPoint) => pipState((p.x, p.y), poly) == 1
    case (p: GPoint, l: GLine) =>
      // point interior to the line (on it, not an endpoint; a CLOSED
      // line has no boundary, so every on-line point is interior)
      pointInteriorOfLine((p.x, p.y), l)
    case (l: GLine, p: GPoint) => interiorsIntersect(p, l)
    case (l: GLine, poly: GPolygon) =>
      probesOf(l).exists(pipState(_, poly) == 1)
    case (poly: GPolygon, l: GLine) => interiorsIntersect(l, poly)
    case (pa: GPolygon, pb: GPolygon) =>
      probesOf(pa).exists(pipState(_, pb) == 1) ||
        probesOf(pb).exists(pipState(_, pa) == 1) ||
        // identical (or boundary-sharing) polygons: every boundary probe
        // reads 0 both ways — an inner sample decides (equal-polygon
        // st_contains golden)
        innerSamples(pa).exists(p => pipState(p, pa) == 1 && pipState(p, pb) == 1) ||
        innerSamples(pb).exists(p => pipState(p, pb) == 1 && pipState(p, pa) == 1) ||
        properCrossing(pa, pb)
    case (la: GLine, lb: GLine) =>
      // transversal crossing OR collinear overlap: an INTERIOR probe of
      // one line interior to the other (segment midpoints + interior
      // vertices — endpoints are boundary, a T-touch must stay false)
      properCrossing(la, lb) ||
        interiorLineProbes(la).exists(p => pointInteriorOfLine(p, lb)) ||
        interiorLineProbes(lb).exists(p => pointInteriorOfLine(p, la))
    case _ =>
      // recurse only when at least one side actually decomposes —
      // a non-decomposing pair would loop forever
      val (pa, pb) = (parts(a), parts(b))
      if (pa.sizeIs == 1 && pb.sizeIs == 1 &&
        (pa.head eq a) && (pb.head eq b)) false
      else pa.exists(x => pb.exists(y => interiorsIntersect(x, y)))
  }

  /** Interior samples of a polygon: shell-vertex→centroid midpoints plus
    * the vertex-average — at least one lands inside for simple shapes.
    */
  private def innerSamples(poly: GPolygon): Iterator[Pt] = {
    val shell = poly.rings.head
    val n = math.max(1, shell.length - 1)
    val cx = shell.take(n).map(_._1).sum / n
    val cy = shell.take(n).map(_._2).sum / n
    Iterator((cx, cy)) ++ shell.iterator.map(v =>
      ((v._1 + cx) / 2, (v._2 + cy) / 2))
  }

  private def interiorLineProbes(l: GLine): Iterator[Pt] =
    l.pts.slice(1, l.pts.length - 1).iterator ++
      segments(l).map { case (c, d) => ((c._1 + d._1) / 2, (c._2 + d._2) / 2) }

  private def pointInteriorOfLine(p: Pt, l: GLine): Boolean = {
    val on = segments(l).exists { case (c, d) => pointSegDist(p, c, d) < 1e-9 }
    val closed = l.pts.nonEmpty && l.pts.head == l.pts.last
    on && (closed ||
      (segLen(p, l.pts.head) > 1e-9 && segLen(p, l.pts.last) > 1e-9))
  }

  private def probesOf(g: Geom): Iterator[Pt] =
    vertices(g).iterator ++ segments(g).flatMap { case (c, d) =>
      // mid + quarter points: a segment crossing a narrow feature (a
      // hole boundary) can have its midpoint exactly ON it — the
      // quarter samples still land interior (func_geometry.result
      // crosses_line_polygon_hole_crossing)
      Iterator(((c._1 + d._1) / 2, (c._2 + d._2) / 2),
        ((3 * c._1 + d._1) / 4, (3 * c._2 + d._2) / 4),
        ((c._1 + 3 * d._1) / 4, (c._2 + 3 * d._2) / 4))
    }

  private def properCrossing(a: Geom, b: Geom): Boolean =
    segments(a).exists { case (p, q) =>
      segments(b).exists { case (c, d) =>
        def orient(o: Pt, u: Pt, v: Pt): Double =
          (u._1 - o._1) * (v._2 - o._2) - (u._2 - o._2) * (v._1 - o._1)
        val o1 = orient(p, q, c); val o2 = orient(p, q, d)
        val o3 = orient(c, d, p); val o4 = orient(c, d, q)
        ((o1 > 1e-12 && o2 < -1e-12) || (o1 < -1e-12 && o2 > 1e-12)) &&
          ((o3 > 1e-12 && o4 < -1e-12) || (o3 < -1e-12 && o4 > 1e-12))
      }
    }

  /** OGC crosses: dim(a)≠dim(b) (or both lines) and interiors share
    * some but not all points.
    */
  def crosses(a: Geom, b: Geom): Option[Boolean] = (a, b) match {
    case (l: GLine, poly: GPolygon) =>
      val probes = probesOf(l).map(pipState(_, poly)).toVector
      Some(probes.contains(1) && probes.contains(-1))
    case (poly: GPolygon, l: GLine) => crosses(l, poly)
    case (la: GLine, lb: GLine) => Some(properCrossing(la, lb))
    // MySQL: a point interior to a LINE crosses it
    // (crosses_point_line_interior = 1, crosses_point_polygon = 0)
    case (p: GPoint, g) if dimension(g) == 1 =>
      Some(inInteriorPt((p.x, p.y), g))
    case (g, p: GPoint) if dimension(g) == 1 =>
      Some(inInteriorPt((p.x, p.y), g))
    case (p: GPoint, _) => Some(false)
    case (_, p: GPoint) => Some(false)
    case (_: GPolygon, _: GPolygon) => Some(false) // same dim 2: never crosses
    case _ =>
      // multi-geometries: any part-pair crossing (sampled decomposition)
      val (pa, pb) = (parts(a), parts(b))
      if (pa.sizeIs == 1 && pb.sizeIs == 1 &&
        (pa.head eq a) && (pb.head eq b)) None
      else Some(pa.exists(x => pb.exists(y => crosses(x, y).contains(true))))
  }

  /** Same-dimension interiors overlap, neither covers the other. */
  def overlaps(a: Geom, b: Geom): Option[Boolean] = {
    if (dimension(a) != dimension(b)) return Some(false)
    (a, b) match {
      case (la: GLine, lb: GLine) =>
        // a transversal crossing meets in a POINT (dim 0 < 1): NOT an
        // overlap — only a COLLINEAR segment share of positive length
        val share = segments(la).exists { case (pp, q) =>
          segments(lb).exists { case (c, d) =>
            val (ux, uy) = (q._1 - pp._1, q._2 - pp._2)
            val (vx, vy) = (d._1 - c._1, d._2 - c._2)
            val parallel = math.abs(ux * vy - uy * vx) < 1e-9
            parallel && {
              // collinear carrier: project onto u, intervals must
              // overlap with POSITIVE length (a shared endpoint is a
              // touch, not an overlap)
              val t1 = ux * ux + uy * uy
              val tc = (c._1 - pp._1) * ux + (c._2 - pp._2) * uy
              val td = (d._1 - pp._1) * ux + (d._2 - pp._2) * uy
              val (lo, hi) = (math.min(tc, td), math.max(tc, td))
              val lineDist = math.abs(
                (c._1 - pp._1) * uy - (c._2 - pp._2) * ux) / math.sqrt(t1)
              lineDist < 1e-9 && math.min(hi, t1) - math.max(lo, 0.0) > 1e-9
            }
          }
        }
        Some(share &&
          !covers(a, b).contains(true) && !covers(b, a).contains(true))
      case _ =>
        // same dimension: interiors share some points, neither covers
        // the other (covers is total, so this serves points/polygons)
        Some(interiorsIntersect(a, b) &&
          !covers(a, b).contains(true) && !covers(b, a).contains(true))
    }
  }
}
