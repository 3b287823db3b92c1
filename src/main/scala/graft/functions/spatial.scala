package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, IsNotNull, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spatial ST_* core subset — SURVEY.md §2.8 spatial bucket (reference:
  * sql/expression/function/spatial/, ~90 functions / 15k LoC over the
  * GEOMETRY types in sql/types/geometry.go:34, point.go, polygon.go ...).
  *
  * Geometries are WKT strings (`POINT(x y)`, `LINESTRING(...)`,
  * `POLYGON((ring))`, `MULTIPOINT((..),(..))`, `MULTILINESTRING`,
  * `MULTIPOLYGON`, `GEOMETRYCOLLECTION`) — the pure-math subset
  * (constructors, accessors, component access, distance, area, length,
  * point-in-polygon, WKB/GeoJSON IO) re-expressed as interpreted
  * Catalyst expressions. Remaining ST_* surface (geometric set
  * operations, geographic SRID transforms) is catalogued as descoped in
  * SURVEY §2.8.
  */
object spatial {

  // ---- WKT parsing (tolerant of extra whitespace) ---------------------

  private def coords(body: String): Array[(Double, Double)] =
    body.split(",").map { pair =>
      val ps = pair.trim.split("\\s+")
      (ps(0).toDouble, ps(1).toDouble)
    }

  // ---- SRID tagging (reference sql/types/geometry.go:79 — CartesianSRID
  // 0, GeoSpatialSRID 4326, SupportedSRIDs catalog; a geometry VALUE
  // carries its SRID, WKT text output does not). Tagged values use the
  // EWKT prefix `SRID=n;WKT`; SRID 0 is the untagged form, so every
  // cartesian path is byte-identical to before.

  private[functions] val SupportedSrids: Set[Int] = Set(0, 4326)

  private[functions] def sridOf(wkt: String): Int = {
    if (wkt == null) return 0
    val s = wkt.trim
    if (!s.regionMatches(true, 0, "SRID=", 0, 5)) 0
    else {
      val semi = s.indexOf(';')
      if (semi <= 5) 0
      else try s.substring(5, semi).trim.toInt catch { case _: Exception => 0 }
    }
  }

  private[functions] def stripSrid(wkt: String): String = {
    if (wkt == null) return null
    val s = wkt.trim
    if (!s.regionMatches(true, 0, "SRID=", 0, 5)) s
    else {
      val semi = s.indexOf(';')
      if (semi < 0) s else s.substring(semi + 1).trim
    }
  }

  private[functions] def withSrid(wkt: String, srid: Int): String =
    if (srid == 0) stripSrid(wkt) else s"SRID=$srid;${stripSrid(wkt)}"

  /** POINT(x y) -> (x, y) or null. */
  private[functions] def parsePoint(wkt0: String): (Double, Double) = {
    val s = stripSrid(wkt0)
    if (!s.toUpperCase.startsWith("POINT")) return null
    val open = s.indexOf('('); val close = s.lastIndexOf(')')
    if (open < 0 || close < open) return null
    try {
      val c = coords(s.substring(open + 1, close))
      if (c.length == 1) c(0) else null
    } catch { case _: Exception => null }
  }

  /** LINESTRING(x1 y1, x2 y2, ...) -> points or null. */
  private[functions] def parseLine(wkt0: String): Array[(Double, Double)] = {
    val s = stripSrid(wkt0)
    if (!s.toUpperCase.startsWith("LINESTRING")) return null
    val open = s.indexOf('('); val close = s.lastIndexOf(')')
    if (open < 0 || close < open) return null
    try coords(s.substring(open + 1, close))
    catch { case _: Exception => null }
  }

  /** POLYGON((x1 y1, ...)) -> outer ring or null. Inner rings (holes) are
    * not supported in this subset. */
  private[functions] def parseRing(wkt0: String): Array[(Double, Double)] = {
    val s = stripSrid(wkt0)
    if (!s.toUpperCase.startsWith("POLYGON")) return null
    val open = s.indexOf("((")
    val close = s.indexOf("))")
    if (open < 0 || close < open) return null
    try coords(s.substring(open + 2, close))
    catch { case _: Exception => null }
  }

  /** Shoelace area of a simple ring (closed or open input). */
  private[functions] def ringArea(ring: Array[(Double, Double)]): Double = {
    var acc = 0.0
    var i = 0
    val n = ring.length
    while (i < n) {
      val (x1, y1) = ring(i)
      val (x2, y2) = ring((i + 1) % n)
      acc += x1 * y2 - x2 * y1
      i += 1
    }
    math.abs(acc) / 2.0
  }

  /** Ray-casting point-in-polygon (boundary counts as inside for the
    * horizontal-edge crossing convention used by the reference). */
  private[functions] def pointInRing(px: Double, py: Double,
                                     ring: Array[(Double, Double)]): Boolean = {
    var inside = false
    var i = 0
    val n = ring.length
    var j = n - 1
    while (i < n) {
      val (xi, yi) = ring(i)
      val (xj, yj) = ring(j)
      if ((yi > py) != (yj > py) &&
          px < (xj - xi) * (py - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }

  // ---- general geometry model (wave 2) --------------------------------
  // POINT / LINESTRING / POLYGON (with holes), parsed tolerantly and
  // re-serialized canonically (reference sql/types/geometry.go WKT forms;
  // MySQL validates ring closure and minimum point counts).

  sealed private[functions] trait Geom
  private[functions] case class GPoint(x: Double, y: Double) extends Geom
  private[functions] case class GLine(pts: Array[(Double, Double)]) extends Geom
  private[functions] case class GPoly(rings: Array[Array[(Double, Double)]]) extends Geom
  // multi-geometries (reference sql/types/multipoint.go,
  // multilinestring.go, multipolygon.go, geometrycollection.go)
  private[functions] case class GMultiPoint(pts: Array[(Double, Double)]) extends Geom
  private[functions] case class GMultiLine(lines: Array[Array[(Double, Double)]]) extends Geom
  private[functions] case class GMultiPoly(polys: Array[Array[Array[(Double, Double)]]]) extends Geom
  private[functions] case class GCollection(geoms: Array[Geom]) extends Geom

  /** Canonical number rendering: integral values print without `.0`. */
  private def fmtNum(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString

  /** split a WKT body on top-level commas (commas inside parens stay). */
  private def splitParts(body: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var i = 0
    while (i < body.length) {
      body.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += body.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += body.substring(start)
    out.map(_.trim).filter(_.nonEmpty).toArray
  }

  private def stripParens(s: String): String = {
    val t = s.trim
    if (t.startsWith("(") && t.endsWith(")")) t.substring(1, t.length - 1)
    else t
  }

  /** one parenthesized ring list `(r1),(r2)` -> polygon rings or null. */
  private def parsePolyBody(body: String): Array[Array[(Double, Double)]] = {
    val b = body.trim
    if (!b.startsWith("(") || !b.endsWith(")")) return null
    val rings = splitParts(b).map(r => coords(stripParens(r)))
    val ok = rings.nonEmpty && rings.forall { r =>
      r.length >= 4 && r.head == r.last
    }
    if (ok) rings else null
  }

  /** Parse any supported WKT; null on malformed input (bad tag, unbalanced
    * parens, wrong arity, unclosed polygon ring, <4-point ring). */
  private[functions] def parseGeom(wkt: String): Geom = {
    if (wkt == null) return null
    val s = stripSrid(wkt)
    if (s.toUpperCase.replaceAll("\\s+", " ") == "GEOMETRYCOLLECTION EMPTY")
      return GCollection(Array.empty)
    val open = s.indexOf('(')
    if (open < 0 || !s.endsWith(")")) return null
    val tag = s.substring(0, open).trim.toUpperCase
    val body = s.substring(open + 1, s.length - 1).trim
    try tag match {
      case "POINT" =>
        val c = coords(body)
        if (c.length == 1) GPoint(c(0)._1, c(0)._2) else null
      case "LINESTRING" =>
        val c = coords(body)
        if (c.length >= 2) GLine(c) else null
      case "POLYGON" =>
        val rings = parsePolyBody(body)
        if (rings != null) GPoly(rings) else null
      // MULTIPOINT accepts both MySQL forms: (1 2, 3 4) and ((1 2),(3 4))
      case "MULTIPOINT" =>
        val pts = splitParts(body).map(p => coords(stripParens(p)))
        if (pts.nonEmpty && pts.forall(_.length == 1))
          GMultiPoint(pts.map(_.head))
        else null
      case "MULTILINESTRING" =>
        val ls = splitParts(body).map { part =>
          val t = part.trim
          if (!t.startsWith("(") || !t.endsWith(")")) null
          else coords(t.substring(1, t.length - 1))
        }
        if (ls.nonEmpty && ls.forall(l => l != null && l.length >= 2))
          GMultiLine(ls)
        else null
      case "MULTIPOLYGON" =>
        val polys = splitParts(body).map { part =>
          val t = part.trim
          if (!t.startsWith("(") || !t.endsWith(")")) null
          else parsePolyBody(t.substring(1, t.length - 1))
        }
        if (polys.nonEmpty && polys.forall(_ != null)) GMultiPoly(polys)
        else null
      case "GEOMETRYCOLLECTION" | "GEOMCOLLECTION" =>
        if (body.isEmpty) GCollection(Array.empty)
        else {
          val gs = splitParts(body).map(parseGeom)
          if (gs.nonEmpty && gs.forall(_ != null)) GCollection(gs) else null
        }
      case _ => null
    } catch { case _: Exception => null }
  }

  private def fmtPt(p: (Double, Double)): String =
    s"${fmtNum(p._1)} ${fmtNum(p._2)}"

  /** Canonical WKT — the reference's AsWKT forms (spatial/wkt.go:90–210):
    * MULTIPOINT((1 2),(3 4)), MULTILINESTRING((…),(…)),
    * MULTIPOLYGON(((…)),…), GEOMETRYCOLLECTION(…) / EMPTY. */
  private[functions] def toWkt(g: Geom): String = g match {
    case GPoint(x, y) => s"POINT(${fmtNum(x)} ${fmtNum(y)})"
    case GLine(pts) =>
      pts.map(fmtPt).mkString("LINESTRING(", ",", ")")
    case GPoly(rings) =>
      rings.map(_.map(fmtPt).mkString("(", ",", ")"))
        .mkString("POLYGON(", ",", ")")
    case GMultiPoint(pts) =>
      pts.map(p => "(" + fmtPt(p) + ")").mkString("MULTIPOINT(", ",", ")")
    case GMultiLine(lines) =>
      lines.map(_.map(fmtPt).mkString("(", ",", ")"))
        .mkString("MULTILINESTRING(", ",", ")")
    case GMultiPoly(polys) =>
      polys.map(_.map(_.map(fmtPt).mkString("(", ",", ")"))
        .mkString("(", ",", ")")).mkString("MULTIPOLYGON(", ",", ")")
    case GCollection(gs) =>
      if (gs.isEmpty) "GEOMETRYCOLLECTION EMPTY"
      else gs.map(toWkt).mkString("GEOMETRYCOLLECTION(", ",", ")")
  }

  /** Point strictly inside a polygon: inside the outer ring and not
    * inside any hole. */
  private[functions] def pointInPoly(px: Double, py: Double, poly: GPoly): Boolean =
    pointInRing(px, py, poly.rings.head) &&
      !poly.rings.tail.exists(h => pointInRing(px, py, h))

  /** Proper + touching segment intersection (orientation tests with
    * collinear-overlap handling). */
  private[functions] def segsIntersect(p1: (Double, Double), p2: (Double, Double),
      q1: (Double, Double), q2: (Double, Double)): Boolean = {
    def orient(a: (Double, Double), b: (Double, Double), c: (Double, Double)): Int = {
      val v = (b._2 - a._2) * (c._1 - b._1) - (b._1 - a._1) * (c._2 - b._2)
      if (v > 0) 1 else if (v < 0) -1 else 0
    }
    def onSeg(a: (Double, Double), b: (Double, Double), c: (Double, Double)): Boolean =
      c._1 <= math.max(a._1, b._1) && c._1 >= math.min(a._1, b._1) &&
        c._2 <= math.max(a._2, b._2) && c._2 >= math.min(a._2, b._2)
    val o1 = orient(p1, p2, q1); val o2 = orient(p1, p2, q2)
    val o3 = orient(q1, q2, p1); val o4 = orient(q1, q2, p2)
    (o1 != o2 && o3 != o4) ||
      (o1 == 0 && onSeg(p1, p2, q1)) || (o2 == 0 && onSeg(p1, p2, q2)) ||
      (o3 == 0 && onSeg(q1, q2, p1)) || (o4 == 0 && onSeg(q1, q2, p2))
  }

  private def segments(g: Geom): Array[((Double, Double), (Double, Double))] =
    g match {
      case GPoint(_, _) => Array.empty
      case GLine(p) => p.sliding(2).collect { case Array(a, b) => (a, b) }.toArray
      case GPoly(rings) =>
        rings.flatMap(r => r.sliding(2).collect { case Array(a, b) => (a, b) })
      case GMultiPoint(_) => Array.empty
      case GMultiLine(lines) => lines.flatMap(l => segments(GLine(l)))
      case GMultiPoly(polys) => polys.flatMap(p => segments(GPoly(p)))
      case GCollection(gs) => gs.flatMap(segments)
    }

  private def vertices(g: Geom): Array[(Double, Double)] = g match {
    case GPoint(x, y) => Array((x, y))
    case GLine(p) => p
    case GPoly(rings) => rings.flatten
    case GMultiPoint(pts) => pts
    case GMultiLine(lines) => lines.flatten
    case GMultiPoly(polys) => polys.flatten.flatten
    case GCollection(gs) => gs.flatMap(vertices)
  }

  /** ST_Intersects semantics for the subset: any shared point — segment
    * crossings/touches, vertex containment, or full containment either
    * way (reference spatial/st_intersects.go). */
  private[functions] def intersects(a: Geom, b: Geom): Boolean = {
    def pointOn(g: Geom, v: (Double, Double)): Boolean = g match {
      case GPoint(x, y) => x == v._1 && y == v._2
      case p: GPoly => pointInPoly(v._1, v._2, p)
      case _ => segments(g).exists(s => segsIntersect(s._1, s._2, v, v))
    }
    val segA = segments(a); val segB = segments(b)
    segA.exists(sa => segB.exists(sb =>
      segsIntersect(sa._1, sa._2, sb._1, sb._2))) ||
      vertices(a).exists(pointOn(b, _)) ||
      vertices(b).exists(pointOn(a, _))
  }

  /** point-to-segment euclidean distance */
  private def ptSegDist(p: (Double, Double), a: (Double, Double),
                        b: (Double, Double)): Double = {
    val (dx, dy) = (b._1 - a._1, b._2 - a._2)
    val len2 = dx * dx + dy * dy
    val t =
      if (len2 == 0) 0.0
      else math.max(0.0, math.min(1.0,
        ((p._1 - a._1) * dx + (p._2 - a._2) * dy) / len2))
    math.hypot(p._1 - (a._1 + t * dx), p._2 - (a._2 + t * dy))
  }

  /** General planar ST_Distance between any two geometries (reference
    * spatial/st_distance.go): 0 when they intersect, else the closest
    * approach — which, for non-crossing segment sets, is always realized
    * at a vertex of one side against a vertex or segment of the other.
    * O(n·m) exact sweep; a bounding-box pre-check skips the intersection
    * test for disjoint boxes (the common far-apart case). */
  private[functions] def geomDistance(g1: Geom, g2: Geom): Double = {
    val v1 = vertices(g1); val v2 = vertices(g2)
    def bbox(v: Array[(Double, Double)]) =
      (v.map(_._1).min, v.map(_._2).min, v.map(_._1).max, v.map(_._2).max)
    val (ax0, ay0, ax1, ay1) = bbox(v1)
    val (bx0, by0, bx1, by1) = bbox(v2)
    val boxesOverlap = ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1
    if (boxesOverlap && intersects(g1, g2)) return 0.0
    val s1 = segments(g1); val s2 = segments(g2)
    var min = Double.MaxValue
    var i = 0
    while (i < v1.length) {
      val p = v1(i)
      if (s2.isEmpty) {
        var j = 0
        while (j < v2.length) {
          val d = math.hypot(p._1 - v2(j)._1, p._2 - v2(j)._2)
          if (d < min) min = d
          j += 1
        }
      } else {
        var j = 0
        while (j < s2.length) {
          val d = ptSegDist(p, s2(j)._1, s2(j)._2)
          if (d < min) min = d
          j += 1
        }
      }
      i += 1
    }
    var j = 0
    while (j < v2.length) {
      val p = v2(j)
      var i2 = 0
      while (i2 < s1.length) {
        val d = ptSegDist(p, s1(i2)._1, s1(i2)._2)
        if (d < min) min = d
        i2 += 1
      }
      j += 1
    }
    if (min == Double.MaxValue) 0.0 else min
  }

  /** ST_Contains(container, g) for the subset: every vertex of `g` inside
    * the polygon (holes respected) and no boundary crossing. Exact for
    * points; vertex-based for line/polygon arguments against convex
    * containers (reference spatial/st_contains.go; full DE-9IM descoped). */
  private[functions] def contains(container: Geom, g: Geom): Boolean =
    container match {
      case p: GPoly =>
        vertices(g).forall(v => pointInPoly(v._1, v._2, p))
      case _ => false
    }

  // ---- geohash (reference spatial/geohash.go; standard base32 cells) --

  private val B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  private[functions] def geohashEncode(lon: Double, lat: Double, len: Int): String = {
    if (lon < -180 || lon > 180 || lat < -90 || lat > 90 || len <= 0) return null
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    val sb = new StringBuilder
    var bit = 0; var ch = 0; var even = true
    while (sb.length < len) {
      if (even) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      even = !even; bit += 1
      if (bit == 5) { sb.append(B32.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.result()
  }

  /** (lat, lon) cell midpoint; null for invalid hashes. */
  private[functions] def geohashDecode(h: String): (Double, Double) = {
    if (h == null || h.isEmpty) return null
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var even = true
    var i = 0
    while (i < h.length) {
      val ch = B32.indexOf(h.charAt(i).toLower)
      if (ch < 0) return null
      var b = 4
      while (b >= 0) {
        val bit = (ch >> b) & 1
        if (even) { val mid = (lonLo + lonHi) / 2; if (bit == 1) lonLo = mid else lonHi = mid }
        else { val mid = (latLo + latHi) / 2; if (bit == 1) latLo = mid else latHi = mid }
        even = !even; b -= 1
      }
      i += 1
    }
    ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
  }

  // ---- expressions ----------------------------------------------------

  /** ST_X(point-wkt). */
  case class StX(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val p = parsePoint(v.asInstanceOf[UTF8String].toString)
      if (p == null) null else p._1
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_Y(point-wkt). */
  case class StY(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val p = parsePoint(v.asInstanceOf[UTF8String].toString)
      if (p == null) null else p._2
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_DISTANCE(point, point) — planar euclidean for cartesian SRID 0.
    * SRID handling mirrors the reference exactly (st_distance.go:167–175):
    * mixed SRIDs error, and a geographic SRID errors as unsupported —
    * the reference computes no geodesic distance either. */
  case class StDistance(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val s1 = a.asInstanceOf[UTF8String].toString
      val s2 = b.asInstanceOf[UTF8String].toString
      val (srid1, srid2) = (sridOf(s1), sridOf(s2))
      if (srid1 != srid2) throw new IllegalArgumentException(
        s"The SRID of the geometry does not match the SRID of the " +
        s"function st_distance: $srid1 vs $srid2 (MySQL error 3033)")
      if (srid1 != 0) throw new IllegalArgumentException(
        s"unsupported SRID value $srid1 in function st_distance")
      // any geometry pair (reference st_distance.go), not just points
      val g1 = parseGeom(s1)
      val g2 = parseGeom(s2)
      if (g1 == null || g2 == null) null
      else geomDistance(g1, g2)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_AREA(polygon) — shoelace over the outer ring. */
  case class StArea(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val ring = parseRing(v.asInstanceOf[UTF8String].toString)
      if (ring == null) null else ringArea(ring)
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_LENGTH(linestring) — sum of segment lengths. */
  case class StLength(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val pts = parseLine(v.asInstanceOf[UTF8String].toString)
      if (pts == null || pts.length < 2) null
      else {
        var acc = 0.0
        var i = 1
        while (i < pts.length) {
          val dx = pts(i)._1 - pts(i - 1)._1
          val dy = pts(i)._2 - pts(i - 1)._2
          acc += math.sqrt(dx * dx + dy * dy)
          i += 1
        }
        acc
      }
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_WITHIN(point, polygon) — ray casting. */
  case class StWithin(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val p = parsePoint(a.asInstanceOf[UTF8String].toString)
      val ring = parseRing(b.asInstanceOf[UTF8String].toString)
      if (p == null || ring == null) null
      else pointInRing(p._1, p._2, ring)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_GEOMFROMTEXT(wkt) — validate and canonicalize (uppercase tag,
    * single-space separators, integral coords without `.0`); malformed
    * WKT -> NULL (reference geometry.go constructors reject it). */
  case class StGeomFromText(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      if (g == null) null else UTF8String.fromString(toWkt(g))
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_SRID(g, srid) — re-tag the value WITHOUT transforming
    * coordinates (st_srid.go:100–119; SetSRID does not re-project). An
    * SRID outside the supported catalog (geometry.go SupportedSRIDs:
    * 0 cartesian, 4326 WGS84) is MySQL error 3548. */
  case class StSridTag(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val wkt = a.asInstanceOf[UTF8String].toString
      if (parseGeom(wkt) == null) return null
      val srid = b.asInstanceOf[Number].intValue()
      if (!SupportedSrids.contains(srid)) throw new IllegalArgumentException(
        s"There's no spatial reference system with SRID $srid " +
        s"(MySQL error 3548)")
      UTF8String.fromString(withSrid(wkt, srid))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_GEOMFROMTEXT(wkt, srid) — tagged construction. The geographic
    * SRID 4326 validates coordinate ranges at construction: X=longitude
    * ∈ [-180,180], Y=latitude ∈ [-90,90] (the reference's axis model —
    * x_y_latitude_longitude.go:321 longitude is X, :462 latitude is Y;
    * range errors per ErrLatitudeOutOfRange/ErrLongitudeOutOfRange). */
  case class StGeomFromTextSrid(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val g = parseGeom(a.asInstanceOf[UTF8String].toString)
      if (g == null) return null
      val srid = b.asInstanceOf[Number].intValue()
      if (!SupportedSrids.contains(srid)) throw new IllegalArgumentException(
        s"There's no spatial reference system with SRID $srid " +
        s"(MySQL error 3548)")
      if (srid == 4326) vertices(g).foreach { case (px, py) =>
        if (py < -90 || py > 90) throw new IllegalArgumentException(
          s"latitude $py is out of range in function st_geomfromtext. " +
          s"it must be within [-90.0, 90.0]")
        if (px < -180 || px > 180) throw new IllegalArgumentException(
          s"longitude $px is out of range in function st_geomfromtext. " +
          s"it must be within [-180.0, 180.0]")
      }
      UTF8String.fromString(withSrid(toWkt(g), srid))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_LONGITUDE / ST_LATITUDE — defined only for geographic SRIDs
    * (x_y_latitude_longitude.go:316 ErrNonGeographic); longitude reads
    * X, latitude reads Y. */
  case class StLonLat(child: Expression, isLat: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val fn = if (isLat) "st_latitude" else "st_longitude"
      val srid = sridOf(s)
      if (srid != 4326) throw new IllegalArgumentException(
        s"function $fn is only defined for geographic spatial reference " +
        s"systems, but one of its argument is in SRID $srid, which is " +
        s"not geographic")
      val p = parsePoint(s)
      if (p == null) null else if (isLat) p._2 else p._1
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_INTERSECTS(g1, g2). */
  case class StIntersects(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val g1 = parseGeom(a.asInstanceOf[UTF8String].toString)
      val g2 = parseGeom(b.asInstanceOf[UTF8String].toString)
      if (g1 == null || g2 == null) null else intersects(g1, g2)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_CONTAINS(container, g). */
  case class StContains(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val g1 = parseGeom(a.asInstanceOf[UTF8String].toString)
      val g2 = parseGeom(b.asInstanceOf[UTF8String].toString)
      if (g1 == null || g2 == null) null else contains(g1, g2)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_GEOHASH(lon, lat, maxLen). */
  case class StGeoHash(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) return null
      def num(v: Any): Double = v match {
        case d: Double => d; case f: Float => f.toDouble
        case i: Int => i.toDouble; case l: Long => l.toDouble
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case o => o.toString.toDouble
      }
      val h = geohashEncode(num(vs(0)), num(vs(1)), num(vs(2)).toInt)
      if (h == null) null else UTF8String.fromString(h)
    }
    override protected def withNewChildrenInternal(n: IndexedSeq[Expression]) =
      copy(n)
  }

  /** ST_LATFROMGEOHASH / ST_LONGFROMGEOHASH (axis 0 = lat, 1 = lon). */
  case class GeoHashCoord(child: Expression, axis: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val d = geohashDecode(v.asInstanceOf[UTF8String].toString)
      if (d == null) null else if (axis == 0) d._1 else d._2
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** ST_POINTFROMGEOHASH(h) -> WKT point at the cell midpoint. */
  case class StPointFromGeoHash(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val d = geohashDecode(v.asInstanceOf[UTF8String].toString)
      if (d == null) null
      else UTF8String.fromString(toWkt(GPoint(d._2, d._1)))
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** String-valued geometry accessors (reference spatial/ accessor files):
    * startpoint/endpoint (linestrings), envelope (bounding box as a
    * polygon; degenerate inputs keep polygon form), swapxy,
    * geometrytype (MySQL type names), exteriorring. */
  case class GeomStrOp(child: Expression, op: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      if (g == null) return null
      val r: Geom = (op, g) match {
        case ("startpoint", GLine(p)) => GPoint(p.head._1, p.head._2)
        case ("endpoint", GLine(p)) => GPoint(p.last._1, p.last._2)
        case ("envelope", _) =>
          val vs = vertices(g)
          val (xs, ys) = (vs.map(_._1), vs.map(_._2))
          val (x0, x1, y0, y1) = (xs.min, xs.max, ys.min, ys.max)
          GPoly(Array(Array((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))))
        case ("swapxy", GPoint(px, py)) => GPoint(py, px)
        case ("swapxy", GLine(p)) => GLine(p.map(q => (q._2, q._1)))
        case ("swapxy", GPoly(r0)) => GPoly(r0.map(_.map(q => (q._2, q._1))))
        case ("swapxy", GMultiPoint(p)) => GMultiPoint(p.map(q => (q._2, q._1)))
        case ("swapxy", GMultiLine(ls)) =>
          GMultiLine(ls.map(_.map(q => (q._2, q._1))))
        case ("swapxy", GMultiPoly(ps)) =>
          GMultiPoly(ps.map(_.map(_.map(q => (q._2, q._1)))))
        case ("exteriorring", GPoly(rings)) => GLine(rings.head)
        case _ => null
      }
      (op, g) match {
        case ("geometrytype", _) =>
          UTF8String.fromString(g match {
            case _: GPoint => "POINT"
            case _: GLine => "LINESTRING"
            case _: GPoly => "POLYGON"
            case _: GMultiPoint => "MULTIPOINT"
            case _: GMultiLine => "MULTILINESTRING"
            case _: GMultiPoly => "MULTIPOLYGON"
            // reference st_geometrytype.go:104 returns GEOMCOLLECTION
            case _: GCollection => "GEOMCOLLECTION"
          })
        case _ => if (r == null) null else UTF8String.fromString(toWkt(r))
      }
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** Integer-valued accessors: numpoints (linestring), dimension
    * (0/1/2), srid (the value's tag — st_srid.go:96), numinteriorrings. */
  case class GeomIntOp(child: Expression, op: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val raw = v.asInstanceOf[UTF8String].toString
      val g = parseGeom(raw)
      if (g == null) return null
      if (op == "srid") return sridOf(raw)
      def dim(geom: Geom): Int = geom match {
        case _: GPoint | _: GMultiPoint => 0
        case _: GLine | _: GMultiLine => 1
        case _: GPoly | _: GMultiPoly => 2
        case GCollection(gs) => if (gs.isEmpty) 0 else gs.map(dim).max
      }
      (op, g) match {
        case ("numpoints", GLine(p)) => p.length
        case ("numpoints", _) => null
        case ("dimension", _) => dim(g)
        case ("numinteriorrings", GPoly(r)) => r.length - 1
        case ("numinteriorrings", _) => null
        // component count; NULL for simple geometries (reference
        // st_numgeometries.go:93 — MySQL behavior)
        case ("numgeometries", GMultiPoint(p)) => p.length
        case ("numgeometries", GMultiLine(ls)) => ls.length
        case ("numgeometries", GMultiPoly(ps)) => ps.length
        case ("numgeometries", GCollection(gs)) => gs.length
        case ("numgeometries", _) => null
        case _ => null
      }
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_CENTROID: polygon = area-weighted ring centroid (shoelace
    * moments, outer ring); linestring = length-weighted midpoint;
    * point = itself (reference spatial/st_centroid). */
  case class StCentroid(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      if (g == null) return null
      val c: (Double, Double) = g match {
        case GMultiPoint(pts) =>
          (pts.map(_._1).sum / pts.length, pts.map(_._2).sum / pts.length)
        case _: GMultiLine | _: GMultiPoly | _: GCollection => return null
        case GPoint(px, py) => (px, py)
        case GLine(p) =>
          var len = 0.0; var cx = 0.0; var cy = 0.0
          p.sliding(2).foreach { case Array(a, b) =>
            val l = math.hypot(b._1 - a._1, b._2 - a._2)
            len += l
            cx += l * (a._1 + b._1) / 2; cy += l * (a._2 + b._2) / 2
          }
          if (len == 0) (p.head._1, p.head._2) else (cx / len, cy / len)
        case GPoly(rings) =>
          val r = rings.head
          var a2 = 0.0; var cx = 0.0; var cy = 0.0
          var i = 0
          while (i < r.length - 1) {
            val cross = r(i)._1 * r(i + 1)._2 - r(i + 1)._1 * r(i)._2
            a2 += cross
            cx += (r(i)._1 + r(i + 1)._1) * cross
            cy += (r(i)._2 + r(i + 1)._2) * cross
            i += 1
          }
          if (a2 == 0) (r.head._1, r.head._2) else (cx / (3 * a2), cy / (3 * a2))
      }
      UTF8String.fromString(toWkt(GPoint(c._1, c._2)))
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_PERIMETER: sum of all ring lengths (polygon only). */
  case class StPerimeter(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      parseGeom(v.asInstanceOf[UTF8String].toString) match {
        case GPoly(rings) =>
          rings.map(r => r.sliding(2).map { case Array(a, b) =>
            math.hypot(b._1 - a._1, b._2 - a._2)
          }.sum).sum
        case _ => null
      }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_EQUALS on canonical geometry (exact coordinates). */
  case class StEquals(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val g1 = parseGeom(a.asInstanceOf[UTF8String].toString)
      val g2 = parseGeom(b.asInstanceOf[UTF8String].toString)
      if (g1 == null || g2 == null) null else toWkt(g1) == toWkt(g2)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_INTERIORRINGN(polygon, n) — 1-based hole accessor. */
  case class StInteriorRingN(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val n = b match {
        case i: Int => i; case l: Long => l.toInt; case o => o.toString.toInt
      }
      parseGeom(a.asInstanceOf[UTF8String].toString) match {
        case GPoly(rings) if n >= 1 && n < rings.length =>
          UTF8String.fromString(toWkt(GLine(rings(n))))
        case _ => null
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_ISCLOSED(linestring): first point equals last. */
  case class StIsClosed(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      parseGeom(v.asInstanceOf[UTF8String].toString) match {
        case GLine(p) => p.head == p.last
        // MULTILINESTRING is closed iff every component line is
        case GMultiLine(ls) => ls.forall(l => l.head == l.last)
        case _ => null
      }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_POINTN(linestring, n) — 1-based; out of range -> NULL. */
  case class StPointN(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val n = b match {
        case i: Int => i; case l: Long => l.toInt; case o => o.toString.toInt
      }
      parseGeom(a.asInstanceOf[UTF8String].toString) match {
        case GLine(p) if n >= 1 && n <= p.length =>
          UTF8String.fromString(toWkt(GPoint(p(n - 1)._1, p(n - 1)._2)))
        case _ => null
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_DISJOINT = NOT intersects. */
  case class StDisjoint(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val g1 = parseGeom(a.asInstanceOf[UTF8String].toString)
      val g2 = parseGeom(b.asInstanceOf[UTF8String].toString)
      if (g1 == null || g2 == null) null else !intersects(g1, g2)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** ST_ISEMPTY — the WKT model carries no empty geometry collections
    * (reference st_isempty.go:25: only an empty GeomColl is empty), so any
    * geometry that parses is non-empty; malformed input -> NULL. */
  case class StIsEmpty(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      if (parseGeom(v.asInstanceOf[UTF8String].toString) == null) null
      else false
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_CONVEXHULL — Andrew's monotone chain over all vertices (reference
    * st_convexhull.go convexHull: lexicographic sort, dedup, lower+upper
    * hull with collinear points dropped). Result shape follows the
    * reference's arity rule: 1 distinct point -> POINT, 2 -> LINESTRING,
    * else POLYGON with the hull ring closed. */
  case class StConvexHull(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      if (g == null) return null
      val pts = vertices(g).distinct.sortBy(p => (p._1, p._2))
      def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
        (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
      val hull =
        if (pts.length <= 2) pts
        else {
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
          for (p <- pts) { // lower hull
            while (buf.length >= 2 &&
                   cross(buf(buf.length - 2), buf.last, p) <= 0) buf.remove(buf.length - 1)
            buf += p
          }
          val lower = buf.length + 1
          for (i <- pts.length - 2 to 0 by -1) { // upper hull
            val p = pts(i)
            while (buf.length >= lower &&
                   cross(buf(buf.length - 2), buf.last, p) <= 0) buf.remove(buf.length - 1)
            buf += p
          }
          buf.toArray // closed: first point repeated at the end
        }
      val distinct = if (hull.length > 1 && hull.head == hull.last)
        hull.length - 1 else hull.length
      val result: Geom =
        if (distinct == 1) GPoint(hull(0)._1, hull(0)._2)
        else if (distinct == 2) GLine(hull.take(2))
        else GPoly(Array(hull))
      UTF8String.fromString(toWkt(result))
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** Typed WKT constructors (st_pointfromtext etc.): validate the tag
    * matches, then canonicalize. */
  case class TypedFromText(child: Expression, tag: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      val ok = (g, tag) match {
        case (_: GPoint, "POINT") | (_: GLine, "LINESTRING") |
             (_: GPoly, "POLYGON") | (_: GMultiPoint, "MULTIPOINT") |
             (_: GMultiLine, "MULTILINESTRING") |
             (_: GMultiPoly, "MULTIPOLYGON") |
             (_: GCollection, "GEOMETRYCOLLECTION") => true
        case _ => false
      }
      if (ok) UTF8String.fromString(toWkt(g)) else null
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_GEOMETRYN(geom, n) — 1-based Nth component of a multi-geometry /
    * collection; out-of-range or simple-geometry input -> NULL
    * (reference st_geometryn.go:114). */
  case class StGeometryN(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val idx = b match {
        case i: Int => i; case l: Long => l.toInt; case o => o.toString.toInt
      }
      val g = parseGeom(a.asInstanceOf[UTF8String].toString)
      if (g == null) return null
      def at[T](arr: Array[T]): Option[T] =
        if (idx >= 1 && idx <= arr.length) Some(arr(idx - 1)) else None
      val comp: Option[Geom] = g match {
        case GMultiPoint(pts) => at(pts).map(p => GPoint(p._1, p._2))
        case GMultiLine(ls) => at(ls).map(GLine.apply)
        case GMultiPoly(ps) => at(ps).map(GPoly.apply)
        case GCollection(gs) => at(gs)
        case _ => None
      }
      comp.map(c => UTF8String.fromString(toWkt(c))).orNull
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  // ---- WKB (reference st_aswkb/st_asbinary + *fromwkb constructors) ---
  // Standard little-endian WKB: byteOrder(1) + geomType(4) + payload;
  // point = 2 doubles, linestring = count + points, polygon = numRings +
  // per-ring count + points.

  private[functions] def toWkb(g: Geom): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def sized(n: Int) = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte) // little-endian marker
      b
    }
    g match {
      case GPoint(px, py) =>
        val b = sized(1 + 4 + 16)
        b.putInt(1).putDouble(px).putDouble(py); b.array()
      case GLine(pts) =>
        val b = sized(1 + 4 + 4 + 16 * pts.length)
        b.putInt(2).putInt(pts.length)
        pts.foreach(p => b.putDouble(p._1).putDouble(p._2)); b.array()
      case GPoly(rings) =>
        val b = sized(1 + 4 + 4 + rings.map(r => 4 + 16 * r.length).sum)
        b.putInt(3).putInt(rings.length)
        rings.foreach { r =>
          b.putInt(r.length)
          r.foreach(p => b.putDouble(p._1).putDouble(p._2))
        }
        b.array()
      // multi types (codes 4-7): each component is a full nested WKB
      // geometry with its own byte-order marker + type header
      case GMultiPoint(pts) => nestedWkb(4, pts.map(p => GPoint(p._1, p._2)))
      case GMultiLine(ls) => nestedWkb(5, ls.map(GLine.apply))
      case GMultiPoly(ps) => nestedWkb(6, ps.map(GPoly.apply))
      case GCollection(gs) => nestedWkb(7, gs)
    }
  }

  private def nestedWkb(code: Int, comps: Array[_ <: Geom]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val parts = comps.map(toWkb)
    val b = ByteBuffer.allocate(1 + 4 + 4 + parts.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(code).putInt(parts.length)
    parts.foreach(b.put)
    b.array()
  }

  private[functions] def fromWkb(bytes: Array[Byte]): Geom =
    try readWkbGeom(java.nio.ByteBuffer.wrap(bytes))
    catch { case _: Exception => null }

  /** one WKB geometry off the buffer (each nested component carries its
    * own byte-order marker, so the order is (re)set per call). */
  private def readWkbGeom(b: java.nio.ByteBuffer): Geom = {
    import java.nio.ByteOrder
    b.order(if (b.get() == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    def comps(n: Int): Array[Geom] = {
      val arr = Array.fill[Geom](n)(readWkbGeom(b))
      if (arr.contains(null)) throw new IllegalArgumentException("bad wkb")
      arr
    }
    b.getInt() match {
      case 1 => GPoint(b.getDouble(), b.getDouble())
      case 2 =>
        val n = b.getInt()
        if (n < 2) return null
        GLine(Array.fill(n)((b.getDouble(), b.getDouble())))
      case 3 =>
        val nr = b.getInt()
        if (nr < 1) return null
        val rings = Array.fill(nr) {
          val n = b.getInt()
          Array.fill(n)((b.getDouble(), b.getDouble()))
        }
        if (rings.forall(r => r.length >= 4 && r.head == r.last)) GPoly(rings)
        else null
      case 4 =>
        GMultiPoint(comps(b.getInt()).map { case GPoint(px, py) => (px, py) })
      case 5 => GMultiLine(comps(b.getInt()).map { case GLine(p) => p })
      case 6 => GMultiPoly(comps(b.getInt()).map { case GPoly(r) => r })
      case 7 => GCollection(comps(b.getInt()))
      case _ => null
    }
  }

  // ---- GeoJSON (reference st_asgeojson/st_geomfromgeojson) ------------

  private[functions] def toGeoJson(g: Geom): String = {
    def pt(p: (Double, Double)) = s"[${fmtNum(p._1)},${fmtNum(p._2)}]"
    g match {
      case GPoint(px, py) =>
        s"""{"type":"Point","coordinates":${pt((px, py))}}"""
      case GLine(pts) =>
        s"""{"type":"LineString","coordinates":[${pts.map(pt).mkString(",")}]}"""
      case GPoly(rings) =>
        val rs = rings.map(r => s"[${r.map(pt).mkString(",")}]").mkString(",")
        s"""{"type":"Polygon","coordinates":[$rs]}"""
      case GMultiPoint(pts) =>
        s"""{"type":"MultiPoint","coordinates":[${pts.map(pt).mkString(",")}]}"""
      case GMultiLine(lines) =>
        val ls = lines.map(l => s"[${l.map(pt).mkString(",")}]").mkString(",")
        s"""{"type":"MultiLineString","coordinates":[$ls]}"""
      case GMultiPoly(polys) =>
        val ps = polys.map(rings =>
          s"[${rings.map(r => s"[${r.map(pt).mkString(",")}]").mkString(",")}]")
          .mkString(",")
        s"""{"type":"MultiPolygon","coordinates":[$ps]}"""
      case GCollection(gs) =>
        s"""{"type":"GeometryCollection","geometries":[${gs.map(toGeoJson).mkString(",")}]}"""
    }
  }

  private[functions] def fromGeoJson(s: String): Geom =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(s)
      def coord(n: com.fasterxml.jackson.databind.JsonNode) =
        (n.get(0).asDouble(), n.get(1).asDouble())
      import scala.jdk.CollectionConverters._
      val coords = root.get("coordinates")
      root.get("type").asText() match {
        case "Point" => GPoint(coord(coords)._1, coord(coords)._2)
        case "LineString" =>
          val pts = coords.elements().asScala.map(coord).toArray
          if (pts.length >= 2) GLine(pts) else null
        case "Polygon" =>
          val rings = coords.elements().asScala
            .map(r => r.elements().asScala.map(coord).toArray).toArray
          if (rings.nonEmpty &&
              rings.forall(r => r.length >= 4 && r.head == r.last))
            GPoly(rings)
          else null
        case "MultiPoint" =>
          val pts = coords.elements().asScala.map(coord).toArray
          if (pts.nonEmpty) GMultiPoint(pts) else null
        case "MultiLineString" =>
          val ls = coords.elements().asScala
            .map(l => l.elements().asScala.map(coord).toArray).toArray
          if (ls.nonEmpty && ls.forall(_.length >= 2)) GMultiLine(ls) else null
        case "MultiPolygon" =>
          val ps = coords.elements().asScala.map(p =>
            p.elements().asScala
              .map(r => r.elements().asScala.map(coord).toArray).toArray)
            .toArray
          if (ps.nonEmpty && ps.forall(rings => rings.nonEmpty &&
              rings.forall(r => r.length >= 4 && r.head == r.last)))
            GMultiPoly(ps)
          else null
        case "GeometryCollection" =>
          val gs = root.get("geometries").elements().asScala
            .map(n => fromGeoJson(n.toString)).toArray
          if (gs.nonEmpty && gs.forall(_ != null)) GCollection(gs) else null
        case _ => null
      }
    } catch { case _: Exception => null }

  /** ST_ASGEOJSON(wkt). */
  case class StAsGeoJson(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      if (g == null) null else UTF8String.fromString(toGeoJson(g))
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_GEOMFROMGEOJSON(json) -> canonical WKT. */
  case class StFromGeoJson(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = fromGeoJson(v.asInstanceOf[UTF8String].toString)
      if (g == null) null else UTF8String.fromString(toWkt(g))
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_ASWKB / ST_ASBINARY. */
  case class StAsWkb(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = parseGeom(v.asInstanceOf[UTF8String].toString)
      if (g == null) null else toWkb(g)
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** ST_GEOMFROMWKB (tag = null) and the typed *fromwkb constructors. */
  case class StFromWkb(child: Expression, tag: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val g = fromWkb(v.asInstanceOf[Array[Byte]])
      val ok = (g, tag) match {
        case (null, _) => false
        case (_, null) => true
        case (_: GPoint, "POINT") | (_: GLine, "LINESTRING") |
             (_: GPoly, "POLYGON") | (_: GMultiPoint, "MULTIPOINT") |
             (_: GMultiLine, "MULTILINESTRING") |
             (_: GMultiPoly, "MULTIPOLYGON") |
             (_: GCollection, "GEOMETRYCOLLECTION") => true
        case _ => false
      }
      if (ok) UTF8String.fromString(toWkt(g)) else null
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  // ---- Column wrappers ------------------------------------------------

  import org.apache.spark.sql.GraftBridge
  private def c(e: Expression): Column = GraftBridge.column(e)
  private def x(col: Column): Expression = GraftBridge.expression(col)

  def stStartPoint(g: Column): Column = c(GeomStrOp(x(g), "startpoint"))
  def stEndPoint(g: Column): Column = c(GeomStrOp(x(g), "endpoint"))
  def stEnvelope(g: Column): Column = c(GeomStrOp(x(g), "envelope"))
  def stSwapXY(g: Column): Column = c(GeomStrOp(x(g), "swapxy"))
  def stGeometryType(g: Column): Column = c(GeomStrOp(x(g), "geometrytype"))
  def stExteriorRing(g: Column): Column = c(GeomStrOp(x(g), "exteriorring"))
  def stNumPoints(g: Column): Column = c(GeomIntOp(x(g), "numpoints"))
  def stDimension(g: Column): Column = c(GeomIntOp(x(g), "dimension"))
  def stSrid(g: Column): Column = c(GeomIntOp(x(g), "srid"))
  /** 2-arg form: re-tag without re-projecting (st_srid.go:119). */
  def stSrid(g: Column, srid: Column): Column = c(StSridTag(x(g), x(srid)))
  def stNumInteriorRings(g: Column): Column = c(GeomIntOp(x(g), "numinteriorrings"))
  def stIsClosed(g: Column): Column = c(StIsClosed(x(g)))
  def stIsEmpty(g: Column): Column = c(StIsEmpty(x(g)))
  def stConvexHull(g: Column): Column = c(StConvexHull(x(g)))
  /** ST_LONGITUDE/ST_LATITUDE — geographic (SRID 4326) points only, per
    * the reference (x_y_latitude_longitude.go:316 ErrNonGeographic);
    * longitude reads X, latitude reads Y. */
  def stLongitude(g: Column): Column = c(StLonLat(x(g), isLat = false))
  def stLatitude(g: Column): Column = c(StLonLat(x(g), isLat = true))
  def stPointN(g: Column, n: Column): Column = c(StPointN(x(g), x(n)))
  def stDisjoint(a: Column, b: Column): Column = c(StDisjoint(x(a), x(b)))
  def stNumGeometries(g: Column): Column = c(GeomIntOp(x(g), "numgeometries"))
  def stAsGeoJson(g: Column): Column = c(StAsGeoJson(x(g)))
  def stGeometryN(g: Column, n: Column): Column = c(StGeometryN(x(g), x(n)))
  def stMultiPoint(pts: Column*): Column =
    c(multiCtor("MULTIPOINT", "POINT", pts.map(x)))
  def stMultiLineString(ls: Column*): Column =
    c(multiCtor("MULTILINESTRING", "LINESTRING", ls.map(x)))
  def stMultiPolygon(ps: Column*): Column =
    c(multiCtor("MULTIPOLYGON", "POLYGON", ps.map(x)))
  def stGeometryCollection(gs: Column*): Column = c(geomCollCtor(gs.map(x)))

  /** ST_POINT(x, y) -> WKT (pure Column composition, codegen'd). */
  def stPoint(px: Column, py: Column): Column =
    org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("POINT("), px,
      org.apache.spark.sql.functions.lit(" "), py,
      org.apache.spark.sql.functions.lit(")"))

  def stX(g: Column): Column = c(StX(x(g)))
  def stY(g: Column): Column = c(StY(x(g)))
  def stDistance(a: Column, b: Column): Column = c(StDistance(x(a), x(b)))
  def stArea(g: Column): Column = c(StArea(x(g)))
  def stLength(g: Column): Column = c(StLength(x(g)))
  def stWithin(p: Column, poly: Column): Column = c(StWithin(x(p), x(poly)))
  /** ST_GeomFromText validates + canonicalizes WKT (NULL if malformed);
    * ST_AsText is identity on the canonical representation. */
  def stGeomFromText(s: Column): Column = c(StGeomFromText(x(s)))
  /** 2-arg form: tagged construction with geographic range checks. */
  def stGeomFromText(s: Column, srid: Column): Column =
    c(StGeomFromTextSrid(x(s), x(srid)))
  /** WKT text output never carries the SRID tag (AsWKT renders
    * coordinates only); malformed input -> NULL, like the SQL form. */
  def stAsText(g: Column): Column = c(StGeomFromText(x(g)))
  def stIntersects(a: Column, b: Column): Column = c(StIntersects(x(a), x(b)))
  def stContains(a: Column, b: Column): Column = c(StContains(x(a), x(b)))
  def stGeoHash(lon: Column, lat: Column, len: Column): Column =
    c(StGeoHash(Seq(lon, lat, len).map(x)))
  def stLatFromGeoHash(h: Column): Column = c(GeoHashCoord(x(h), 0))
  def stLongFromGeoHash(h: Column): Column = c(GeoHashCoord(x(h), 1))
  def stPointFromGeoHash(h: Column): Column = c(StPointFromGeoHash(x(h)))

  // ---- WKT constructors from component geometries (reference
  //      point.go/linestring.go/polygon.go): POINT(x, y) builds from
  //      coordinates; LINESTRING(p...) from points; POLYGON(ls...) from
  //      closed linestring rings. All validate through StGeomFromText.
  private def wktLit(s: String): Expression =
    org.apache.spark.sql.catalyst.expressions.Literal(
      UTF8String.fromString(s), StringType)
  private def pointCtor(es: Seq[Expression]): Expression =
    StGeomFromText(org.apache.spark.sql.catalyst.expressions.Concat(Seq(
      wktLit("POINT("),
      org.apache.spark.sql.catalyst.expressions.Cast(es(0), StringType),
      wktLit(" "),
      org.apache.spark.sql.catalyst.expressions.Cast(es(1), StringType),
      wktLit(")"))))
  private def lineCtor(es: Seq[Expression]): Expression = {
    val inners = es.map(e =>
      org.apache.spark.sql.catalyst.expressions.RegExpExtract(
        e, wktLit("^POINT\\((.+)\\)$"),
        org.apache.spark.sql.catalyst.expressions.Literal(1)): Expression)
    StGeomFromText(org.apache.spark.sql.catalyst.expressions.Concat(Seq(
      wktLit("LINESTRING("),
      org.apache.spark.sql.catalyst.expressions.ConcatWs(
        wktLit(",") +: inners),
      wktLit(")"))))
  }
  private def polyCtor(es: Seq[Expression]): Expression = {
    val rings = es.map(e =>
      org.apache.spark.sql.catalyst.expressions.Concat(Seq(
        wktLit("("),
        org.apache.spark.sql.catalyst.expressions.RegExpExtract(
          e, wktLit("^LINESTRING\\((.+)\\)$"),
          org.apache.spark.sql.catalyst.expressions.Literal(1)),
        wktLit(")"))): Expression)
    StGeomFromText(org.apache.spark.sql.catalyst.expressions.Concat(Seq(
      wktLit("POLYGON("),
      org.apache.spark.sql.catalyst.expressions.ConcatWs(
        wktLit(",") +: rings),
      wktLit(")"))))
  }

  /** multi-geometry component constructors (reference spatial/
    * multipoint.go NewMultiPoint etc.): each argument is a component
    * WKT; the tagged body re-wraps and validates via StGeomFromText. */
  private def multiCtor(tag: String, innerTag: String,
                        es: Seq[Expression]): Expression = {
    val bodies = es.map(e =>
      org.apache.spark.sql.catalyst.expressions.Concat(Seq(
        wktLit("("),
        org.apache.spark.sql.catalyst.expressions.RegExpExtract(
          e, wktLit(s"^$innerTag\\((.+)\\)$$"),
          org.apache.spark.sql.catalyst.expressions.Literal(1)),
        wktLit(")"))): Expression)
    StGeomFromText(org.apache.spark.sql.catalyst.expressions.Concat(Seq(
      wktLit(tag + "("),
      org.apache.spark.sql.catalyst.expressions.ConcatWs(
        wktLit(",") +: bodies),
      wktLit(")"))))
  }

  /** GEOMETRYCOLLECTION(g1, g2, …): components keep their own tags. */
  private def geomCollCtor(es: Seq[Expression]): Expression =
    if (es.isEmpty) StGeomFromText(wktLit("GEOMETRYCOLLECTION EMPTY"))
    else StGeomFromText(org.apache.spark.sql.catalyst.expressions.Concat(Seq(
      wktLit("GEOMETRYCOLLECTION("),
      org.apache.spark.sql.catalyst.expressions.ConcatWs(
        wktLit(",") +: es),
      wktLit(")"))))

  /** Every (name, builder) pair, registered by the Engine constructor. */
  def builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Seq[Expression] => Expression)](
      "point" -> (es => pointCtor(es)),
      "st_point" -> (es => pointCtor(es)),
      "linestring" -> (es => lineCtor(es)),
      "polygon" -> (es => polyCtor(es)),
      "multipoint" -> (es => multiCtor("MULTIPOINT", "POINT", es)),
      "multilinestring" -> (es => multiCtor("MULTILINESTRING", "LINESTRING", es)),
      "multipolygon" -> (es => multiCtor("MULTIPOLYGON", "POLYGON", es)),
      "geometrycollection" -> (es => geomCollCtor(es)),
      "geomcollection" -> (es => geomCollCtor(es)),
      "st_numgeometries" -> (es => GeomIntOp(es.head, "numgeometries")),
      "st_geometryn" -> (es => StGeometryN(es(0), es(1))),
      "st_x" -> (es => StX(es.head)),
      "st_y" -> (es => StY(es.head)),
      "st_distance" -> (es => StDistance(es(0), es(1))),
      "st_area" -> (es => StArea(es.head)),
      "st_length" -> (es => StLength(es.head)),
      "st_within" -> (es => StWithin(es(0), es(1))),
      "st_geomfromtext" -> (es =>
        if (es.length >= 2) StGeomFromTextSrid(es(0), es(1))
        else StGeomFromText(es.head)),
      "st_geometryfromtext" -> (es =>
        if (es.length >= 2) StGeomFromTextSrid(es(0), es(1))
        else StGeomFromText(es.head)),
      "st_srid" -> (es =>
        if (es.length >= 2) StSridTag(es(0), es(1))
        else GeomIntOp(es.head, "srid")),
      "st_astext" -> (es => StGeomFromText(es.head)),
      "st_aswkt" -> (es => StGeomFromText(es.head)),
      "st_intersects" -> (es => StIntersects(es(0), es(1))),
      "st_contains" -> (es => StContains(es(0), es(1))),
      "st_geohash" -> (es => StGeoHash(es)),
      "st_latfromgeohash" -> (es => GeoHashCoord(es.head, 0)),
      "st_longfromgeohash" -> (es => GeoHashCoord(es.head, 1)),
      "st_pointfromgeohash" -> (es => StPointFromGeoHash(es.head)),
      "st_numinteriorring" -> (es => GeomIntOp(es.head, "numinteriorrings")),
      "st_isclosed" -> (es => StIsClosed(es.head)),
      "st_centroid" -> (es => StCentroid(es.head)),
      "st_perimeter" -> (es => StPerimeter(es.head)),
      "st_equal" -> (es => StEquals(es(0), es(1))),
      "st_equals" -> (es => StEquals(es(0), es(1))),
      "st_interiorringn" -> (es => StInteriorRingN(es(0), es(1))),
      // validation: NULL for malformed WKT, else canonical form; our
      // parser only admits simple geometries, so valid => simple
      "st_validate" -> (es => StGeomFromText(es.head)),
      "st_issimple" -> (es => IsNotNull(StGeomFromText(es.head))),
      "st_asgeojson" -> (es => StAsGeoJson(es.head)),
      "st_geomfromgeojson" -> (es => StFromGeoJson(es.head)),
      "st_aswkb" -> (es => StAsWkb(es.head)),
      "st_asbinary" -> (es => StAsWkb(es.head)),
      "st_geomfromwkb" -> (es => StFromWkb(es.head, null)),
      "st_geometryfromwkb" -> (es => StFromWkb(es.head, null)),
      "st_pointfromwkb" -> (es => StFromWkb(es.head, "POINT")),
      "st_linefromwkb" -> (es => StFromWkb(es.head, "LINESTRING")),
      "st_linestringfromwkb" -> (es => StFromWkb(es.head, "LINESTRING")),
      "st_polyfromwkb" -> (es => StFromWkb(es.head, "POLYGON")),
      "st_polygonfromwkb" -> (es => StFromWkb(es.head, "POLYGON")),
      "st_mpointfromwkb" -> (es => StFromWkb(es.head, "MULTIPOINT")),
      "st_multipointfromwkb" -> (es => StFromWkb(es.head, "MULTIPOINT")),
      "st_mlinefromwkb" -> (es => StFromWkb(es.head, "MULTILINESTRING")),
      "st_multilinestringfromwkb" -> (es => StFromWkb(es.head, "MULTILINESTRING")),
      "st_mpolyfromwkb" -> (es => StFromWkb(es.head, "MULTIPOLYGON")),
      "st_multipolygonfromwkb" -> (es => StFromWkb(es.head, "MULTIPOLYGON")),
      "st_geomcollfromwkb" -> (es => StFromWkb(es.head, "GEOMETRYCOLLECTION")),
      "st_geometrycollectionfromwkb" -> (es => StFromWkb(es.head, "GEOMETRYCOLLECTION")),
      "st_pointn" -> (es => StPointN(es(0), es(1))),
      "st_isempty" -> (es => StIsEmpty(es.head)),
      "st_convexhull" -> (es => StConvexHull(es.head)),
      "st_longitude" -> (es => StLonLat(es.head, isLat = false)),
      "st_latitude" -> (es => StLonLat(es.head, isLat = true)),
      "st_disjoint" -> (es => StDisjoint(es(0), es(1)))) ++
    Seq("startpoint", "endpoint", "envelope", "swapxy", "geometrytype",
      "exteriorring").map(op =>
      s"st_$op" -> ((es: Seq[Expression]) => GeomStrOp(es.head, op): Expression)) ++
    Seq("numpoints", "dimension", "numinteriorrings").map(op =>
      s"st_$op" -> ((es: Seq[Expression]) => GeomIntOp(es.head, op): Expression)) ++
    Seq("st_pointfromtext" -> "POINT",
      "st_linefromtext" -> "LINESTRING",
      "st_linestringfromtext" -> "LINESTRING",
      "st_polyfromtext" -> "POLYGON",
      "st_polygonfromtext" -> "POLYGON",
      "st_mpointfromtext" -> "MULTIPOINT",
      "st_multipointfromtext" -> "MULTIPOINT",
      "st_mlinefromtext" -> "MULTILINESTRING",
      "st_multilinestringfromtext" -> "MULTILINESTRING",
      "st_mpolyfromtext" -> "MULTIPOLYGON",
      "st_multipolygonfromtext" -> "MULTIPOLYGON",
      "st_geomcollfromtext" -> "GEOMETRYCOLLECTION",
      "st_geomcollfromtxt" -> "GEOMETRYCOLLECTION",
      "st_geometrycollectionfromtext" -> "GEOMETRYCOLLECTION").map {
      case (name, tag) =>
        name -> ((es: Seq[Expression]) => TypedFromText(es.head, tag): Expression)
    }

  def register(spark: SparkSession): Unit = {
    val reg = GraftBridge.functionRegistry(spark)
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, es => b(es), "scala_udf")
    }
  }
}
