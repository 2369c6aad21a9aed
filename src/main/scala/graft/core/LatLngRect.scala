package graft.core

/**
 * Antimeridian-aware lat/lng rectangle with S2LatLngRect semantics
 * (reference: src/s2_bounds.cpp:147-649; S2 public API semantics for
 * S1Interval/R1Interval re-derived from s2geometry.io docs).
 *
 * Internal representation is radians. The longitude interval is an
 * S1Interval: lo > hi means the interval crosses the antimeridian
 * ("inverted"); [Pi, -Pi] is canonical-empty, [-Pi, Pi] is full.
 * The latitude interval is a plain R1Interval; [1, 0] is canonical-empty
 * (visible in the reference's empty-box output: ymin 57.29577951308232 deg
 * = 1 rad, ymax 0 — bounds.test:40-43).
 */
final case class LatLngRect(latLo: Double, latHi: Double, lngLo: Double, lngHi: Double) {
  def latEmpty: Boolean = latLo > latHi
  def lngEmpty: Boolean = lngLo - lngHi == 2 * Math.PI // [Pi, -Pi]
  def lngInverted: Boolean = lngLo > lngHi
  def isEmpty: Boolean = latEmpty

  def lngContains(p: Double): Boolean =
    if (lngInverted) p >= lngLo || p <= lngHi
    else p >= lngLo && p <= lngHi

  /** (p - q) mod 2*Pi in [0, 2*Pi). */
  @inline private def posDist(q: Double, p: Double): Double = {
    val d = p - q
    if (d >= 0) d else (p + Math.PI) - (q - Math.PI)
  }

  def addPoint(latRad: Double, lngRad: Double): LatLngRect = {
    val nLatLo = if (latEmpty) latRad else Math.min(latLo, latRad)
    val nLatHi = if (latEmpty) latRad else Math.max(latHi, latRad)
    val (nLngLo, nLngHi) =
      if (latEmpty || lngEmpty) (lngRad, lngRad)
      else if (lngContains(lngRad)) (lngLo, lngHi)
      else {
        val dlo = posDist(lngRad, lngLo)
        val dhi = posDist(lngHi, lngRad)
        if (dlo < dhi) (lngRad, lngHi) else (lngLo, lngRad)
      }
    LatLngRect(nLatLo, nLatHi, nLngLo, nLngHi)
  }

  def union(y: LatLngRect): LatLngRect = {
    if (y.isEmpty) return this
    if (isEmpty) return y
    val nLatLo = Math.min(latLo, y.latLo)
    val nLatHi = Math.max(latHi, y.latHi)
    val (nLo, nHi) = lngUnion(y.lngLo, y.lngHi)
    LatLngRect(nLatLo, nLatHi, nLo, nHi)
  }

  /** S1Interval::Union (public S2 semantics). */
  private def lngUnion(yLo: Double, yHi: Double): (Double, Double) = {
    val yEmpty = yLo - yHi == 2 * Math.PI
    if (yEmpty) return (lngLo, lngHi)
    if (lngEmpty) return (yLo, yHi)
    if (lngContains(yLo)) {
      if (lngContains(yHi)) {
        // either this contains y, or union is full: y is contained iff
        // walking forward from lo, y fits inside this interval's length
        val thisLen = if (lngInverted) lngHi - lngLo + 2 * Math.PI else lngHi - lngLo
        val yLen = if (yLo > yHi) yHi - yLo + 2 * Math.PI else yHi - yLo
        if (posDist(lngLo, yLo) + yLen <= thisLen) (lngLo, lngHi)
        else (-Math.PI, Math.PI) // full
      } else (lngLo, yHi)
    } else if (lngContains(yHi)) (yLo, lngHi)
    else {
      // disjoint or y contains this
      val yContains = {
        val c = (p: Double) => if (yLo > yHi) p >= yLo || p <= yHi else p >= yLo && p <= yHi
        c(lngLo)
      }
      if (yContains) (yLo, yHi)
      else {
        val dlo = posDist(yHi, lngLo)
        val dhi = posDist(lngHi, yLo)
        if (dlo < dhi) (yLo, lngHi) else (lngLo, yHi)
      }
    }
  }

  def intersects(y: LatLngRect): Boolean = {
    if (isEmpty || y.isEmpty) return false
    if (latLo > y.latHi || y.latLo > latHi) return false
    // S1Interval::Intersects
    if (lngEmpty || y.lngEmpty) return false
    if (lngInverted) y.lngInverted || y.lngLo <= lngHi || y.lngHi >= lngLo
    else if (y.lngInverted) y.lngLo <= lngHi || y.lngHi >= lngLo
    else y.lngLo <= lngHi && y.lngHi >= lngLo
  }

  def xminDeg: Double = S2Point.rad2deg(lngLo)
  def yminDeg: Double = S2Point.rad2deg(latLo)
  def xmaxDeg: Double = S2Point.rad2deg(lngHi)
  def ymaxDeg: Double = S2Point.rad2deg(latHi)
}

object LatLngRect {
  /** Canonical empty: lat [1, 0], lng [Pi, -Pi]. */
  val Empty: LatLngRect = LatLngRect(1.0, 0.0, Math.PI, -Math.PI)

  /** From degrees, reference s2_box() convention: ymin > ymax -> empty;
    * xmin > xmax -> crosses the antimeridian (inverted lng interval). */
  def fromDegrees(xmin: Double, ymin: Double, xmax: Double, ymax: Double): LatLngRect =
    if (ymin > ymax) Empty
    else LatLngRect(S2Point.deg2rad(ymin), S2Point.deg2rad(ymax),
      S2Point.deg2rad(xmin), S2Point.deg2rad(xmax))

  /** Bound of a geography: union of vertex latitudes/longitudes, expanded
    * to the latitude extrema reached in geodesic edge interiors —
    * S2LatLngRectBounder semantics (a long east-west arc bulges poleward
    * of its endpoints; reference bounds via S2Region::GetRectBound). The
    * reference's goldens for points/polygons pin vertex-extremes
    * (bounds.test:48-82) because their extreme points are vertices. */
  def bound(g: Geography): LatLngRect = {
    var r = Empty
    g.foreachVertex { p => r = r.addPoint(p.latRadians, p.lngRadians) }
    g match {
      case c: Geography.CellCenter if !c.isEmpty =>
        val p = c.point
        r = Empty.addPoint(p.latRadians, p.lngRadians)
      case _: Geography.Polylines | _: Geography.Polygons | _: Geography.Collection if !r.isEmpty =>
        val shapes = new GeoShapes(g)
        r = expandForEdgeInteriors(r, shapes)
        // a polygon enclosing a pole bounds to the pole with full longitude
        // (S2Polygon::GetRectBound pole handling)
        if (shapes.hasPolygons) {
          if (shapes.polygonContains(S2Point(0, 0, 1)))
            r = LatLngRect(r.latLo, Math.PI / 2, -Math.PI, Math.PI)
          if (shapes.polygonContains(S2Point(0, 0, -1)))
            r = LatLngRect(-Math.PI / 2, r.latHi, -Math.PI, Math.PI)
        }
      case _ => ()
    }
    r
  }

  /** Widen the latitude interval to cover geodesic edge interiors.
    *
    * For edge (a,b) with great-circle normal n = a x b, latitude along the
    * arc is stationary where the direction vector dir = n x z (in the edge's
    * plane, through the equator) is orthogonal to the position — so a
    * min/max is interior iff (dir . a) and (dir . b) have opposite signs,
    * and the extreme |latitude| of the full great circle is
    * acos(|n_z| / |n|). dir . a < 0 means the arc tops out at +absLat,
    * otherwise it bottoms out at -absLat (S2LatLngRectBounder::AddPoint). */
  private def expandForEdgeInteriors(r0: LatLngRect, shapes: GeoShapes): LatLngRect = {
    var latLo = r0.latLo
    var latHi = r0.latHi
    shapes.foreachEdge { (a, b) =>
      val n = a.cross(b)
      val n2 = n.norm2
      if (n2 > 0) {
        // dir = n x (0,0,1) = (n.y, -n.x, 0)
        val da = n.y * a.x - n.x * a.y
        val db = n.y * b.x - n.x * b.y
        if (da * db < 0) {
          val absLat = Math.acos(Math.min(1.0, Math.abs(n.z) / Math.sqrt(n2)))
          if (da < 0) latHi = Math.max(latHi, absLat)
          else latLo = Math.min(latLo, -absLat)
        }
      }
      true
    }
    LatLngRect(latLo, latHi, r0.lngLo, r0.lngHi)
  }

  /** Box -> WKB polygon; antimeridian-crossing boxes split into a
    * MULTIPOLYGON at +-180 (reference: s2_bounds.cpp:354-453). */
  def toWkbGeography(r: LatLngRect): Geography = {
    if (r.isEmpty) return Geography.Polygons(Vector.empty)
    def ring(x0: Double, y0: Double, x1: Double, y1: Double): Vector[S2Point] =
      Vector((x0, y0), (x1, y0), (x1, y1), (x0, y1))
        .map { case (x, y) => S2Point.fromLatLngDegrees(y, x) }
    val (x0, y0, x1, y1) = (r.xminDeg, r.yminDeg, r.xmaxDeg, r.ymaxDeg)
    if (r.lngInverted)
      Geography.Polygons(Vector(
        Vector(ring(x0, y0, 180.0, y1)),
        Vector(ring(-180.0, y0, x1, y1))))
    else Geography.Polygons(Vector(Vector(ring(x0, y0, x1, y1))))
  }
}
