package graft.core

/**
 * A point on (or near) the unit sphere, as a 3-vector. Geodetic lon/lat on
 * WGS84 with spherical-geodesic edges — the BigQuery GEOGRAPHY data model
 * the reference follows (reference: README.md:97-101).
 */
final case class S2Point(x: Double, y: Double, z: Double) {
  @inline def dot(o: S2Point): Double = x * o.x + y * o.y + z * o.z
  @inline def cross(o: S2Point): S2Point =
    S2Point(y * o.z - z * o.y, z * o.x - x * o.z, x * o.y - y * o.x)
  @inline def +(o: S2Point): S2Point = S2Point(x + o.x, y + o.y, z + o.z)
  @inline def -(o: S2Point): S2Point = S2Point(x - o.x, y - o.y, z - o.z)
  @inline def *(k: Double): S2Point = S2Point(k * x, k * y, k * z)
  @inline def unary_- : S2Point = S2Point(-x, -y, -z)
  @inline def norm2: Double = x * x + y * y + z * z
  @inline def norm: Double = Math.sqrt(norm2)
  def normalize: S2Point = {
    val n = norm
    if (n == 0.0) this else S2Point(x / n, y / n, z / n)
  }
  /** Angle to another unit vector, in radians — numerically stable form. */
  def angle(o: S2Point): Double = Math.atan2(cross(o).norm, dot(o))

  def latRadians: Double = Math.atan2(z, Math.sqrt(x * x + y * y))
  def lngRadians: Double = Math.atan2(y, x)
  def latDegrees: Double = S2Point.rad2deg(latRadians)
  def lngDegrees: Double = S2Point.rad2deg(lngRadians)

  def approxEquals(o: S2Point, tol: Double = 1e-15): Boolean =
    angle(o) <= tol
}

object S2Point {
  /** S1Angle::Degrees / S1Angle::degrees() operand order — differs from
    * Java's Math.toRadians/toDegrees by up to 1 ulp, and the reference's
    * fp goldens pin the S2 order. */
  @inline def deg2rad(d: Double): Double = (Math.PI / 180.0) * d
  @inline def rad2deg(r: Double): Double = (180.0 / Math.PI) * r

  /** Matches S2LatLng::ToPoint order of operations (lat/lng in radians). */
  def fromLatLngRadians(lat: Double, lng: Double): S2Point = {
    val cosLat = Math.cos(lat)
    S2Point(Math.cos(lng) * cosLat, Math.sin(lng) * cosLat, Math.sin(lat))
  }
  def fromLatLngDegrees(latDeg: Double, lngDeg: Double): S2Point =
    fromLatLngRadians(deg2rad(latDeg), deg2rad(lngDeg))
}

/** Cube-face projection: the standard S2 face/(u,v)/(s,t) coordinate maps
  * with the quadratic s<->u transform. */
object S2Proj {
  /** Face 0..5 whose axis has the largest |component|. */
  def xyzToFace(x: Double, y: Double, z: Double): Int = {
    val ax = Math.abs(x); val ay = Math.abs(y); val az = Math.abs(z)
    var f = if (ax > ay) { if (ax > az) 0 else 2 } else { if (ay > az) 1 else 2 }
    val c = f match { case 0 => x; case 1 => y; case _ => z }
    if (c < 0) f += 3
    f
  }

  def validFaceXYZtoUV(face: Int, x: Double, y: Double, z: Double): (Double, Double) =
    face match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case _ => (-y / z, -x / z)
    }

  def faceUVtoXYZ(face: Int, u: Double, v: Double): S2Point = face match {
    case 0 => S2Point(1, u, v)
    case 1 => S2Point(-u, 1, v)
    case 2 => S2Point(-u, -v, 1)
    case 3 => S2Point(-1, -v, -u)
    case 4 => S2Point(v, -1, -u)
    case _ => S2Point(v, u, -1)
  }

  /** `faceUVtoXYZ(face, u, v).normalize`, bit for bit (same coordinates,
    * same operation order), with one allocation instead of two. */
  private[core] def faceUVtoUnit(face: Int, u: Double, v: Double): S2Point = {
    var x = 0.0; var y = 0.0; var z = 0.0
    face match {
      case 0 => x = 1; y = u; z = v
      case 1 => x = -u; y = 1; z = v
      case 2 => x = -u; y = -v; z = 1
      case 3 => x = -1; y = -v; z = -u
      case 4 => x = v; y = -1; z = -u
      case _ => x = v; y = u; z = -1
    }
    val n = Math.sqrt(x * x + y * y + z * z)
    S2Point(x / n, y / n, z / n)
  }

  /** Quadratic projection (S2_QUADRATIC_PROJECTION), the S2 default. */
  @inline def uvToST(u: Double): Double =
    if (u >= 0) 0.5 * Math.sqrt(1 + 3 * u) else 1 - 0.5 * Math.sqrt(1 - 3 * u)

  @inline def stToUV(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4 * s * s - 1)
    else (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))
}
