package graft.core

/**
 * Exact spherical orientation predicates and edge-crossing tests — the
 * kernel under every spatial predicate (SURVEY.md §2.4).
 *
 * `sign` is S2's `s2pred::Sign` (s2predicates.cc): a triple product with an
 * error bound, then the exact determinant in `BigDecimal`, and when that is
 * exactly 0 the symbolic perturbation of `ExactSign` /
 * `SymbolicallyPerturbedSign` (Simulation of Simplicity, Edelsbrunner &
 * Mücke 1990). Every point gets an infinitesimal perturbation, larger for
 * lexicographically smaller points, so the sign is never 0 for distinct
 * points and stays consistent: swapping two arguments flips it, and
 * exactly collinear, disjoint arcs never cross.
 */
object S2Pred {
  import java.math.BigDecimal

  /** Max rounding error of the triple product for unit-ish vectors. */
  private val MaxDetError = 1.8274e-15

  /** Sign of det(a, b, c) == (a x b) . c : +1 if c is left of edge a->b;
    * 0 only when two of the points are equal. */
  def sign(a: S2Point, b: S2Point, c: S2Point): Int = {
    val det = a.cross(b).dot(c)
    if (det > MaxDetError) 1
    else if (det < -MaxDetError) -1
    else if (a == b || b == c || a == c) 0
    else exactSign(a, b, c)
  }

  /** A vector with exact coordinates (every double is a `BigDecimal`). */
  private type Exact = Array[BigDecimal]

  private def exact(p: S2Point): Exact = Array(new BigDecimal(p.x), new BigDecimal(p.y), new BigDecimal(p.z))

  private def cross(b: Exact, c: Exact): Exact = Array(
    b(1).multiply(c(2)).subtract(b(2).multiply(c(1))),
    b(2).multiply(c(0)).subtract(b(0).multiply(c(2))),
    b(0).multiply(c(1)).subtract(b(1).multiply(c(0))))

  private def dot(a: Exact, v: Exact): BigDecimal =
    a(0).multiply(v(0)).add(a(1).multiply(v(1))).add(a(2).multiply(v(2)))

  @inline private def lexLess(p: S2Point, q: S2Point): Boolean =
    p.x < q.x || (p.x == q.x && (p.y < q.y || (p.y == q.y && p.z < q.z)))

  /** S2's ExactSign for three distinct points: sort them lexicographically
    * by (x, y, z), keeping the sign of the permutation, and take the exact
    * det = a . (b x c), perturbed when it is 0. */
  private def exactSign(p: S2Point, q: S2Point, r: S2Point): Int = {
    var a = p; var b = q; var c = r; var perm = 1
    if (lexLess(b, a)) { val t = a; a = b; b = t; perm = -perm }
    if (lexLess(c, b)) { val t = b; b = c; c = t; perm = -perm }
    if (lexLess(b, a)) { val t = a; a = b; b = t; perm = -perm }
    val xa = exact(a); val xb = exact(b); val xc = exact(c)
    val bc = cross(xb, xc)
    val det = dot(xa, bc).signum
    perm * (if (det != 0) det else perturbedSign(xa, xb, xc, bc))
  }

  /** S2's SymbolicallyPerturbedSign for a < b < c with det(a, b, c) exactly
    * 0: the sign of the first non-zero coefficient of the perturbed
    * determinant, largest perturbation first. The first three are b x c,
    * so points on one coordinate plane resolve without new products. */
  private def perturbedSign(a: Exact, b: Exact, c: Exact, bc: Exact): Int = {
    lazy val ca = cross(c, a)
    var s = bc(2).signum
    if (s == 0) s = bc(1).signum
    if (s == 0) s = bc(0).signum
    if (s == 0) s = ca(2).signum
    if (s == 0) s = c(0).signum
    if (s == 0) s = -c(1).signum
    if (s == 0) s = ca(1).signum
    if (s == 0) s = c(2).signum
    if (s == 0) s = cross(a, b)(2).signum
    if (s == 0) s = -b(0).signum
    if (s == 0) s = b(1).signum
    if (s == 0) s = a(0).signum
    if (s == 0) 1 else s
  }

  /** Deterministic unit vector orthogonal to a (S2::Ortho-style). */
  def ortho(a: S2Point): S2Point = {
    val k = {
      val ax = Math.abs(a.x); val ay = Math.abs(a.y); val az = Math.abs(a.z)
      if (ax < ay) { if (ax < az) 0 else 2 } else { if (ay < az) 1 else 2 }
    }
    val temp = k match {
      case 0 => S2Point(1, 0.0053, 0.00457)
      case 1 => S2Point(0.012, 1, 0.00457)
      case _ => S2Point(0.012, 0.0053, 1)
    }
    a.cross(temp).normalize
  }

  /** True if b is strictly "between" a and c in CCW order around o. */
  def orderedCCW(a: S2Point, b: S2Point, c: S2Point, o: S2Point): Boolean = {
    var sum = 0
    if (sign(b, o, a) >= 0) sum += 1
    if (sign(c, o, b) >= 0) sum += 1
    if (sign(a, o, c) > 0) sum += 1
    sum >= 2
  }

  /** +1 edges AB and CD cross at an interior point; 0 if they share a vertex
    * or a vertex lies exactly on the other edge; -1 no crossing. */
  def crossingSign(a: S2Point, b: S2Point, c: S2Point, d: S2Point): Int = {
    if (a == c || a == d || b == c || b == d) return 0
    val s1 = sign(a, b, c)
    val s2 = sign(a, b, d)
    if (s1 == 0 || s2 == 0) return 0
    if (s1 == s2) return -1
    val s3 = sign(c, d, a)
    val s4 = sign(c, d, b)
    if (s3 == 0 || s4 == 0) return 0
    if (s3 == s4) return -1
    // Reject the antipodal pseudo-crossing: orientation must be consistent.
    if (s1 == s4 && s2 == s3) 1 else -1
  }

  /** S2-style vertex-crossing parity rule for edges sharing a vertex. */
  def vertexCrossing(a: S2Point, b: S2Point, c: S2Point, d: S2Point): Boolean = {
    if (a == b || c == d) return false
    if (a == c) return (b == d) || orderedCCW(ortho(a), d, b, a)
    if (b == d) return orderedCCW(ortho(b), c, a, b)
    if (a == d) return (b == c) || orderedCCW(ortho(a), c, b, a)
    if (b == c) return orderedCCW(ortho(b), d, a, b)
    false
  }

  /** Parity-correct crossing test for point-in-polygon counting. */
  def edgeOrVertexCrossing(a: S2Point, b: S2Point, c: S2Point, d: S2Point): Boolean = {
    val s = crossingSign(a, b, c, d)
    if (s > 0) true
    else if (s < 0) false
    else vertexCrossing(a, b, c, d)
  }

  /** Fixed reference point far from any "nice" geometry (plays the role of
    * S2::Origin in point-in-polygon parity walks). */
  val Origin: S2Point =
    S2Point(0.0045676207723, 0.9987317298375, 0.0502392510902).normalize

  /** Non-perturbed collinearity: the exact determinant det(a, b, c) is
    * EXACTLY zero (c lies on the great circle through a and b). Unlike
    * sign(), no symbolic perturbation — used for collinear arc-interval
    * overlap (line-in-line containment), where the perturbed model would
    * declare every interior point "off" the edge. */
  def collinearExact(a: S2Point, b: S2Point, c: S2Point): Boolean =
    Math.abs(a.cross(b).dot(c)) <= MaxDetError && dot(exact(a), cross(exact(b), exact(c))).signum == 0

  /** Tolerant near-collinearity: c within ~1e-12 rad of the great circle
    * through a and b. Rounded lon/lat->XYZ coordinates put nominally
    * collinear points (same meridian/segment) a few ulp off the plane, so
    * overlap-degeneracy guards (overlay crossing collection, proper-cross
    * containment checks) need a tolerance where the line-containment
    * algebra deliberately uses [[collinearExact]]. */
  def nearCollinear(a: S2Point, b: S2Point, c: S2Point): Boolean = {
    val n = a.cross(b)
    val nn = n.norm
    nn < 1e-30 || Math.abs(c.dot(n)) / nn <= 1e-12
  }

  /** True if point p is exactly on the closed edge ab (endpoints included). */
  def pointOnEdge(p: S2Point, a: S2Point, b: S2Point): Boolean = {
    if (p == a || p == b) return true
    if (sign(a, b, p) != 0) return false
    // p on great circle AB: on the arc iff within the wedge.
    p.dot(a) > a.dot(b) - 1e-15 && p.dot(b) > a.dot(b) - 1e-15 &&
      (p.dot(a + b) > 0)
  }
}

/** A closed loop on the sphere with S2-style point containment. */
final class S2Loop(val vertices: Array[S2Point]) extends Serializable {
  import S2Pred._
  private val n = vertices.length

  @inline private def vertex(i: Int): S2Point = vertices(i % n)

  /** Whether S2Pred.Origin is inside — bootstrapped as in S2Loop::Init. */
  val originInside: Boolean = {
    if (n < 3) false
    else {
      val v1Inside = orderedCCW(ortho(vertex(1)), vertex(0), vertex(2), vertex(1))
      // containsWithOrigin(false) computes parity relative to origin-outside.
      if (v1Inside != containsParity(vertex(1))) true else false
    }
  }

  /** Parity of crossings between Origin->p and the loop edges. */
  private def containsParity(p: S2Point): Boolean = {
    var inside = false
    var i = 0
    while (i < n) {
      if (edgeOrVertexCrossing(Origin, p, vertex(i), vertex(i + 1))) inside = !inside
      i += 1
    }
    inside
  }

  /** Interior containment in the parity sense (boundary is arbitrary side;
    * use [[onBoundary]] for CLOSED-model handling). */
  def contains(p: S2Point): Boolean = {
    if (n < 3) return false
    originInside ^ containsParity(p)
  }

  def onBoundary(p: S2Point): Boolean = {
    var i = 0
    while (i < n) {
      if (pointOnEdge(p, vertex(i), vertex(i + 1))) return true
      i += 1
    }
    false
  }

  /** Sum of turn angles; CCW loop area = 2*Pi - curvature. */
  def curvature: Double = {
    var sum = 0.0
    var i = 0
    while (i < n) {
      val a = vertex(i); val b = vertex(i + 1); val c = vertex(i + 2)
      val angle = a.cross(b).angle(b.cross(c))
      sum += (if (sign(a, b, c) > 0) angle else -angle)
      i += 1
    }
    sum
  }

  /** Area on the unit sphere, in [0, 4*Pi). */
  def area: Double = {
    if (n < 3) return 0.0
    val a = 2 * Math.PI - curvature
    if (a < 0) 0.0 else if (a > 4 * Math.PI) 4 * Math.PI else a
  }

  /** True if this loop's area exceeds a hemisphere (i.e. it is "inverted"
    * relative to the usual CCW-smaller-region convention). */
  def isInverted: Boolean = area > 2 * Math.PI

  def reversed: S2Loop = new S2Loop(vertices.reverse)
}
