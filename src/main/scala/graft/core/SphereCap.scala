package graft.core

/** A conservative spherical cap: unit center plus the cos and sin of its
  * radius; cos -1 is the whole sphere. Caps bound edges, cells and regions
  * so that edge tests that cannot hit are skipped (`RegionCoverer`,
  * `Validation`). Caps reported apart share no point: `meet` carries `Slack`
  * in cos space, far above the rounding of this arithmetic (< 1e-14). */
private[core] final case class SphereCap(x: Double, y: Double, z: Double, cos: Double, sin: Double) {
  def isWhole: Boolean = cos == -1.0
  def meets(o: SphereCap): Boolean = SphereCap.meet(x, y, z, cos, sin, o.x, o.y, o.z, o.cos, o.sin)
}

private[core] object SphereCap {
  final val Slack = 1e-12
  val Whole = SphereCap(1, 0, 0, -1, 0)

  /** Radii summing to π or more always meet (cos1 + cos2 <= 0). */
  @inline def meet(x1: Double, y1: Double, z1: Double, c1: Double, s1: Double,
                   x2: Double, y2: Double, z2: Double, c2: Double, s2: Double): Boolean =
    c1 + c2 <= 0 || x1 * x2 + y1 * y2 + z1 * z2 >= c1 * c2 - s1 * s2 - Slack

  /** The cap of arc ab: its midpoint, radius half its length (cos |a+b|/2,
    * sin |a-b|/2). Whole when a and b are near antipodal. */
  def arc(a: S2Point, b: S2Point): SphereCap = {
    val m = a + b; val s = m.norm
    if (s < 1e-2) Whole else SphereCap(m.x / s, m.y / s, m.z / s, Math.min(1.0, s / 2), (a - b).norm / 2)
  }

  /** The cap of a cell from its 4 vertices (a cell is convex and smaller
    * than a hemisphere): the normalized vertex sum, the least cos and the
    * largest sin to a vertex. Allocates only the cap. */
  def cell(cv: Array[S2Point]): SphereCap = {
    val sx = cv(0).x + cv(1).x + cv(2).x + cv(3).x
    val sy = cv(0).y + cv(1).y + cv(2).y + cv(3).y
    val sz = cv(0).z + cv(1).z + cv(2).z + cv(3).z
    val n = Math.sqrt(sx * sx + sy * sy + sz * sz)
    val x = sx / n; val y = sy / n; val z = sz / n
    var cos = 1.0; var sin = 0.0; var k = 0
    while (k < 4) {
      val v = cv(k)
      cos = Math.min(cos, x * v.x + y * v.y + z * v.z)
      val px = y * v.z - z * v.y; val py = z * v.x - x * v.z; val pz = x * v.y - y * v.x
      sin = Math.max(sin, Math.sqrt(px * px + py * py + pz * pz))
      k += 1
    }
    SphereCap(x, y, z, cos, sin)
  }
}

/** Caps of the edges (a(i), b(i)), stored flat. A degenerate edge (a == b,
  * which `crossingSign` reports as touching everything) or a near-antipodal
  * one gets the whole sphere. */
private[core] final class EdgeCaps(a: Array[S2Point], b: Array[S2Point]) {
  private val caps = Array.tabulate(a.length) { i =>
    if (a(i) == b(i)) SphereCap.Whole else SphereCap.arc(a(i), b(i))
  }
  private val (cx, cy, cz) = (caps.map(_.x), caps.map(_.y), caps.map(_.z))
  private val (cos, sin) = (caps.map(_.cos), caps.map(_.sin))
  val anyGuarded: Boolean = caps.exists(_.isWhole)

  def meets(i: Int, c: SphereCap): Boolean =
    SphereCap.meet(cx(i), cy(i), cz(i), cos(i), sin(i), c.x, c.y, c.z, c.cos, c.sin)

  def meets(i: Int, j: Int): Boolean =
    SphereCap.meet(cx(i), cy(i), cz(i), cos(i), sin(i), cx(j), cy(j), cz(j), cos(j), sin(j))
}
