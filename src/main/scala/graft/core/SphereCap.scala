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
    * than a hemisphere). */
  def cell(cv: Array[S2Point]): SphereCap = {
    val c = (cv(0) + cv(1) + cv(2) + cv(3)).normalize
    var cos = 1.0; var sin = 0.0
    cv.foreach { v => cos = Math.min(cos, c.dot(v)); sin = Math.max(sin, c.cross(v).norm) }
    SphereCap(c.x, c.y, c.z, cos, sin)
  }

  /** Is p on a plane that carries cell edges at every level: a coordinate
    * exactly 0 (through the face centres) or two of exactly equal magnitude
    * (the face boundaries)? `S2Pred.sign`'s tie-break can report crossings
    * of disjoint, exactly collinear arcs there, which no cap rules out. */
  def onCellPlane(p: S2Point): Boolean = {
    val ax = Math.abs(p.x); val ay = Math.abs(p.y); val az = Math.abs(p.z)
    ax == 0 || ay == 0 || az == 0 || ax == ay || ay == az || ax == az
  }
}

/** Caps of the edges (a(i), b(i)), stored flat. A guarded edge gets the
  * whole sphere: degenerate (a == b, which `crossingSign` reports as
  * touching everything), near antipodal, or with an endpoint on a cell
  * plane. */
private[core] final class EdgeCaps(a: Array[S2Point], b: Array[S2Point]) {
  private val caps = Array.tabulate(a.length) { i =>
    if (a(i) == b(i) || SphereCap.onCellPlane(a(i)) || SphereCap.onCellPlane(b(i))) SphereCap.Whole
    else SphereCap.arc(a(i), b(i))
  }
  private val (cx, cy, cz) = (caps.map(_.x), caps.map(_.y), caps.map(_.z))
  private val (cos, sin) = (caps.map(_.cos), caps.map(_.sin))
  val anyGuarded: Boolean = caps.exists(_.isWhole)

  def meets(i: Int, c: SphereCap): Boolean =
    SphereCap.meet(cx(i), cy(i), cz(i), cos(i), sin(i), c.x, c.y, c.z, c.cos, c.sin)

  def meets(i: Int, j: Int): Boolean =
    SphereCap.meet(cx(i), cy(i), cz(i), cos(i), sin(i), cx(j), cy(j), cz(j), cos(j), sin(j))
}
