package graft.core

/** Shared inputs of the covering specs: the bundled countries and cities,
  * and seeded regular n-gons shaped like the benchmark's (8 to 64
  * vertices, circumradius 0.05 to 1 degrees, centred between 70S and 70N). */
object CoveringFixtures {
  private def tsv(path: String): List[Array[String]] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(path), "UTF-8")
    try src.getLines().drop(1).map(_.split('\t')).toList finally src.close()
  }

  /** (name, geography) in file order. */
  lazy val countries: Seq[(String, Geography)] =
    tsv("/graft/countries.tsv").map(a => a(0) -> Wkt.read(a(2)))

  lazy val cities: Seq[(String, Geography)] =
    tsv("/graft/cities.tsv").map(a => a(0) -> Wkt.read(a(2)))

  /** Vertices (lon, lat) of a regular spherical n-gon, counter-clockwise. */
  private def ngonVertices(lon: Double, lat: Double, radius: Double, k: Int): Seq[(Double, Double)] = {
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lon)
    (0 until k).map { i =>
      val brg = -2.0 * math.Pi * i / k
      val p2 = math.asin(math.sin(phi) * math.cos(radius) +
        math.cos(phi) * math.sin(radius) * math.cos(brg))
      val l2 = lam + math.atan2(math.sin(brg) * math.sin(radius) * math.cos(phi),
        math.cos(radius) - math.sin(phi) * math.sin(p2))
      (((math.toDegrees(l2) + 540.0) % 360.0) - 180.0, math.toDegrees(p2))
    }
  }

  /** `n` seeded n-gons as (centre lon, centre lat, polygon). */
  def ngons(seed: Long, n: Int): IndexedSeq[(Double, Double, Geography)] = {
    val r = new java.util.SplittableRandom(seed)
    (0 until n).map { _ =>
      val lon = r.nextDouble() * 360.0 - 180.0
      val lat = r.nextDouble() * 140.0 - 70.0
      val radius = math.toRadians(0.05 + 0.95 * r.nextDouble())
      val vs = ngonVertices(lon, lat, radius, 8 + r.nextInt(57))
      val wkt = (vs :+ vs.head).map { case (x, y) => f"$x%.9f $y%.9f" }
        .mkString("POLYGON ((", ", ", "))")
      (lon, lat, Wkt.read(wkt))
    }
  }
}
