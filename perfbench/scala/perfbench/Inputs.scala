package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input is a function of the seed alone;
  * graft sees only the parquet files written here. */
object Inputs {

  /** Points: 35% uniform on the sphere, the rest in Gaussian clusters
    * (sigma 0.25 degrees) around cities drawn from a Zipf(1.2) law over the
    * cities ranked by population, so that a few S2 cells are hot. Returns
    * (lon, lat) in degrees. */
  def points(seed: Long, n: Int, cities: Seq[(Double, Double)]): (Array[Double], Array[Double]) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val cdf = {
      val w = cities.indices.map(k => 1.0 / math.pow(k + 1, 1.2))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    val lon = new Array[Double](n)
    val lat = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (r.nextDouble() < 0.35) {
        lon(i) = r.nextDouble() * 360.0 - 180.0
        lat(i) = math.toDegrees(math.asin(2.0 * r.nextDouble() - 1.0))
      } else {
        val k = math.min(java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
          case j if j >= 0 => j
          case j => -j - 1
        }, cities.size - 1)
        val (clon, clat) = cities(k)
        val la = math.max(-89.9, math.min(89.9, clat + 0.25 * gaussian(r)))
        val lo = clon + 0.25 * gaussian(r) / math.max(math.cos(math.toRadians(la)), 0.05)
        lon(i) = ((lo + 540.0) % 360.0) - 180.0
        lat(i) = la
      }
      i += 1
    }
    (lon, lat)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** A regular spherical polygon: centre, angular circumradius (radians),
    * vertex count. */
  final case class NGon(id: Long, lon: Double, lat: Double, radius: Double, k: Int) {
    /** Vertices counter-clockwise, each `radius` from the centre. */
    def vertices: Seq[(Double, Double)] = {
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

    def wkt: String = {
      val vs = vertices
      (vs :+ vs.head).map { case (x, y) => f"$x%.9f $y%.9f" }
        .mkString("POLYGON ((", ", ", "))")
    }

    /** Exact area on the unit sphere: k isosceles triangles with legs
      * `radius` and apex angle 2*pi/k, each by the two-sides-and-angle
      * spherical excess formula. Independent of graft. */
    def unitArea: Double = {
      val t = math.tan(radius / 2)
      val c = 2.0 * math.Pi / k
      k * 2.0 * math.atan(t * t * math.sin(c) / (1.0 + t * t * math.cos(c)))
    }
  }

  /** Regular n-gons with 8 to 64 vertices and circumradius 0.05 to 1
    * degrees, centred between 70S and 70N. */
  def polygons(seed: Long, n: Int): IndexedSeq[NGon] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    (0 until n).map { i =>
      NGon(i, r.nextDouble() * 360.0 - 180.0, r.nextDouble() * 140.0 - 70.0,
        math.toRadians(0.05 + 0.95 * r.nextDouble()), 8 + r.nextInt(57))
    }
  }

  /** The required-word list the corpus gate uses: the corpus' own most
    * frequent words. */
  val GateWords: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column", "filter", "merge")

  private val baseWords = GateWords ++ Seq("spark", "window", "table", "vector", "stream", "value",
    "data", "small", "big", "group", "customer", "sort", "order", "slow", "line", "part", "fast",
    "the", "agg", "key", "query", "a")

  /** Base words first, then pronounceable synthetic words. */
  private def vocabulary(size: Int): IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val syl = for (c <- cons; v <- vows) yield s"$c$v"
    val synth = for (a <- syl.iterator; b <- syl.iterator; c <- Iterator("", "n", "r", "s"))
      yield a + b + c
    (baseWords.iterator ++ synth.filterNot(baseWords.toSet)).take(size).toIndexedSeq
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Documents of 40 to 100 words drawn from a Zipf(1.0) law over a
    * 3000-word vocabulary. One in 16 is an exact copy of an earlier
    * document and one in 8 a copy with one or two words replaced, so that
    * near-dedup and 8-gram decontamination have real work. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = vocabulary(3000)
    val cdf = {
      val w = vocab.indices.map(k => 1.0 / (k + 1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val j = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (j >= 0) j else -j - 1, vocab.size - 1))
    }
    val langs = Array("en", "de", "fr", "es", "zh")
    val texts = new Array[Array[String]](n)
    // copies at fixed positions, so every seed has the same number of them
    (0 until n).map { i =>
      val words =
        if (i > 10 && i % 16 == 5) texts(r.nextInt(i))
        else if (i > 10 && i % 8 == 3) {
          val w = texts(r.nextInt(i)).clone()
          (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = word())
          w
        } else Array.fill(40 + r.nextInt(61))(word())
      texts(i) = words
      Doc(i, words.mkString(" "), langs(r.nextInt(langs.length)), s"src${i % 20}")
    }
  }

  def writeDocuments(spark: SparkSession, docs: Seq[Doc], path: String, files: Int): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false), StructField("lang", StringType, false),
      StructField("source", StringType, false), StructField("n_chars", LongType, false)))
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
  }
}
