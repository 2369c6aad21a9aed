package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz for the kNN join: random point sets (clustered,
  * uniform, polar, duplicate-coordinate) against an in-test haversine
  * brute force. Random doubles make mirror-symmetric exact ties
  * measure-zero, so rank sets must match EXACTLY; duplicate coordinates
  * tie at identical fp values in both computations and resolve by id. */
class KnnFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false)
      .appName("graft-knn-fuzz").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    S2Functions.ensureRegistered(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def hav(aLon: Double, aLat: Double, bLon: Double, bLat: Double): Double = {
    val dLat = math.toRadians(bLat - aLat); val dLon = math.toRadians(bLon - aLon)
    val s = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(aLat)) * math.cos(math.toRadians(bLat)) * math.pow(math.sin(dLon / 2), 2)
    2 * 6371010.0 * math.asin(math.min(1.0, math.sqrt(s)))
  }

  private def brute(left: Seq[(Long, Double, Double)], right: Seq[(Long, Double, Double)],
                    k: Int, excludeSelf: Boolean): Set[(Long, Long, Int)] =
    left.flatMap { case (id, lon, lat) =>
      right.filter(p => !excludeSelf || p._1 != id)
        .map(p => (p._1, hav(lon, lat, p._2, p._3)))
        .sortBy { case (pid, d) => (d, pid) }
        .take(k).zipWithIndex.map { case ((pid, _), i) => (id, pid, i + 1) }
    }.toSet

  test("20 random seeds: knn matches haversine brute force exactly") {
    val s = spark; import s.implicits._
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(120)
      val k = 1 + rnd.nextInt(5)
      val shape = seed % 4
      val pts: Seq[(Long, Double, Double)] = (0 until n).map { i =>
        val (lon, lat) = shape match {
          case 0 => (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
          case 1 => // two tight clusters far apart
            if (i % 2 == 0) (10 + rnd.nextDouble(), 10 + rnd.nextDouble())
            else (-170 + rnd.nextDouble(), -60 + rnd.nextDouble())
          case 2 => // polar cap + equator band
            if (i % 3 == 0) (rnd.nextDouble() * 360 - 180, 88 + rnd.nextDouble() * 1.9)
            else (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 2 - 1)
          case _ => // duplicate coordinates: several ids share a point
            val base = i / 3
            (base * 7.0 - 90 + 0.001, base * 3.0 - 40 + 0.002)
        }
        (i.toLong, lon, lat)
      }
      val df = pts.toDF("id", "lon", "lat")
        .select(col("id"), expr("s2_geogpoint(lon, lat)").as("g"))
      val got =
        KnnJoin.knn(df, "id", "g", df, "id", "g", k,
            pairFilter = Some(col("id") =!= col("nbr_id")))
          .select("id", "nbr_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = brute(pts, pts, k, excludeSelf = true)
      assert(got === want, s"seed=$seed shape=$shape n=$n k=$k")
    }
  }
}
