package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Geo helpers against real-world fixtures (great-circle distances
  * verified against published values). */
class GeoSpec extends SparkSpec {

  // (name, lat, lon)
  private val cities = Seq(
    ("jfk", 40.6413, -73.7781),
    ("lhr", 51.4700, -0.4543),
    ("sin", 1.3644, 103.9915))

  test("haversine: JFK-LHR ~5540 km, JFK-SIN ~15330 km") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (cities(0), cities(1)),
      (cities(0), cities(2))).map { case ((_, la1, lo1), (_, la2, lo2)) =>
      (la1, lo1, la2, lo2)
    }.toDF("lat1", "lon1", "lat2", "lon2")
      .select(Geo.haversineKm(col("lat1"), col("lon1"),
        col("lat2"), col("lon2")).as("km"))
    val kms = df.collect().map(_.getDouble(0))
    assert(math.abs(kms(0) - 5540) < 30, s"JFK-LHR got ${kms(0)}")
    assert(math.abs(kms(1) - 15330) < 60, s"JFK-SIN got ${kms(1)}")
  }

  test("bearing: JFK->LHR starts ~51 deg (NE); reverse ~288 deg") {
    val s = spark
    import s.implicits._
    val df = Seq((cities(0), cities(1)), (cities(1), cities(0)))
      .map { case ((_, la1, lo1), (_, la2, lo2)) => (la1, lo1, la2, lo2) }
      .toDF("lat1", "lon1", "lat2", "lon2")
      .select(Geo.bearingDeg(col("lat1"), col("lon1"),
        col("lat2"), col("lon2")).as("b"))
    val bs = df.collect().map(_.getDouble(0))
    assert(math.abs(bs(0) - 51) < 3, s"JFK->LHR bearing ${bs(0)}")
    assert(math.abs(bs(1) - 288) < 3, s"LHR->JFK bearing ${bs(1)}")
  }

  test("grid cells bin neighbors together, far points apart") {
    val s = spark
    import s.implicits._
    val df = Seq((40.71, -74.00), (40.76, -73.98), (51.47, -0.45))
      .toDF("lat", "lon")
      .select(Geo.gridCell(col("lat"), col("lon"), cellDeg = 1.0).as("c"))
    val cells = df.collect().map(_.getString(0))
    assert(cells(0) == cells(1)) // both NYC points in 1-deg cell
    assert(cells(0) != cells(2))
    assert(cells(0) == "40:-74")
  }
}
