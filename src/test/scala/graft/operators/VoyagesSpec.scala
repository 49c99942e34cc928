package graft.operators

import graft.SparkSpec
import graft.streaming.{EventRow, Streams}
import org.apache.spark.sql.functions._

/** The voyage kernel's dialects agree with each other: the 30-minute
  * gap boundary is the same in every batch and streaming consumer,
  * and the Column position rules equal their Scala twins. */
class VoyagesSpec extends SparkSpec {

  /** Two vessels, two reports each, written as an events table:
    * vessel 1's reports are exactly the voyage gap apart (one voyage),
    * vessel 2's one µs more (two voyages). */
  private lazy val boundaryDir: String = {
    val s = spark
    import s.implicits._
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val gap = 1800000000L
    val dir = java.nio.file.Files
      .createTempDirectory("graft-voyage-gap").toString
    Seq((1L, t0, 1L), (2L, t0 + gap, 1L),
        (3L, t0, 2L), (4L, t0 + gap + 1L, 2L))
      .toDF("event_id", "us", "user_id")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** Voyages per vessel, counted from rows keyed by (user_id, id). */
  private def perVessel(rows: Seq[(Long, Long)]): Map[Long, Int] =
    rows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).distinct.size }

  test("the gap boundary: exactly 30 min continues a voyage, 1 µs more" +
      " starts one, in every batch and streaming consumer") {
    val s = spark
    import s.implicits._
    val want = Map(1L -> 1, 2L -> 2)

    val voyages = GeoOps.queries("geo_voyages")(spark, boundaryDir)
      .select("user_id", "voyage", "n_points").as[(Long, Long, Long)]
      .collect().toSeq
    assert(voyages == Seq((1L, 1L, 2L), (2L, 1L, 1L), (2L, 2L, 1L)))
    assert(perVessel(voyages.map(r => (r._1, r._2))) == want)

    val sessions = EventOps.queries("stream_session")(spark, boundaryDir)
      .select("user_id", "session_id", "n_events").as[(Long, Long, Long)]
      .collect().toSeq
    assert(sessions == voyages)

    val od = GeoOps.odMatrixBuild(spark, boundaryDir)
      .agg(sum("n_voyages")).as[Long].head()
    assert(od == want.values.sum)

    // The stateful twins emit a voyage or session when the gap that
    // closes it arrives; each vessel's last one stays open in state.
    val ev = graft.Tables.events(spark, boundaryDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
    val closedVoyages = Streams.statefulVoyages(ev).collect().toSeq
    assert(closedVoyages.map(v => (v.user_id, v.n_points)) == Seq((2L, 1L)))
    val closedSessions = Streams.statefulSessions(ev).collect().toSeq
    assert(closedSessions.map(v => (v.user_id, v.n_events)) == Seq((2L, 1L)))
    for (closed <- Seq(closedVoyages.map(_.user_id),
        closedSessions.map(_.user_id))) {
      val streamed = want.keys.map(u => u -> (closed.count(_ == u) + 1)).toMap
      assert(streamed == want)
    }
  }

  test("Column and Scala twins agree on every event_id of the" +
      " position orbit") {
    // lcm(18000, 36000) = 36000: every derived position occurs here
    val rows = Voyages.withPxPy(Voyages.withPos(
        spark.range(0, 36000).withColumnRenamed("id", "event_id")))
      .withColumn("zone", Voyages.zone(30.0))
      .select("event_id", "lat", "lon", "zone", "px", "py")
      .collect()
    assert(rows.length == 36000)
    rows.foreach { r =>
      val e = r.getLong(0)
      val (lat, lon) = Voyages.latLon(e)
      val (px, py) = Voyages.pxpy(e)
      assert((r.getDouble(1), r.getDouble(2)) == ((lat, lon)), s"event $e")
      assert(r.getString(3) == Voyages.zoneOf(e), s"event $e")
      assert((r.getLong(4), r.getLong(5)) == ((px, py)), s"event $e")
    }
  }
}
