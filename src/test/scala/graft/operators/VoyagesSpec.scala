package graft.operators

import graft.SparkSpec
import graft.streaming.{EventRow, Streams}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The voyage kernel's dialects agree with each other: the 30-minute
  * gap boundary is the same in every batch and streaming consumer,
  * and the Column position rules equal their Scala twins. */
class VoyagesSpec extends SparkSpec with BeforeAndAfterAll {

  /** The dirs [[eventsDir]] made: deleted after the suite, with the
    * artifacts (`geo.track`) published for them. */
  private val dirs = scala.collection.mutable.Set.empty[String]

  override def afterAll(): Unit = {
    dirs.foreach { d =>
      graft.Cache.deleteRecursively(java.nio.file.Paths.get(d))
      graft.Cache.deleteRecursively(graft.Cache.sharedRootOf(d))
    }
    super.afterAll()
  }

  /** Writes `rows` (event_id, µs, user_id) as an events table in a
    * new temp dir. */
  private def eventsDir(tag: String, rows: Seq[(Long, Long, Long)]): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    dirs += dir
    rows.toDF("event_id", "us", "user_id")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** Two vessels, two reports each, written as an events table:
    * vessel 1's reports are exactly the voyage gap apart (one voyage),
    * vessel 2's one µs more (two voyages). */
  private lazy val boundaryDir: String = {
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val gap = 1800000000L
    eventsDir("graft-voyage-gap", Seq((1L, t0, 1L), (2L, t0 + gap, 1L),
      (3L, t0, 2L), (4L, t0 + gap + 1L, 2L)))
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

  test("reports of one vessel that share ts follow the (ts, event_id)" +
      " order in geo_voyages, the OD build and geo_zone_entries") {
    val s = spark
    import s.implicits._
    val t0 = 1704067200000000L
    val minute = 60000000L
    val (zoneName, zoneVerts) = GeoOps.zonePolygons.head
    def inside(e: Long): Boolean = {
      val (px, py) = Voyages.pxpy(e)
      GeoOps.insideOf(zoneVerts, px, py)
    }
    // Vessel 1: a, then b and c at one ts, then d; after a 3-hour
    // gap, e and f at one ts with different zones, so the second
    // voyage's origin and destination are decided by event_id alone.
    val Seq(a, b, c, d, e) = Seq(40001L, 40002L, 40003L, 40004L, 40010L)
    val f = (e + 1 to e + 100).find(Voyages.zoneOf(_) != Voyages.zoneOf(e)).get
    // Vessel 2: x inside the zone, then y (outside) and z (inside)
    // at one ts with y < z: in (ts, event_id) order z re-enters.
    val ins = (0L until 36000L).filter(inside)
    val (x, z) = (ins(0), ins(2))
    val y = (0L until z).find(!inside(_)).get
    val rows = Seq((a, t0, 1L), (b, t0 + minute, 1L), (c, t0 + minute, 1L),
      (d, t0 + 2 * minute, 1L), (e, t0 + 180 * minute, 1L), (f, t0 + 180 * minute, 1L),
      (x, t0, 2L), (y, t0 + minute, 2L), (z, t0 + minute, 2L))
    val dir = eventsDir("graft-voyage-ties", rows)

    /** Each vessel's event_ids in (ts, event_id) order, or with the
      * tie broken the other way. */
    def ordered(tieAsc: Boolean): Map[Long, Seq[(Long, Long)]] =
      rows.groupBy(_._3).map { case (u, rs) =>
        u -> rs.sortBy(r => (r._2, if (tieAsc) r._1 else -r._1))
          .map(r => (r._1, r._2))
      }
    /** Each vessel's voyages as event_id lists. */
    def voyagesOf(tieAsc: Boolean): Map[Long, Seq[Seq[Long]]] =
      ordered(tieAsc).map { case (u, rs) =>
        u -> rs.foldLeft(Vector.empty[Vector[(Long, Long)]]) {
          case (vs, r) if vs.nonEmpty && r._2 - vs.last.last._2 <=
            Voyages.GapMicros => vs.init :+ (vs.last :+ r)
          case (vs, r) => vs :+ Vector(r)
        }.map(_.map(_._1))
      }

    // geo_voyages: points per voyage from the Scala split; lengths
    // from the events-side lineage the track replaced, which orders
    // the hop window by (ts, event_id) directly.
    val got = GeoOps.queries("geo_voyages")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val points = for {
      (u, vs) <- voyagesOf(tieAsc = true).toSeq.sortBy(_._1)
      (v, i) <- vs.zipWithIndex
    } yield (u, i + 1L, v.size.toLong)
    assert(got.map(r => (r._1, r._2, r._3)) == points)
    def lengths(tie: org.apache.spark.sql.Column): Seq[Double] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "voyage").orderBy(col("ts"), tie)
      val ev = Voyages.withPos(graft.Tables.events(spark, dir))
      Voyages.segment(ev)
        .withColumn("prev_lat", lag(col("lat"), 1).over(w))
        .withColumn("prev_lon", lag(col("lon"), 1).over(w))
        .withColumn("hop_km", coalesce(graft.functions.Geo.haversineKm(
          col("prev_lat"), col("prev_lon"), col("lat"), col("lon")), lit(0.0)))
        .groupBy("user_id", "voyage")
        .agg(round(sum("hop_km"), 3).as("km"))
        .orderBy("user_id", "voyage").select("km").as[Double]
        .collect().toSeq
    }
    assert(got.map(_._4) == lengths(col("event_id")))
    assert(got.map(_._4) != lengths(col("event_id").desc),
      "the fixture's tie does not change a voyage length")

    // The OD build: each voyage's first and last zone.
    def od(tieAsc: Boolean): Map[(String, String), Long] =
      voyagesOf(tieAsc).values.flatten.toSeq
        .groupBy(v => (Voyages.zoneOf(v.head), Voyages.zoneOf(v.last)))
        .map { case (k, vs) => k -> vs.size.toLong }
    val gotOd = GeoOps.odMatrixBuild(spark, dir)
      .select("o_zone", "d_zone", "n_voyages").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(gotOd == od(tieAsc = true))
    assert(od(tieAsc = true) != od(tieAsc = false))

    // geo_zone_entries: rising edges of the inside flag per vessel.
    def entries(tieAsc: Boolean): Seq[(String, Long, Long)] =
      GeoOps.zonePolygons.flatMap { case (zn, verts) =>
        val per = ordered(tieAsc).map { case (u, rs) =>
          val flags = rs.map { r =>
            val (px, py) = Voyages.pxpy(r._1)
            GeoOps.insideOf(verts, px, py)
          }
          u -> (false +: flags).sliding(2).count(p => !p(0) && p(1))
        }.filter(_._2 > 0)
        if (per.isEmpty) None
        else Some((zn, per.values.sum.toLong, per.size.toLong))
      }.sortBy(_._1)
    val gotEntries = GeoOps.queries("geo_zone_entries")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(gotEntries == entries(tieAsc = true))
    assert(gotEntries.find(_._1 == zoneName).exists(_._2 >= 2))
    assert(entries(tieAsc = true) != entries(tieAsc = false))

    // The per-hop queries, against Scala references over each
    // vessel's hops (user, prev event_id, event_id, gap µs); the
    // arithmetic is Geo.haversineKm's and Geo.bearingDeg's.
    def hopsOf(tieAsc: Boolean): Seq[(Long, Long, Long, Long)] =
      ordered(tieAsc).toSeq.sortBy(_._1).flatMap { case (u, rs) =>
        rs.sliding(2).collect { case Seq(p, c) =>
          (u, p._1, c._1, c._2 - p._2) }
      }
    def halfUp(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    def hav(p: Long, c: Long): Double = {
      val ((lat1, lon1), (lat2, lon2)) = (Voyages.latLon(p), Voyages.latLon(c))
      val a = math.pow(math.sin(math.toRadians(lat2 - lat1) / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(math.toRadians(lon2 - lon1) / 2), 2)
      2 * 6371.0088 * math.asin(math.sqrt(a))
    }
    def sector(p: Long, c: Long): Long = {
      val ((lat1, lon1), (lat2, lon2)) = (Voyages.latLon(p), Voyages.latLon(c))
      val dLon = math.toRadians(lon2 - lon1)
      val y = math.sin(dLon) * math.cos(math.toRadians(lat2))
      val x = math.cos(math.toRadians(lat1)) * math.sin(math.toRadians(lat2)) -
        math.sin(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.cos(dLon)
      val deg = math.toDegrees(math.atan2(y, x)) % 360
      val bearing = if (deg < 0) (deg + 360) % 360 else deg
      math.floor(halfUp(bearing, 3) / 45).toLong % 8
    }
    /** `f` over each vessel's `hops`, by user. */
    def byUser[T](hops: Seq[(Long, Long, Long, Long)])(
        f: (Long, Seq[(Long, Long, Long, Long)]) => T): Seq[T] =
      hops.groupBy(_._1).toSeq.sortBy(_._1).map(f.tupled)

    def trackLength(tieAsc: Boolean): Seq[(Long, Long, Double)] =
      ordered(tieAsc).toSeq.sortBy(_._1).map { case (u, rs) =>
        (u, rs.size.toLong, halfUp(hopsOf(tieAsc).filter(_._1 == u)
          .map(h => hav(h._2, h._3)).sum, 3))
      }
    assert(GeoOps.queries("geo_track_length")(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq == trackLength(tieAsc = true))
    assert(trackLength(tieAsc = true) != trackLength(tieAsc = false))

    val headings = byUser(hopsOf(tieAsc = true)) { (u, hs) =>
      val (sec, n) = hs.groupBy(h => sector(h._2, h._3)).toSeq
        .map { case (k, v) => (k, v.size.toLong) }.minBy(r => (-r._2, r._1))
      (u, sec, n, hs.size.toLong)
    }
    assert(GeoOps.queries("geo_headings")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq == headings)

    val speed = byUser(hopsOf(tieAsc = true).filter(_._4 > 0)) { (u, hs) =>
      val bad = hs.count(h => hav(h._2, h._3) / (h._4 / 3.6e9) > 500.0).toLong
      (u, hs.size.toLong, bad, halfUp(bad.toDouble / hs.size, 4))
    }
    assert(GeoOps.queries("geo_speed_flags")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq == speed)

    def dwell(tieAsc: Boolean): Seq[(Long, String, Long, Long)] =
      hopsOf(tieAsc).filter(_._4 <= Voyages.GapMicros)
        .groupBy(h => (h._1, Voyages.zoneOf(h._2))).toSeq.sortBy(_._1)
        .map { case ((u, z), hs) =>
          (u, z, hs.map(_._4).sum / 1000000L, hs.size.toLong) }
    assert(GeoOps.queries("geo_zone_dwell")(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSeq == dwell(tieAsc = true))
    assert(dwell(tieAsc = true) != dwell(tieAsc = false))
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
