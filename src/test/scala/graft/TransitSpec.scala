package graft

import graft.functions.Geo
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end ShippingLanes-style transit analytics, composed from
  * the engine's own pieces: AIS-like positions → 30-min-gap voyage
  * segmentation (the stream_session construction) → per-voyage track
  * length (Geo.haversineKm) → zone transit counts (Geo.gridCell).
  * This is the reference's core pipeline shape on synthetic data. */
class TransitSpec extends SparkSpec {

  test("positions -> voyages -> distances -> zone transit counts") {
    val s = spark
    import s.implicits._
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
        + min * 60000L)
    // vessel 9: harbor loop (4 pts), 2h silence, short second voyage.
    // vessel 7: single continuous voyage heading east.
    val pos = Seq(
      (9L, ts(0), 40.70, -74.00), (9L, ts(10), 40.72, -74.01),
      (9L, ts(20), 40.74, -74.02), (9L, ts(30), 40.75, -74.00),
      (9L, ts(150), 40.75, -73.90), (9L, ts(160), 40.76, -73.88),
      (7L, ts(0), 1.30, 103.80), (7L, ts(25), 1.31, 103.95),
      (7L, ts(50), 1.32, 104.10))
      .toDF("vessel", "ts", "lat", "lon")

    // 1. voyage segmentation (identical construction to stream_session)
    val wOrd = Window.partitionBy("vessel").orderBy("ts")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val voyages = pos
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("new_v",
        when(col("prev_ts").isNull
          || unix_micros(col("ts")) - unix_micros(col("prev_ts"))
             > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("voyage", sum("new_v").over(wRun))

    val nVoyages = voyages.groupBy("vessel")
      .agg(max("voyage").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nVoyages(9L) == 2 && nVoyages(7L) == 1)

    // 2. per-voyage track length: haversine over each hop in the
    // voyage (a voyage's first point has no hop)
    val byVoyage = Window.partitionBy("vessel", "voyage").orderBy("ts")
    val tracks = voyages
      .withColumn("hop_km", Geo.haversineKm(
        lag(col("lat"), 1).over(byVoyage), lag(col("lon"), 1).over(byVoyage),
        col("lat"), col("lon")))
      .groupBy(concat_ws("-", col("vessel"), col("voyage")))
      .agg(coalesce(sum("hop_km"), lit(0.0)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(tracks("9-1") > 5 && tracks("9-1") < 15)   // harbor loop ~7km
    assert(tracks("7-1") > 30 && tracks("7-1") < 80)  // ~67km east
    assert(tracks("9-2") > 1 && tracks("9-2") < 5)

    // 3. zone transit counts: distinct voyages seen per grid cell
    val zones = voyages
      .withColumn("cell", Geo.gridCell(col("lat"), col("lon"), 0.1))
      .groupBy("cell")
      .agg(countDistinct(concat_ws("-", col("vessel"), col("voyage")))
        .as("transits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // NYC cell (40.7x, -74.0x) -> lat idx 407, lon idx -740
    assert(zones("407:-740") == 1)
    // vessel 7 crosses three 0.1-deg lon cells on one voyage
    assert(Seq("13:1038", "13:1039", "13:1041")
      .forall(c => zones.getOrElse(c, 0L) <= 1))
    assert(zones.values.sum >= 4)
  }
}
