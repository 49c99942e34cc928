package graft.operators

import graft.functions.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Voyage segmentation — the ShippingLanes core operation — and the
  * derived position it runs on, each rule defined ONCE per dialect:
  *  - Spark Columns for the batch queries ([[GeoOps]], [[EventOps]]);
  *  - plain Scala for the streaming twins
  *    ([[graft.streaming.Streams]]);
  *  - DuckDB SQL fragments for the oracles.
  *
  * The rules:
  *  - a report's position is derived from its event_id: two coprime
  *    multipliers walk the event_id space (event_id · prime mod
  *    range, then one exact decimal shift), so consecutive reports hop
  *    pseudo-randomly across the globe at centi-degree resolution —
  *    lat ∈ [-90, 90), lon ∈ [-180, 180). Integer arithmetic plus one
  *    IEEE division, bit-identical in Spark, Scala and DuckDB;
  *  - its zone is the [[Geo.gridCell]] of that position;
  *  - a vessel's reports, in (ts, event_id) order — a total order,
  *    event_id is unique — start a new voyage after a gap of MORE than
  *    30 minutes. The gap is integer µs on every engine.
  *
  * The SQL fragments write their own literals instead of
  * interpolating the Scala ones, so the oracles stay an independent
  * reference: a wrong constant on either side fails the oracle
  * compare. SourceLintSpec keeps these rules out of every other
  * file in `src/main`. */
private[graft] object Voyages {

  /** The voyage gap: a report more than this many µs after its
    * vessel's previous report starts a new voyage. Shared by the
    * Column and the Scala dialect. */
  val GapMicros: Long = 1800L * 1000000L

  // --- Spark Columns ----------------------------------------------------

  /** One vessel's reports in event-time order. */
  def byVessel: WindowSpec =
    Window.partitionBy("user_id").orderBy("ts", "event_id")

  private def latCenti(e: Column): Column = e * 7919 % 18000
  private def lonCenti(e: Column): Column = e * 104729 % 36000
  private def lat(e: Column): Column = latCenti(e) / 100.0 - 90.0
  private def lon(e: Column): Column = lonCenti(e) / 100.0 - 180.0

  /** Adds the derived position of the report whose id is in column
    * `id`, in degrees: `lat`, `lon`, each name prefixed by `prefix`
    * (`withPos(df, "prev_id", "p")` adds the predecessor's `plat`,
    * `plon`; null where the id is). */
  def withPos(df: DataFrame, id: String = "event_id",
      prefix: String = ""): DataFrame = df
    .withColumn(prefix + "lat", lat(col(id)))
    .withColumn(prefix + "lon", lon(col(id)))

  /** Adds the same position as `py`, `px`: integer centi-degrees,
    * (x, y) = (lon·100, lat·100) — what the integer ray cast reads.
    * `id` and `prefix` as in [[withPos]]. */
  def withPxPy(df: DataFrame, id: String = "event_id",
      prefix: String = ""): DataFrame = df
    .withColumn(prefix + "py", latCenti(col(id)) - 9000)
    .withColumn(prefix + "px", lonCenti(col(id)) - 18000)

  /** The grid zone of [[withPos]]'s position at `cellDeg`. */
  def zone(cellDeg: Double): Column =
    Geo.gridCell(col("lat"), col("lon"), cellDeg)

  /** The grid zone at `cellDeg` of the report whose event_id is `e`:
    * [[zone]] without the position columns, for an event_id that an
    * aggregate has already picked. */
  def eventZone(e: Column, cellDeg: Double): Column =
    Geo.gridCell(lat(e), lon(e), cellDeg)

  /** µs since the vessel's previous report; null on its first. The
    * window lags the µs value, not `ts`: converting once per row
    * before the window ran `window_lag_lead` in 0.71 s against 0.90 s
    * for converting the lagged timestamp (sf0.1, 4 cores). */
  def gapUs: Column =
    unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byVessel)

  /** Adds `gap_us` ([[gapUs]]), `is_new` (1 on a voyage's first report,
    * else 0) and `voyage`, the running voyage id per vessel (1, 2, …).
    * Both windows are [[byVessel]], so they share one sort. */
  def segment(df: DataFrame): DataFrame = df
    .withColumn("gap_us", gapUs)
    .withColumn("is_new",
      when(col("gap_us").isNull || col("gap_us") > GapMicros, 1L)
        .otherwise(0L))
    .withColumn("voyage", sum("is_new").over(byVessel))

  // --- plain Scala ------------------------------------------------------
  // event_id is non-negative, so Scala % == SQL %; the division and
  // floor are the same IEEE arithmetic the engines run.

  /** (lat, lon) offsets in centi-degrees from (-90, -180). */
  private def centi(eventId: Long): (Long, Long) =
    (eventId * 7919 % 18000, eventId * 104729 % 36000)

  /** The derived position (lat, lon) in degrees. */
  def latLon(eventId: Long): (Double, Double) = {
    val (la, lo) = centi(eventId)
    (la / 100.0 - 90.0, lo / 100.0 - 180.0)
  }

  /** The 30° zone of the derived position, formatted as
    * [[Geo.gridCell]] formats it. */
  def zoneOf(eventId: Long): String = {
    val (lat, lon) = latLon(eventId)
    s"${math.floor(lat / 30.0).toLong}:${math.floor(lon / 30.0).toLong}"
  }

  /** The derived position as (px, py) integer centi-degrees. */
  def pxpy(eventId: Long): (Long, Long) = {
    val (la, lo) = centi(eventId)
    (lo - 18000, la - 9000)
  }

  // --- DuckDB SQL (oracles) ---------------------------------------------

  private val latCentiSql = "event_id * 7919 % 18000"
  private val lonCentiSql = "event_id * 104729 % 36000"
  private val latSql = s"($latCentiSql) / 100.0 - 90.0"
  private val lonSql = s"($lonCentiSql) / 100.0 - 180.0"

  /** Select items `lat`, `lon` over an events-shaped source. */
  val posSql: String = s"$latSql AS lat,\n    $lonSql AS lon"

  /** Select item `zone`: the 30° grid cell. */
  val zoneSql: String =
    s"CAST(floor(($latSql) / 30.0) AS BIGINT) || ':' ||\n" +
      s"    CAST(floor(($lonSql) / 30.0) AS BIGINT) AS zone"

  /** Select items `py`, `px`. */
  val pxpySql: String =
    s"$latCentiSql - 9000 AS py,\n    $lonCentiSql - 18000 AS px"

  /** The distinct (user_id, 30° zone, hour) presence cells of events. */
  val presenceSql: String =
    s"SELECT DISTINCT user_id,\n    $zoneSql,\n" +
      "    date_trunc('hour', ts) AS hr\n  FROM events"

  /** Select item `gap_us`: µs since the vessel's previous report;
    * NULL on its first. */
  val gapSql: String =
    "epoch_us(ts) - lag(epoch_us(ts)) OVER\n" +
      "      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us"

  /** CTE `seg` over `src` (user_id, ts, event_id, …): adds `gap_us`
    * and `is_new`. No leading WITH or comma. */
  def segSql(src: String): String =
    s"""seg AS (
       |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
       |      THEN 1 ELSE 0 END AS is_new
       |  FROM (SELECT *, $gapSql
       |        FROM $src) t
       |)""".stripMargin

  /** CTEs `seg` and `voy` over `src`: voy adds the running `voyage`
    * id (a HUGEINT in DuckDB). No leading WITH or comma. */
  def segVoySql(src: String): String =
    segSql(src) +
      """, voy AS (
        |  SELECT *, sum(is_new) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS voyage
        |  FROM seg
        |)""".stripMargin
}
