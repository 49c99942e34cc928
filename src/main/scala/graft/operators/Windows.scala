package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Category E — window functions (SURVEY.md §2.1.E).
  *
  * Every window is partitioned by an entity key (custkey / user_id /
  * brand), so state at 100 TB is bounded per key and the shuffle is a
  * single hash partition on that key — no global sort. Frames are
  * explicit; window ORDER BYs always carry a unique tiebreak column
  * so results are deterministic across engines.
  */
object Windows {

  val queries: Map[String, Q] = Map(
    // row_number / rank / dense_rank: top-3 latest orders per customer.
    "window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .withColumn("drk", dense_rank().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn", "rk", "drk")
        .orderBy("o_custkey", "rn")
    }),

    // lag/lead offsets: inter-event gap + next event type per user.
    "window_lag_lead" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          Voyages.gapUs.as("gap_us"),
          lead(col("event_type"), 1).over(Voyages.byVessel).as("next_type"))
        .orderBy("event_id")),

    // Cumulative frame: running per-user value total.
    "window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 2).as("run_sum"))
        .orderBy("event_id")
    }),

    // Sliding row frame: 4-row moving average (avg of <=4 2dp values
    // has <=4 decimal digits, so round(4) is an exact grid recovery).
    "window_moving" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          round(avg("value").over(w), 4).as("mov_avg"))
        .orderBy("event_id")
    }),

    // Moving MEDIAN — window_moving's robust twin (the AIS position-
    // smoothing primitive: one teleport report skews a moving mean
    // for its whole frame, a median shrugs it off). percentile as a
    // window aggregate over the same 5-row frame; rounding is safe
    // here by the sharpened tie model: a 5-row frame interpolates
    // only with denominator 2 (binary-representable ties — both
    // engines round them identically).
    "window_median" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          round(expr("percentile(value, 0.5)").over(w), 4)
            .as("mov_median"))
        .orderBy("event_id")
    }),

    // RANGE frame over numeric order: trailing 1-hour value total,
    // keyed on epoch seconds (integer — interval RANGE frames differ
    // across dialects, integer frames are portable).
    "window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_sec")
        .rangeBetween(-3600, 0)
      Tables.events(s, d)
        .withColumn("ts_sec", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          round(sum("value").over(w), 2).as("w_sum"))
        .orderBy("event_id")
    }),

    // ntile: quartile bucketing of customers by balance. A native
    // global ntile(4) has no partition key — Spark moves ALL
    // customers to one task (the single-partition anti-pattern), so
    // this is the events_concurrency two-phase prefix at GLOBAL
    // scope: (1) bucket by floor(acctbal) — monotone in the sort
    // key, so buckets are contiguous runs of the global order and
    // intra-bucket rank + bucket offset = global rank, row for row;
    // (2) per-bucket counts (a tiny ≤ ~11k-row frame, bounded by the
    // fixed acctbal value range, not data size) take an EXCLUSIVE
    // running offset on the one permitted unpartitioned window;
    // (3) a broadcast join re-attaches offsets, then ntile is pure
    // integer arithmetic on the global rank: with N rows and t=4
    // tiles, q = N div t and the first N mod t tiles hold q+1 rows
    // (exactly SQL ntile's split). The (acctbal, custkey) order is
    // total, so the rank — and the oracle hash — is engine-exact.
    "window_ntile" -> ((s, d) => {
      val wIntra = Window.partitionBy("bkt")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val wOff = Window.orderBy(col("bkt").desc)
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"),
          floor(col("c_acctbal")).as("bkt"))
      val offsets = cust.groupBy("bkt").agg(count(lit(1)).as("cnt"))
        .select(col("bkt"),
          coalesce(sum("cnt").over(
            wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("off"),
          sum("cnt").over(wOff.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            .as("total"))
      cust
        .withColumn("grank",
          row_number().over(wIntra).cast("long"))
        .join(broadcast(offsets), "bkt")
        .withColumn("grank", col("grank") + col("off"))
        .select(col("c_custkey"), col("c_acctbal"),
          when(col("grank") <= (col("total") % 4) * (expr("total div 4") + 1),
            expr("(grank - 1) div (total div 4 + 1) + 1"))
            .otherwise(expr(
              "total % 4 + (grank - (total % 4) * (total div 4 + 1) - 1)" +
                " div (total div 4) + 1"))
            .cast("int").as("bal_quartile"))
        .orderBy("c_custkey")
    }),

    // percent_rank / cume_dist: distribution position per nation
    // partition. NOT rounded: both engines IEEE-divide the same
    // integer rank/count, so raw doubles are bit-identical — rounding
    // would actually BREAK parity on exact .5 ties at the rounding
    // digit (Spark HALF_UP vs DuckDB half-even; hit at sf0.1).
    "window_pct" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    }),

    // first/last_value over the full partition frame.
    "window_first_last" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"),
          first("event_type").over(w).as("first_type"),
          last("event_type").over(w).as("last_type"),
          count(lit(1)).over(w).as("n_events"))
        .distinct()
        .orderBy("user_id")
    }),

    // Top-k per group via window + filter.
    "topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      Tables.part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
        .orderBy("p_brand", "rn")
    }),

    // Running DISTINCT count over a window — an aggregate Spark does
    // not support directly (no COUNT(DISTINCT) OVER), expressed with
    // the first-occurrence rewrite: flag each (type, user)'s first
    // event (row_number = 1 over the per-pair window), then a running
    // sum of flags counts exactly the distinct users seen so far. The
    // oracle is DuckDB's NATIVE windowed DISTINCT aggregate — a
    // genuinely independent formulation.
    //
    // The running sum is TWO-PHASE (a distributed prefix sum): a
    // per-type window would cap parallelism at the number of event
    // types (5 here — one task sorts ALL events of a type at 100 TB),
    // so instead (1) an intra-bucket running sum partitions by
    // (event_type, UTC day) — parallelism scales with data, not
    // types; (2) per-bucket flag totals (a tiny types×days frame)
    // get an EXCLUSIVE running offset per type; (3) a broadcast join
    // adds the offset back. Day buckets are order-consistent with
    // (ts, event_id): bucket boundaries are ts-monotonic, so
    // offset + intra-bucket prefix = the global prefix, row for row.
    "window_distinct_users" -> ((s, d) => {
      val wFirst = Window.partitionBy("event_type", "user_id")
        .orderBy("ts", "event_id")
      val wIntra = Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOffset = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val flagged = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      val offsets = flagged
        .groupBy("event_type", "day")
        .agg(sum("first_seen").as("day_total"))
        .withColumn("offset",
          coalesce(sum("day_total").over(wOffset), lit(0L)))
        .select("event_type", "day", "offset")
      flagged
        .withColumn("intra_run", sum("first_seen").over(wIntra))
        .join(broadcast(offsets), Seq("event_type", "day"))
        .select(col("event_id"), col("event_type"),
          (col("intra_run") + col("offset")).as("distinct_users"))
        .orderBy("event_id")
    }),

    // Distribution-position windows: percent_rank ((rk−1)/(n−1)) and
    // cume_dist (rows ≤ current / n) per market segment. Both are
    // UNROUNDED ratios of identical integers — IEEE division is
    // deterministic cross-engine (the tie-model's safe pattern), and
    // the (acctbal, custkey) order is total so ranks never depend on
    // engine sort stability.
    "window_cume_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    }),

    // Gap fill by last observation carried forward (LOCF) — the
    // sensor-feed repair op (a vessel's last KNOWN purchase value at
    // every event): `last(..., ignoreNulls)` over the cumulative
    // per-user frame. The value passes through untouched (no
    // arithmetic, no rounding) so the doubles compare bit-for-bit;
    // rows before a user's first purchase stay NULL, which both
    // engines serialize identically. Same bounded-state shape as
    // every window here: one hash exchange on user_id.
    "window_gap_fill" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("pv",
          when(col("event_type") === "purchase", col("value")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          last("pv", ignoreNulls = true).over(w).as("last_purchase_value"))
        .orderBy("event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn,
        |  CAST(rk AS INTEGER) AS rk, CAST(drk AS INTEGER) AS drk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER w AS rn, rank() OVER w AS rk,
        |    dense_rank() OVER w AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate DESC, o_orderkey ASC)
        |) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "window_lag_lead" ->
      s"""SELECT user_id, event_id,
         | ${Voyages.gapSql},
         | lead(event_type, 1) OVER
         |   (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         |FROM events
         |ORDER BY event_id""".stripMargin,

    "window_running" ->
      """SELECT user_id, event_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM events ORDER BY event_id""".stripMargin,

    "window_moving" ->
      """SELECT user_id, event_id,
        | round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg
        |FROM events ORDER BY event_id""".stripMargin,

    "window_median" ->
      """SELECT user_id, event_id,
        | round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS mov_median
        |FROM events ORDER BY event_id""".stripMargin,

    "window_range_frame" ->
      """SELECT user_id, event_id, ts_sec,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_sec
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS w_sum
        |FROM (SELECT *, epoch_us(ts) // 1000000 AS ts_sec FROM events) e
        |ORDER BY event_id""".stripMargin,

    "window_ntile" ->
      """SELECT c_custkey, c_acctbal,
        | CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
        |   AS INTEGER) AS bal_quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "window_pct" ->
      """SELECT c_custkey, c_nationkey,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,

    // Native windowed DISTINCT — independent of the engine's
    // first-occurrence rewrite. Explicit ROWS frame: the default
    // RANGE frame would include ts-tie peers and diverge.
    "window_distinct_users" ->
      """SELECT event_id, event_type,
        | count(DISTINCT user_id) OVER (
        |   PARTITION BY event_type ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS distinct_users
        |FROM events ORDER BY event_id""".stripMargin,

    "window_first_last" ->
      """SELECT DISTINCT user_id,
        | first_value(event_type) OVER w AS first_type,
        | last_value(event_type) OVER w AS last_type,
        | count(*) OVER w AS n_events
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,

    "topk_per_group" ->
      """SELECT p_brand, p_partkey, p_retailprice,
        |  CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part
        |) t WHERE rn <= 2 ORDER BY p_brand, rn""".stripMargin,

    "window_cume_dist" ->
      """SELECT c_custkey, c_mktsegment,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "window_gap_fill" ->
      """SELECT user_id, event_id, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END
        |    IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin
  )
}
