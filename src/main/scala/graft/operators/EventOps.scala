package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Category H — event-stream analytics, batch twins (SURVEY.md §2.1.H).
  *
  * The AIS-domain core: tumbling/sliding time buckets, gap-based
  * sessionization (voyage segmentation), watermark-style late-data
  * filtering, keep-first dedup. Each is a deterministic batch
  * DataFrame op declared against the oracle; graft.streaming.Streams
  * exposes the same transformations over readStream with watermarks.
  *
  * Scale: every op shuffles once on (entity, bucket) keys; session
  * state is per-user (windowed), never global.
  */
object EventOps {

  val queries: Map[String, Q] = Map(
    // 1-hour tumbling counts + sums per event type.
    "stream_tumbling" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("bucket", "event_type")),

    // 1-hour windows sliding every 15 min (each event covered by 4).
    // Spark's window() is epoch-aligned; the oracle reproduces the
    // same alignment with integer microsecond arithmetic.
    "stream_sliding" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("w_start", "event_type")),

    // 30-min-gap sessionization per user — the ShippingLanes transit
    // op: lag -> gap flag -> running-sum session id -> per-session agg.
    // The session is the voyage of [[Voyages.segment]]; its running sum
    // is a RANGE frame, equal to a ROWS frame because (ts, event_id) is
    // a total order.
    "stream_session" -> ((s, d) =>
      Voyages.segment(Tables.events(s, d))
        .groupBy(col("user_id"), col("voyage").as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("t_start"), max("ts").as("t_end"),
          round(sum("value"), 2).as("total_value"))
        .orderBy("user_id", "session_id")),

    // Watermark semantics in batch: drop events older than max(ts)-7d.
    // The max is a 1-row broadcast, not a driver-side collect.
    "stream_late_filter" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val mx = ev.agg(max("ts").as("mx"))
      ev.crossJoin(broadcast(mx))
        .filter(col("ts") >= col("mx") - expr("INTERVAL 7 DAYS"))
        .select("event_id", "ts", "event_type")
        .orderBy("event_id")
    }),

    // Keep-first dedup by (user, type): deterministic survivor pick.
    "stream_dedup" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    }),

    // Per-entity anomaly flagging — the AIS "impossible position
    // report" cleaning op generalized: events whose value sits > 2
    // sample-stddevs from the entity's mean, z-scored. One window
    // partitioned by the entity key (mean/std as full-frame window
    // aggs — no second scan, no join), so it scales by key.
    // Cross-engine note: the 2σ FILTER compares engine-computed
    // floats, so membership could in principle flip for a z within
    // ~1e-13 of the threshold — verified stable on the fixtures at
    // both t2 SFs; demote to no-oracle if a future fixture lands a
    // z on the boundary.
    "events_outliers" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, d)
        .withColumn("mu", avg("value").over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .filter(col("sd") > 0 &&
          abs(col("value") - col("mu")) > lit(2) * col("sd"))
        .select(col("event_id"), col("user_id"), col("value"),
          round((col("value") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy("event_id")
    }),

    // Ordered conversion funnel view → click → purchase: stage k
    // counts users whose earliest qualifying event STRICTLY follows
    // their stage-(k−1) time — sequencing analytics, not mere
    // per-type counts (a purchase before the first view doesn't
    // convert). Three whole-partition min-over-window passes share
    // ONE user_id exchange (unordered frames — no sort); the per-user
    // collapse reuses the same partitioning. The oracle formulates
    // the funnel as chained join+min stages — a genuinely different
    // shape for the same semantics. INTEGER outputs; the strict->
    // ts comparisons are exact (µs-aligned fixture on both engines).
    "events_funnel" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, d)
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click"
            && col("ts") > col("t1"), col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase"
            && col("ts") > col("t2"), col("ts"))).over(w))
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .agg(count("t1").as("v"), count("t2").as("c"), count("t3").as("p"))
        .select(explode(array(
          struct(lit("1_view").as("stage"), col("v").as("n_users")),
          struct(lit("2_click").as("stage"), col("c").as("n_users")),
          struct(lit("3_purchase").as("stage"), col("p").as("n_users"))))
          .as("r"))
        .select(col("r.stage").as("stage"), col("r.n_users").as("n_users"))
        .orderBy("stage")
    }),

    // Robust outlier flagging — events_outliers' MAD twin: flag
    // events whose |value − median| exceeds 3× the user's median
    // absolute deviation. Mean/stddev break down when the outliers
    // themselves inflate the spread (the AIS "one teleport hides the
    // others" failure); medians don't. Both medians are aggregate-
    // as-window over the SAME user_id partition — the two Window
    // nodes share one exchange, exactly the events_outliers shape.
    //
    // The entire comparison runs on an INTEGER lattice: values are
    // 2-dp, so vc2 = 200·value is an exact long, interpolated
    // medians of even longs are exactly-representable doubles, and
    // the flag is the integer test 2·dev2 > 3·mad2 — no float
    // compare anywhere. This is load-bearing, not pedantry: the
    // sf0.1 fixture contains deviations EXACTLY on the 3×MAD
    // boundary (a float-formulated filter would make their
    // membership an engine-dependent ulp coin-flip; the margin-spec
    // approach that guards events_outliers cannot work when the
    // margin is legitimately zero). EventOpsSpec pins that boundary
    // rows exist and are excluded.
    "events_anomaly_mad" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, d)
        .withColumn("vc2", (round(col("value") * 100) * 2).cast("long"))
        .withColumn("med2",
          expr("percentile(vc2, 0.5)").over(w).cast("long"))
        .withColumn("dev2", abs(col("vc2") - col("med2")))
        .withColumn("mad2",
          expr("percentile(dev2 * 2, 0.5)").over(w).cast("long"))
        .filter(col("mad2") > 0
          && col("dev2") * 2 > lit(3) * col("mad2"))
        .select(col("event_id"), col("user_id"), col("value"),
          expr("(20000 * dev2) div mad2").as("z_mad_1e4"))
        .orderBy("event_id")
    }),

    // Inter-arrival gap distribution: per-user report gaps bucketed
    // into whole minutes (integer-µs lag differences, integer `div`)
    // — the feed-health profile that justifies the 30-min session
    // cutoff empirically. One lag window + one partial+final agg on
    // the (bounded) bucket key; INTEGER end to end.
    "events_gap_hist" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("gap_us", Voyages.gapUs)
        .filter(col("gap_us").isNotNull)
        .groupBy(expr("gap_us div 60000000").as("gap_min"))
        .agg(count(lit(1)).as("n"))
        .orderBy("gap_min")),

    // Behavior sequence mining: the event-type TRANSITION MATRIX —
    // per (from, to) pair, how many times type B directly followed
    // type A in some user's stream, plus the row-normalized
    // transition probability. One lead window on user_id + one tiny
    // (types²) aggregate + a types-sized window for the row sums.
    // The probability is emitted as exact integer parts-per-million
    // ((1e6·n) div row_total): a rounded n/total float hits the same
    // HALF_UP-vs-half-even decimal-tie class events_anomaly_mad's z
    // did — counts with only 2s and 5s in their factorization land
    // exactly on round-boundary decimals.
    "events_markov" -> ((s, d) => {
      val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wFrom = Window.partitionBy("from_type")
      Tables.events(s, d)
        .withColumn("next_type", lead("event_type", 1).over(wSeq))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum("n").over(wFrom))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(1000000 * n) div row_total").as("prob_ppm"))
        .orderBy("from_type", "to_type")
    }),

    // Cohort retention: users grouped by first-activity day, distinct
    // actives per (cohort, day-offset) — the engagement matrix every
    // analytics stack computes. Shape (r19 optimization round): the
    // cohort day is a min-over-the-user-partition WINDOW — ONE events
    // scan and ONE user_id exchange feed everything. The previous
    // groupBy-then-join form made `ev` a two-consumer lineage, so the
    // plan scanned events twice and paid a second exchange for the
    // join (plans/r19/events_retention_before.txt). Then one agg on
    // the SMALL (cohort_day, offset) key — days², not users. Integer
    // dates / day arithmetic only — no float hazard anywhere.
    "events_retention" -> ((s, d) => {
      val wUser = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .withColumn("cohort_day", min("day").over(wUser))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Seasonality profile — the (day-of-week × hour-of-day) activity
    // matrix with each cell's share of total traffic in exact
    // integer parts-per-million ((10⁶·n) div total — the
    // events_markov prob_ppm pattern; a rounded float share is the
    // decimal-tie hazard class). Spark dayofweek is 1 = Sunday vs
    // DuckDB's 0 = Sunday — normalized to the 0-origin here, the
    // date_funcs convention (SURVEY §2.0 hazard). One partial+final
    // aggregate on a 168-cell key + a broadcast 1-row total.
    // (r19 optimization round) The total is a PROVABLY-BOUNDED global
    // window over the ≤ 168 aggregated cells — the separate agg +
    // crossJoin(broadcast) made `cells` a two-consumer lineage and
    // re-ran the full events aggregate for the 1-row total; same
    // bounded-global-window class as the events_concurrency day
    // offsets.
    "events_seasonality" -> ((s, d) => {
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .groupBy((dayofweek(col("ts")) - 1).as("dow"),
          hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum("n").over(wAll))
        .select(col("dow"), col("hod"), col("n"),
          expr("(1000000 * n) div total").as("share_ppm"))
        .orderBy("dow", "hod")
    }),

    // Concurrent OPEN SESSIONS at every session boundary — the
    // "how many vessels are underway right now" curve. A GLOBAL
    // running sum has no partition key, so the naive window is the
    // single-partition anti-pattern; this is the two-phase
    // window_distinct_users pattern at GLOBAL scope: intra-DAY
    // running sum (parallel across days) + a broadcast day-offset
    // frame (one tiny serial window over ~#days rows). Boundary
    // semantics are END-EXCLUSIVE: at equal ts the −1 sorts before
    // the +1 (delta asc), so back-to-back sessions never overlap.
    // The boundary frame persists via Cache — the offsets branch
    // would otherwise recompute the whole sessionization (the
    // round-8 ReuseExchange finding).
    "events_concurrency" -> ((s, d) => {
      val bounds = graft.Cache.cached(s, d, "events.concBounds") {
        val sess = queries("stream_session")(s, d)
          .select("user_id", "t_start", "t_end")
        // ONE sessionization pass (r19 optimization round): the
        // union-of-two-selects form referenced `sess` twice, and the
        // cache-build plan duplicated the ENTIRE sessionization
        // subtree per branch (two events scans, two user_id
        // exchanges, four windows — plans/r19/
        // events_concurrency_before.txt; neither static ReuseExchange
        // nor AQE collapses duplicated lineages, the round-8
        // finding). Exploding each session row into its two boundary
        // rows emits the identical row multiset from a single
        // subtree.
        sess.select(col("user_id"), explode(array(
            struct(col("t_start").as("ts"), lit(1L).as("delta")),
            struct(col("t_end").as("ts"), lit(-1L).as("delta")))).as("e"))
          .select(col("e.ts").as("ts"), col("e.delta").as("delta"),
            col("user_id"))
          .withColumn("day", to_date(col("ts")))
      }
      val wIntra = Window.partitionBy("day")
        .orderBy("ts", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bounds.groupBy("day").agg(sum("delta").as("dtot"))
        .withColumn("off", coalesce(sum("dtot").over(wOff), lit(0L)))
        .select("day", "off")
      bounds.withColumn("run", sum("delta").over(wIntra))
        .join(broadcast(offsets), "day")
        .select(col("ts"), col("delta"), col("user_id"),
          (col("off") + col("run")).as("concurrent"))
        .orderBy("ts", "delta", "user_id")
    }),

    // DAU / WAU / stickiness — the activity health metrics: distinct
    // daily actives, distinct trailing-7-day actives per day, and
    // their UNROUNDED ratio (integer-over-integer IEEE division, the
    // safe pattern). The trailing window is the EXPLODE-7 form (the
    // join_range_banded discipline applied to time): each active
    // (day, user) row contributes itself to the 7 window-anchor days
    // it can serve, then a plain distinct count per anchor — 7·n
    // rows and an EQUI join against observed days, instead of the
    // days × rows range-predicate nested loop.
    "events_dau_wau" -> ((s, d) => {
      // ONE aggregation since the r19 optimization round. The
      // dau-then-wau-then-join form made `days` and `dau` each feed
      // two consumers, so the plan re-ran the distinct-days pipeline
      // and the dau aggregate as duplicated lineages (3 events scans,
      // 7 exchanges — plans/r19/events_dau_wau_before.txt). Here each
      // active (day, user) row still explodes to the 7 anchors it can
      // serve, carrying its own day d0; one aggregate then computes
      // dau (distinct users whose d0 IS the anchor) and wau (distinct
      // users in the trailing window) together, and `dau > 0` is
      // exactly the old join-with-observed-days horizon prune (every
      // observed day has ≥ 1 active user by construction).
      Tables.events(s, d)
        .select(to_date(col("ts")).as("d0"), col("user_id"))
        .distinct()
        .select(col("user_id"), col("d0"), explode(expr(
          "transform(sequence(0, 6), k -> date_add(d0, k))")).as("day"))
        .groupBy("day")
        .agg(countDistinct(when(col("d0") === col("day"),
          col("user_id"))).as("dau"),
          countDistinct("user_id").as("wau"))
        .filter(col("dau") > 0)
        .select(col("day"), col("dau"), col("wau"),
          (col("dau").cast("double") / col("wau")).as("stickiness"))
        .orderBy("day")
    }),

    // Longest DAILY ACTIVITY STREAK per user — gaps-and-islands over
    // each user's distinct active days (date − dense row_number is
    // constant within a run of consecutive days): the engagement
    // metric behind "N-day streak" features. Integer outputs; the
    // island key never leaves the user partition.
    "window_streaks" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("grp", expr(
          "date_sub(day, row_number() OVER (PARTITION BY user_id" +
            " ORDER BY day))"))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("max_streak"),
          count(lit(1)).as("n_streaks"),
          sum("len").as("active_days"))
        .orderBy("user_id")
    }),

    // Conversion LATENCY — the time-to-value metric behind the
    // funnel counts: per converting user, whole seconds from their
    // first view to their first strictly-later purchase. Integer-µs
    // arithmetic end to end (`div` to seconds); one per-user agg, a
    // user-keyed join, a second per-user agg — all on the user_id
    // key.
    // (r19 optimization round) The first-view time is a
    // min-over-the-user-partition WINDOW on the purchase/view rows —
    // ONE events scan and ONE user_id exchange replace the old
    // aggregate-then-join form, whose two references to `ev` scanned
    // events twice. The pre-window filter keeps only the two event
    // types either side reads, so the window input stays a subset of
    // the old scan volume.
    "events_conversion_lag" -> ((s, d) => {
      val wUser = Window.partitionBy("user_id")
      Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        .withColumn("fv", min(when(col("event_type") === "view",
          col("t"))).over(wUser))
        .filter(col("event_type") === "purchase"
          && col("fv").isNotNull && col("t") > col("fv"))
        .groupBy("user_id")
        .agg(min("t").as("fp"), min("fv").as("fvv"))
        .select(col("user_id"), expr("(fp - fvv) div 1000000").as("lag_s"))
        .orderBy("user_id")
    })
  )

  /** The session-collapse CTEs (seg → voy → sess), shared by the
    * stream_session oracle and the events_concurrency boundary CTE. */
  private val sessionCtes: String =
    s"WITH ${Voyages.segVoySql("events")}, " +
      """sess AS (
        |  SELECT user_id, CAST(voyage AS BIGINT) AS session_id,
        |    count(*) AS n_events, min(ts) AS t_start, max(ts) AS t_end,
        |    round(sum(value), 2) AS total_value
        |  FROM voy GROUP BY user_id, voyage
        |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,

    "stream_sliding" ->
      """SELECT make_timestamp(s) AS w_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value
        |FROM (
        |  SELECT e.*,
        |    (epoch_us(ts) // 900000000) * 900000000 - k.k * 900000000 AS s
        |  FROM events e
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
        |  WHERE epoch_us(ts) >= s AND epoch_us(ts) < s + 3600000000
        |) t GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "stream_session" -> (sessionCtes +
      "\nSELECT * FROM sess ORDER BY user_id, session_id"),

    // Reuses the session SQL as a CTE; the global running sum is the
    // plain single window here (DuckDB's planner may serialize it —
    // that's the oracle's business; the ENGINE's two-phase form is
    // the graded plan).
    "events_concurrency" ->
      (sessionCtes + ", b AS (\n" +
        """  SELECT t_start AS ts, 1 AS delta, user_id FROM sess
          |  UNION ALL SELECT t_end, -1, user_id FROM sess
          |)
          |SELECT ts, CAST(delta AS BIGINT) AS delta, user_id,
          |  CAST(sum(delta) OVER (ORDER BY ts, delta, user_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS BIGINT) AS concurrent
          |FROM b ORDER BY ts, delta, user_id""".stripMargin),

    "stream_late_filter" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
        |ORDER BY event_id""".stripMargin,

    "stream_dedup" ->
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS rn
        |  FROM events
        |) t WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "events_outliers" ->
      """SELECT event_id, user_id, value, round((value - mu) / sd, 4) AS z
        |FROM (
        |  SELECT *, avg(value) OVER (PARTITION BY user_id) AS mu,
        |    stddev_samp(value) OVER (PARTITION BY user_id) AS sd
        |  FROM events
        |) t
        |WHERE sd > 0 AND abs(value - mu) > 2 * sd
        |ORDER BY event_id""".stripMargin,

    "events_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
        |)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, count(*) AS n_users FROM s1
        |  UNION ALL SELECT '2_click', count(*) FROM s2
        |  UNION ALL SELECT '3_purchase', count(*) FROM s3
        |) f ORDER BY stage""".stripMargin,

    "events_anomaly_mad" ->
      """SELECT event_id, user_id, value,
        |  (20000 * dev2) // mad2 AS z_mad_1e4
        |FROM (
        |  SELECT *, CAST(quantile_cont(dev2 * 2, 0.5)
        |    OVER (PARTITION BY user_id) AS BIGINT) AS mad2
        |  FROM (
        |    SELECT *, abs(vc2 - CAST(quantile_cont(vc2, 0.5)
        |      OVER (PARTITION BY user_id) AS BIGINT)) AS dev2
        |    FROM (SELECT *, CAST(round(value * 100) * 2 AS BIGINT)
        |          AS vc2 FROM events) v
        |  ) a
        |) b
        |WHERE mad2 > 0 AND 2 * dev2 > 3 * mad2
        |ORDER BY event_id""".stripMargin,

    "events_gap_hist" ->
      s"""SELECT gap_us // 60000000 AS gap_min, count(*) AS n
         |FROM (SELECT ${Voyages.gapSql} FROM events) t
         |WHERE gap_us IS NOT NULL
         |GROUP BY 1 ORDER BY gap_min""".stripMargin,

    "events_markov" ->
      """WITH trans AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS n
        |  FROM (
        |    SELECT event_type, lead(event_type, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |    FROM events
        |  ) t WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  CAST((1000000 * n) // sum(n) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS prob_ppm
        |FROM trans ORDER BY from_type, to_type""".stripMargin,

    "events_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1
        |)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, CAST(e.ts AS DATE))
        |    AS INTEGER) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN cohorts c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    "events_dau_wau" ->
      """WITH days AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), dau AS (
        |  SELECT day, count(DISTINCT user_id) AS dau FROM days GROUP BY 1
        |), wau AS (
        |  SELECT d.day, count(DISTINCT x.user_id) AS wau
        |  FROM dau d JOIN days x
        |    ON x.day <= d.day AND x.day >= d.day - 6
        |  GROUP BY 1
        |)
        |SELECT day, dau, wau, CAST(dau AS DOUBLE) / wau AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    "window_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), isl AS (
        |  SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INTEGER) AS grp
        |  FROM days
        |), runs AS (
        |  SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, max(len) AS max_streak,
        |  count(*) AS n_streaks, CAST(sum(len) AS BIGINT) AS active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_seasonality" ->
      """WITH c AS (
        |  SELECT CAST(dayofweek(ts) AS INTEGER) AS dow,
        |    CAST(hour(ts) AS INTEGER) AS hod, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), t AS (SELECT sum(n) AS total FROM c)
        |SELECT dow, hod, n,
        |  CAST((1000000 * n) // total AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN t ORDER BY dow, hod""".stripMargin,

    "events_conversion_lag" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), conv AS (
        |  SELECT p.user_id, min(epoch_us(p.ts)) AS fp, min(f.fv) AS fv
        |  FROM events p JOIN fv f ON p.user_id = f.user_id
        |  WHERE p.event_type = 'purchase' AND epoch_us(p.ts) > f.fv
        |  GROUP BY 1
        |)
        |SELECT user_id, CAST((fp - fv) // 1000000 AS BIGINT) AS lag_s
        |FROM conv ORDER BY user_id""".stripMargin
  )
}
