package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Batch/stream parity (SURVEY.md §5 "streaming twins"): feed the
  * sf0.001 events through a MemoryStream and assert each streaming
  * transform agrees with its batch twin from operators.EventOps. */
class StreamingSpec extends SparkSpec {

  private lazy val batchEvents: Seq[Ev] = {
    graft.Tables.events(spark, SparkSpec.sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
  }

  /** Run a streaming transform over all sf0.001 events in one batch,
    * return the materialized sink table. */
  private def runStream(name: String, mode: String,
      f: DataFrame => DataFrame): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(batchEvents)
    val q = f(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** Batch-truth sessions, excluding each user's last (still open in
    * a stream's state when input ends). */
  private lazy val closedBatchSessions: Set[String] = {
    val batch = graft.operators.EventOps.queries("stream_session")(
      spark, SparkSpec.sf0001)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_id").as("session_id"))
    asSet(batch.join(lastPerUser, Seq("user_id", "session_id"), "left_anti")
      .select("user_id", "n_events", "t_start", "t_end", "total_value"))
  }

  test("tumbling: stream == batch") {
    val stream = runStream("t_tumbling", "complete",
      Streams.tumbling)
    val batch = graft.operators.EventOps.queries("stream_tumbling")(
      spark, SparkSpec.sf0001)
    assert(asSet(stream) == asSet(batch))
  }

  test("sliding: stream == batch") {
    val stream = runStream("t_sliding", "complete", Streams.sliding)
    val batch = graft.operators.EventOps.queries("stream_sliding")(
      spark, SparkSpec.sf0001)
    assert(asSet(stream) == asSet(batch))
  }

  test("session_window: stream == batch lag+running-sum sessionization") {
    val stream = runStream("t_session", "complete", Streams.session)
    val batch = graft.operators.EventOps.queries("stream_session")(
      spark, SparkSpec.sf0001)
      .select("user_id", "n_events", "t_start", "t_end", "total_value")
    assert(asSet(stream) == asSet(batch))
  }

  test("flatMapGroupsWithState sessions == batch sessions minus open ones") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(batchEvents)
    val typed = ms.toDF().as[EventRow]
    val q = Streams.statefulSessions(typed).writeStream
      .format("memory").queryName("t_stateful").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = asSet(spark.table("t_stateful"))
    assert(streamed == closedBatchSessions)
  }

  test("stateful sessions carry state ACROSS micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // Feed the same events in TWO micro-batches split mid-stream; the
    // closed-session output must equal the single-batch run — i.e.
    // open sessions survive in state and close correctly later.
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.statefulSessions(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_stateful2").outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val twoBatch = asSet(spark.table("t_stateful2"))
    assert(twoBatch == closedBatchSessions)
  }

  /** Batch-truth per-voyage OD rows (user, o_zone, d_zone, n_points),
    * excluding each vessel's last voyage (still open in stream state
    * when input ends). Multiset compare — two voyages of one vessel
    * can legitimately share endpoints and size. */
  private lazy val closedBatchVoyages: Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val voyFrame = Window.partitionBy("user_id", "voyage")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ev = graft.Tables.events(spark, SparkSpec.sf0001)
      .withColumn("lat", (col("event_id") * 7919 % 18000) / 100.0 - 90.0)
      .withColumn("lon", (col("event_id") * 104729 % 36000) / 100.0 - 180.0)
      .withColumn("zone",
        graft.functions.Geo.gridCell(col("lat"), col("lon"), 30.0))
      .withColumn("gap_us", unix_micros(col("ts"))
        - unix_micros(lag("ts", 1).over(byUser)))
      .withColumn("is_new", when(col("gap_us").isNull
        || col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("voyage", sum("is_new").over(byUser))
      .withColumn("o_zone", first("zone").over(voyFrame))
      .withColumn("d_zone", last("zone").over(voyFrame))
      .groupBy("user_id", "voyage", "o_zone", "d_zone")
      .agg(count(lit(1)).as("n_points"))
    val lastVoyage = ev.groupBy("user_id")
      .agg(max("voyage").as("voyage"))
    ev.join(lastVoyage, Seq("user_id", "voyage"), "left_anti")
      .select("user_id", "o_zone", "d_zone", "n_points")
      .collect().map(_.mkString("|")).toSeq.sorted
  }

  test("stateful voyages state is O(active vessels): one state row per" +
      " vessel, never per event") {
    // The 100-TB sizing claim behind every flatMapGroupsWithState
    // twin: state grows with the KEY count, not the event count. Feed
    // all sf0.001 events (thousands of rows) across two micro-batches
    // and read the state-store row count from the query progress — it
    // must equal the number of distinct vessels exactly (one open
    // VoyageState each; voyages close by UPDATING state, not adding).
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.statefulVoyages(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_voystate").outputMode("append").start()
    val stateRows =
      try {
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
        q.recentProgress.toSeq
          .filter(_.stateOperators.nonEmpty)
          .map(_.stateOperators.head.numRowsTotal)
      } finally q.stop()
    val vessels = batchEvents.map(_.user_id).distinct.size.toLong
    assert(stateRows.nonEmpty)
    assert(stateRows.last == vessels,
      s"state rows ${stateRows.last} != vessel count $vessels")
    assert(stateRows.max <= vessels,
      s"state transiently exceeded the vessel count: $stateRows")
  }

  test("stateful voyages: closed-voyage OD stream == batch collapse," +
      " across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // single batch
    val ms = MemoryStream[Ev]
    ms.addData(batchEvents)
    val q = Streams.statefulVoyages(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_voyages").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val oneBatch = spark.table("t_voyages")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(oneBatch.nonEmpty && oneBatch == closedBatchVoyages)
    // split mid-stream: open voyages must survive in state
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms2 = MemoryStream[Ev]
    val q2 = Streams.statefulVoyages(ms2.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_voyages2").outputMode("append").start()
    try {
      ms2.addData(b1); q2.processAllAvailable()
      ms2.addData(b2); q2.processAllAvailable()
    } finally q2.stop()
    val twoBatch = spark.table("t_voyages2")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(twoBatch == closedBatchVoyages)
  }

  test("stateful zone entries: entry stream aggregates to the batch" +
      " rising-edge counts, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val batchEntries = graft.operators.GeoOps.queries("geo_zone_entries")(
      spark, SparkSpec.sf0001)
      .collect().map(_.mkString("|")).toSeq.sorted
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.statefulZoneEntries(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_zentries").outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_zentries")
      .groupBy("zone")
      .agg(count(lit(1)).as("n_entries"),
        countDistinct("user_id").as("n_users"))
      .orderBy("zone")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(streamed.nonEmpty && streamed == batchEntries,
      "streamed zone entries diverge from the batch rising-edge counts")
  }

  test("stateful gap fill: LOCF stream == batch window, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val batchLocf = graft.operators.Windows.queries("window_gap_fill")(
      spark, SparkSpec.sf0001)
      .collect().map(_.mkString("|")).toSeq.sorted
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.statefulGapFill(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_locf").outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_locf")
      .select("user_id", "event_id", "event_type", "last_purchase_value")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(streamed.nonEmpty && streamed == batchLocf,
      "streamed LOCF diverges from the batch window")
  }

  test("stateful late-event guard: a cross-batch straggler is dropped," +
      " not merged into open state") {
    // The hazard the guard exists for (round-8 review brief): a
    // straggler arriving in a LATER micro-batch with event time
    // before the key's stored high-water mark must be ignored. Pre-
    // guard behavior: its negative gap "extended" the open voyage /
    // session and dragged last (and d_zone) backwards.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(id: Long, minute: Int, typ: String) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        1L, typ, 1.0)
    // batch 1: reports at 10:00, 10:10, 10:20; batch 2: a straggler
    // at 10:05 plus a 10:25 continuation, then a gap-closer at 12:00
    val b1 = Seq(ev(1, 0, "view"), ev(2, 10, "view"), ev(3, 20, "view"))
    val b2 = Seq(ev(4, 5, "click"), ev(5, 25, "view"))
    val b3 = Seq(ev(6, 120 + 0, "view")) // 12:00 closes the session
    val msV = MemoryStream[Ev]
    val qV = Streams.statefulVoyages(msV.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_late_voy").outputMode("append").start()
    try {
      msV.addData(b1); qV.processAllAvailable()
      msV.addData(b2); qV.processAllAvailable()
      msV.addData(b3); qV.processAllAvailable()
    } finally qV.stop()
    val voy = spark.table("t_late_voy").collect()
    // one closed voyage: the 4 RETAINED reports (straggler dropped),
    // destination zone = the 10:25 report's zone, not the straggler's
    assert(voy.length == 1)
    assert(voy(0).getLong(3) == 4, s"straggler was merged: ${voy(0)}")
    val msT = MemoryStream[Ev]
    val qT = Streams.statefulTransitions(msT.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_late_trans").outputMode("append").start()
    try {
      msT.addData(b1); qT.processAllAvailable()
      msT.addData(b2); qT.processAllAvailable()
    } finally qT.stop()
    // pairs over retained events only: v->v, v->v, v->v — the click
    // straggler emits nothing
    val trans = spark.table("t_late_trans").collect()
    assert(trans.length == 3 &&
      trans.forall(r => r.getString(1) == "view" && r.getString(2) == "view"),
      s"straggler emitted a transition: ${trans.mkString(";")}")
  }

  test("late-report rule, every twin: a marked twin drops the" +
      " cross-batch straggler as if it never came; the funnel keeps it") {
    // The timeline of the straggler case above: batch 1 reports at
    // 10:00, 10:10, 10:20; batch 2 a 10:05 straggler and a 10:25
    // report; batch 3 a 12:00 gap-closer. The straggler's event_id
    // (17) places it in alpha_basin, where no other report is, so the
    // zone-entry twin would see it too. Each twin's output over the
    // three batches is compared with two references: the same batches
    // without the straggler, and one in-order batch with it.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(id: Long, minute: Int, typ: String) =
      Ev(id, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 10, 0).plusMinutes(minute)),
        1L, typ, 1.0)
    val straggler = ev(17, 5, "click")
    val b1 = Seq(ev(1, 0, "view"), ev(2, 10, "view"), ev(3, 20, "view"))
    val b2 = Seq(straggler, ev(5, 25, "view"))
    val b3 = Seq(ev(6, 120, "view"))
    def run(name: String, twin: Dataset[EventRow] => Dataset[_],
        batches: Seq[Seq[Ev]]): Seq[String] = {
      val ms = MemoryStream[Ev]
      val q = twin(ms.toDF().as[EventRow]).toDF().writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).collect().map(_.mkString("|")).toSeq.sorted
    }
    val twins = Seq[(String, Dataset[EventRow] => Dataset[_], Boolean)](
      ("sessions", Streams.statefulSessions, true),
      ("voyages", Streams.statefulVoyages, true),
      ("transitions", Streams.statefulTransitions, true),
      ("gapfill", Streams.statefulGapFill, true),
      ("zoneentries", Streams.statefulZoneEntries, true),
      ("funnel", Streams.statefulFunnel, false))
    twins.foreach { case (name, twin, marked) =>
      val late = run(s"t_lr_$name", twin, Seq(b1, b2, b3))
      val without = run(s"t_lr_${name}_without", twin,
        Seq(b1, b2.filterNot(_ == straggler), b3))
      val inOrder = run(s"t_lr_${name}_inorder", twin, Seq(b1 ++ b2 ++ b3))
      assert(without != inOrder, s"$name: the straggler changes nothing")
      if (marked) assert(late == without,
        s"$name kept the straggler: ${late.mkString("; ")}")
      else assert(late == inOrder,
        s"$name dropped the straggler: ${late.mkString("; ")}")
    }
  }

  test("statefulVoyages' state store holds VoyageState (oZone, last," +
      " dZone, n), and sum(n) is the open voyages' points") {
    // The ais_stream benchmark reads value.groupState.n from this
    // checkpoint to count the rows left in open voyages; a renamed or
    // wrapped state class would break it and stop old checkpoints
    // from restoring.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-voy-state").toString
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.statefulVoyages(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_voy_store").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val store = spark.read.format("statestore").load(ckpt)
    def struct(t: StructType, f: String) =
      t(f).dataType.asInstanceOf[StructType]
    assert(struct(struct(store.schema, "value"), "groupState").fieldNames
      .toSeq == Seq("oZone", "last", "dZone", "n"))
    assert(store.selectExpr("sum(value.groupState.n)").head().getLong(0)
      == openPoints)
  }

  /** Independent truth for the state store: per vessel, the reports
    * after its last >30-min gap form the voyage still open when input
    * ends. */
  private lazy val openPoints: Long =
    batchEvents.groupBy(_.user_id).values.map { evs =>
      val ts = evs.map(e =>
        e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L).sorted
      ts.size - ts.indices.filter(i => i > 0
        && ts(i) - ts(i - 1) > 1800L * 1000000L).lastOption.getOrElse(0)
    }.sum.toLong

  test("stateful transitions: pair stream aggregates to the batch" +
      " markov matrix, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // batch truth: the counts half of events_markov (probabilities
    // are a deterministic projection of the counts)
    val batchMatrix = graft.operators.EventOps.queries("events_markov")(
      spark, SparkSpec.sf0001)
      .select("from_type", "to_type", "n")
      .collect().map(_.mkString("|")).toSeq.sorted
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.statefulTransitions(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_trans").outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_trans")
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(streamed.nonEmpty && streamed == batchMatrix,
      "streamed transition counts diverge from the batch matrix")
  }

  test("stateful funnel: stage completions == batch funnel, across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streams.statefulFunnel(ms.toDF().as[EventRow]).writeStream
      .format("memory").queryName("t_funnel").outputMode("append").start()
    // two micro-batches split mid-stream: stage state (t1/t2/t3) must
    // survive the boundary for cross-batch conversions to emit
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = asSet(spark.table("t_funnel"))
    // independent sequential truth: first view, first click strictly
    // after it, first purchase strictly after that — per user
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val expected = batchEvents.groupBy(_.user_id).flatMap {
      case (u, evs) =>
        val sorted = evs.sortBy(e => (us(e.ts), e.event_id))
        val t1 = sorted.find(_.event_type == "view").map(_.ts)
        val t2 = t1.flatMap(a => sorted.find(e =>
          e.event_type == "click" && us(e.ts) > us(a)).map(_.ts))
        val t3 = t2.flatMap(b => sorted.find(e =>
          e.event_type == "purchase" && us(e.ts) > us(b)).map(_.ts))
        Seq(t1.map(t => s"$u|1_view|$t"), t2.map(t => s"$u|2_click|$t"),
          t3.map(t => s"$u|3_purchase|$t")).flatten
    }.toSet
    assert(streamed == expected)
    // and the per-stage completion counts equal the DECLARED batch
    // query's user counts
    val batchCounts = graft.operators.EventOps.queries("events_funnel")(
      spark, SparkSpec.sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamCounts = spark.table("t_funnel").groupBy("stage").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batchCounts.filter(_._2 > 0) == streamCounts)
  }

  test("stream-stream interval join: stream == batch (same function)") {
    // intervalJoin is watermark-annotated but batch-applicable
    // (watermarks are a no-op on batch frames) — so the same code IS
    // its own batch twin.
    val stream = runStream("t_ivjoin", "append", Streams.intervalJoin)
    val batch = Streams.intervalJoin(
      graft.Tables.events(spark, SparkSpec.sf0001))
    assert(asSet(stream) == asSet(batch))
    assert(stream.count() > 0) // the fixture actually exercises it
  }

  test("upsert sink: replayed batches converge (exactly-once by idempotence)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-upsert-sink").toString
    val target = s"$base/state"
    def feed(evs: Seq[Ev]): Unit = {
      val ms = MemoryStream[Ev]
      ms.addData(evs)
      // latest value per (user_id, event_type), versioned by event_id
      val q = Streams.upsertSink(
        ms.toDF().select(col("user_id"), col("event_type"),
          col("value"), col("event_id")),
        target, Seq("user_id", "event_type"), "event_id",
        s"$base/ckpt-${evs.hashCode}").start()
      try q.processAllAvailable() finally q.stop()
    }
    val half = batchEvents.take(400)
    feed(half)
    val once = spark.read.parquet(target).collect()
      .map(_.mkString("|")).toSet
    feed(half) // full replay of the same data
    val twice = spark.read.parquet(target).collect()
      .map(_.mkString("|")).toSet
    assert(once == twice, "replay must not change the target")
    // and the state is the per-key latest by version
    val expected = spark.createDataFrame(half)
      .groupBy("user_id", "event_type")
      .agg(max_by(struct(col("value"), col("event_id")),
        col("event_id")).as("s"))
      .select(col("user_id"), col("event_type"),
        col("s.value"), col("s.event_id"))
      .collect().map(_.mkString("|")).toSet
    assert(twice == expected)
  }

  test("file-source stream: tumbling over parquet dir == batch") {
    val src = Streams.eventsStream(spark, SparkSpec.sf0001)
    val q = Streams.tumbling(src).writeStream
      .format("memory").queryName("t_file").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val batch = graft.operators.EventOps.queries("stream_tumbling")(
      spark, SparkSpec.sf0001)
    assert(asSet(spark.table("t_file")) == asSet(batch))
  }

  test("file-source STATEFUL voyages: state + file tracking survive" +
      " AvailableNow restarts across >= 2 file batches") {
    // The deployment shape (round-8 verdict "What's missing" #2): a
    // real directory source, Trigger.AvailableNow, parquet sink,
    // checkpointed state — run to termination, land MORE files,
    // restart. Open voyages must cross the restart through the
    // recovered state store, already-seen files must not replay, and
    // the union of emitted voyages must equal the batch collapse.
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-fsrc-voy").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    def land(evs: Seq[Ev]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(inDir)
      val q = Streams.statefulVoyages(src.as[EventRow]).writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    land(b1); run()
    val afterFirst = spark.read.parquet(outDir).count()
    land(b2); run()
    val all = spark.read.parquet(outDir)
      .collect().map(_.mkString("|")).toSeq.sorted
    // second run emitted only NEW voyages (no replay of batch-1 files)
    assert(all.size.toLong > afterFirst,
      "second file batch emitted nothing")
    assert(all == closedBatchVoyages,
      "file-source stateful voyages diverge from the batch collapse")
  }

  test("file-source STATEFUL zone entries: state + file tracking survive" +
      " AvailableNow restarts across >= 2 file batches") {
    // Same deployment shape as the voyages test above, second custom-
    // state operator (round-9 advice #4 / round-11 verdict #7): the
    // per-vessel inside-set must cross the restart through the
    // recovered state store — a vessel already inside a zone when the
    // first run terminates must NOT re-emit an entry when its next
    // report arrives in run 2, and a genuine later crossing must.
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-fsrc-zent").toString
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    def land(evs: Seq[Ev]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(s"$base/in")
    def run(): Unit = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(s"$base/in")
      val q = Streams.statefulZoneEntries(src.as[EventRow]).writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    land(b1); run()
    val afterFirst = spark.read.parquet(s"$base/out").count()
    land(b2); run()
    val batchEntries = graft.operators.GeoOps.queries("geo_zone_entries")(
      spark, SparkSpec.sf0001)
      .collect().map(_.mkString("|")).toSeq.sorted
    val streamed = spark.read.parquet(s"$base/out")
      .groupBy("zone")
      .agg(count(lit(1)).as("n_entries"),
        countDistinct("user_id").as("n_users"))
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(spark.read.parquet(s"$base/out").count() > afterFirst,
      "second file batch emitted nothing")
    assert(streamed.nonEmpty && streamed == batchEntries,
      "restarted zone-entry stream diverges from the batch rising edges")
  }

  test("file-source STATEFUL gap fill: LOCF state survives AvailableNow" +
      " restarts across >= 2 file batches") {
    // Third custom-state operator through the real directory source:
    // the carried last-purchase value must cross the restart — a user
    // whose last purchase was in file batch 1 must still fill their
    // batch-2 events from recovered state, and already-seen files must
    // not replay (row count == event count exactly).
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-fsrc-locf").toString
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    def land(evs: Seq[Ev]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(s"$base/in")
    def run(): Unit = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(s"$base/in")
      val q = Streams.statefulGapFill(src.as[EventRow]).writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    land(b1); run()
    val afterFirst = spark.read.parquet(s"$base/out").count()
    land(b2); run()
    val batchLocf = graft.operators.Windows.queries("window_gap_fill")(
      spark, SparkSpec.sf0001)
      .collect().map(_.mkString("|")).toSeq.sorted
    val streamed = spark.read.parquet(s"$base/out")
      .select("user_id", "event_id", "event_type", "last_purchase_value")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(streamed.size.toLong > afterFirst,
      "second file batch emitted nothing")
    assert(streamed == batchLocf,
      "restarted LOCF stream diverges from the batch window")
  }

  test("file-source STATEFUL transitions: last-seen-type state survives" +
      " AvailableNow restarts across >= 2 file batches") {
    // Completes the custom-state E2E matrix (all four
    // flatMapGroupsWithState ops now run through the real directory
    // source): a user's last event type from file batch 1 must pair
    // with their first batch-2 event through the recovered state.
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-fsrc-trans").toString
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    def land(evs: Seq[Ev]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(s"$base/in")
    def run(): Unit = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(s"$base/in")
      val q = Streams.statefulTransitions(src.as[EventRow]).writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    land(b1); run()
    val afterFirst = spark.read.parquet(s"$base/out").count()
    land(b2); run()
    val batchMatrix = graft.operators.EventOps.queries("events_markov")(
      spark, SparkSpec.sf0001)
      .select("from_type", "to_type", "n")
      .collect().map(_.mkString("|")).toSeq.sorted
    val streamed = spark.read.parquet(s"$base/out")
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(spark.read.parquet(s"$base/out").count() > afterFirst,
      "second file batch emitted nothing")
    assert(streamed.nonEmpty && streamed == batchMatrix,
      "restarted transition stream diverges from the batch matrix")
  }

  test("checkpointed file sink is exactly-once across restarts") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    def run(): Unit = {
      val q = Streams.tumbling(Streams.eventsStream(spark, SparkSpec.sf0001))
        .writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    run()
    val afterFirst = spark.read.parquet(s"$base/out").count()
    run() // restart from checkpoint: same input -> no new output
    val afterSecond = spark.read.parquet(s"$base/out").count()
    assert(afterFirst == afterSecond,
      s"restart duplicated output: $afterFirst -> $afterSecond")
    // append-mode tumbling emits only watermark-closed windows; the
    // last hour stays open, everything else must be there
    assert(afterFirst > 0)
  }

  test("CRASH RECOVERY: abrupt stop mid-stream, restart from the" +
      " checkpoint drains to the exact batch answer") {
    // The planned AvailableNow restarts above stop cleanly BETWEEN
    // runs; a streaming claim at scale includes an ABRUPT stop while
    // input is still queued (and possibly a micro-batch in flight).
    // Land the events as ~8 files, throttle to one file per
    // micro-batch, and stop() the moment the first batch commits:
    // later files are unprocessed, so the restart must cross the
    // recovered state store, must not replay committed files, and
    // the file sink's manifest must keep any interrupted batch's
    // orphan files invisible (spark.read honors _spark_metadata) —
    // exactly-once end to end.
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-crash-voy").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val nSlices = 8
    val per = math.max(1,
      math.ceil(batchEvents.length / nSlices.toDouble).toInt)
    batchEvents.grouped(per).foreach(evs =>
      evs.toDF().coalesce(1).write.mode("append").parquet(inDir))
    val nFiles = new java.io.File(inDir).list()
      .count(f => f.startsWith("part-"))
    def start(trigger: org.apache.spark.sql.streaming.Trigger) = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
      Streams.statefulVoyages(src.as[EventRow]).writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(trigger)
        .start()
    }
    // run 1: continuous trigger, killed right after the FIRST commit
    val q1 = start(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime + 120L * 1000000000L
    try {
      while (q1.recentProgress.isEmpty && q1.exception.isEmpty
          && System.nanoTime < deadline) Thread.sleep(10)
      q1.exception.foreach(throw _)
    } finally q1.stop()
    // the crash point is only exercised if input remained queued
    val committed = Option(new java.io.File(s"$ckpt/commits").list())
      .map(_.count(!_.startsWith("."))).getOrElse(0)
    assert(committed >= 1, "run 1 never committed a micro-batch")
    assert(committed < nFiles,
      s"run 1 drained all $nFiles file batches before stop() landed" +
        " — the crash point was not exercised (box too fast?)")
    // run 2: drain the remainder from the recovered checkpoint
    val q2 = start(
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q2.awaitTermination() finally q2.stop()
    val all = spark.read.parquet(outDir)
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(all == closedBatchVoyages,
      "crash-recovered stream diverges from the batch collapse")
  }

  test("a checkpoint written under Spark's stock manager, with its" +
      " .crc files, resumes under the engine's manager") {
    // Checkpoints from before the engine installed its own manager
    // carry Hadoop's hidden `.<name>.crc` checksum beside every log
    // entry, delta and snapshot. The first half of the events runs in
    // a clone with the conf unset, on Spark's default manager; the
    // second half resumes under the engine's session.
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ckpt-compat").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    def run(session: org.apache.spark.sql.SparkSession): Unit = {
      val src = session.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(inDir)
      val q = Streams.statefulVoyages(src.as[EventRow]).writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val stock = spark.newSession()
    stock.conf.unset(graft.EngineConf.CheckpointManagerConf)
    val (b1, b2) = batchEvents.splitAt(batchEvents.length / 2)
    b1.toDF().coalesce(1).write.parquet(inDir)
    run(stock)
    def crcs(dir: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$ckpt/$dir"))
        .iterator().asScala.map(_.getFileName.toString)
        .count(n => n.startsWith(".") && n.endsWith(".crc"))
    }
    assert(crcs("commits") > 0 && crcs("state") > 0,
      "the stock manager wrote no checksum files")
    b2.toDF().coalesce(1).write.mode("append").parquet(inDir)
    run(spark)
    val all = spark.read.parquet(outDir)
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(all == closedBatchVoyages,
      "the resumed stream diverges from the batch collapse")
    assert(spark.read.format("statestore").load(ckpt)
      .selectExpr("sum(value.groupState.n)").head().getLong(0) == openPoints)
    graft.Cache.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("dedup: stream emits one row per (user_id, event_type) key") {
    val stream = runStream("t_dedup", "append", Streams.dedup)
    val batch = graft.operators.EventOps.queries("stream_dedup")(
      spark, SparkSpec.sf0001)
    // Keys must match exactly; survivor choice within a micro-batch is
    // arrival-order-dependent, so compare key sets + cardinality.
    val sKeys = asSet(stream.select("user_id", "event_type"))
    val bKeys = asSet(batch.select("user_id", "event_type"))
    assert(sKeys == bKeys)
    assert(stream.count() == batch.count())
  }
}
