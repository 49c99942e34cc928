package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Streaming throughput evidence (SCALING.md): drive a checkpointed
  * stateful twin over a scale fixture's events table landed as N
  * time-contiguous parquet file batches — the deployment shape: a
  * directory fed by an ingest job, one file per arrival slice,
  * Trigger.AvailableNow with maxFilesPerTrigger=1 so each slice is
  * one micro-batch. Reports per-micro-batch rows/s and state-store
  * rows (the O(active vessels) pin: state rows must track the vessel
  * count, never the event count), plus end-to-end throughput.
  *
  * Usage: runMain graft.streaming.StreamScale [sfDir] [nBatches] [twin]
  *   twin ∈ voyages | sessions | transitions (default voyages)
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val twin = args.drop(2).headOption.getOrElse("voyages")
    val spark = graft.EngineConf.builder(graft.EngineConf.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base =
      s"/tmp/graft_streamscale/p${ProcessHandle.current().pid()}/$twin"
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(basePath, true)
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"

    // Land the events as nBatches time-contiguous file groups. Range
    // partitioning by ts makes file k hold time slice k — part file
    // names sort in write order, so the source replays history in
    // arrival order, the shape state semantics assume.
    val ev = graft.Tables.events(spark, srcDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    ev.repartitionByRange(nBatches, col("ts"), col("event_id"))
      .sortWithinPartitions("ts", "event_id")
      .write.mode("overwrite").parquet(inDir)
    println(s"StreamScale: $total rows, $users vessels, "
      + s"$nBatches file batches, twin=$twin, src=$srcDir")

    // (batchId, inputRows, rows/s, stateRows, batchMs)
    val progress = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Long, Long)]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) progress.synchronized {
          progress += ((p.batchId, p.numInputRows,
            p.processedRowsPerSecond,
            p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L),
            p.batchDuration))
        }
        ()
      }
    })

    val src = spark.readStream
      .schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .as[EventRow]
    val out = twin match {
      case "voyages" => Streams.statefulVoyages(src)
      case "sessions" => Streams.statefulSessions(src)
      case "transitions" => Streams.statefulTransitions(src)
      case x => sys.error(s"unknown twin '$x'")
    }
    val t0 = System.nanoTime()
    val q = out.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // drain async listener delivery

    println(f"${"batch"}%5s ${"rows"}%10s ${"rows/s"}%12s "
      + f"${"stateRows"}%10s ${"ms"}%7s")
    progress.synchronized {
      progress.foreach { case (b, r, rps, st, ms) =>
        println(f"$b%5d $r%10d $rps%12.0f $st%10d $ms%7d")
      }
      val emitted = spark.read.parquet(outDir).count()
      val sumRows = progress.map(_._2).sum
      val maxState = if (progress.nonEmpty) progress.map(_._4).max else -1L
      println(f"total: $sumRows%d rows in $wall%.1f s = "
        + f"${sumRows / wall}%.0f rows/s end-to-end; emitted $emitted%d; "
        + f"vessels $users%d; max stateRows $maxState%d")
    }
    spark.stop()
  }
}
