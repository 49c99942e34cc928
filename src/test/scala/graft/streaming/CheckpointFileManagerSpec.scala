package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, CommitLog, FileContextBasedCheckpointFileManager,
  OffsetSeqLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll

import graft.{EngineConf, ProcessStarts, SparkSpec}

/** The contract of [[LocalCheckpointFileManager]] on local paths, the
  * delegate it picks for other schemes, and the fork-free stream it
  * buys: a `statefulVoyages` replay under the engine's sessions starts
  * no process from Hadoop's file system code. */
class CheckpointFileManagerSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val base = Files.createTempDirectory("graft-ckfm")

  override def afterAll(): Unit = {
    graft.Cache.deleteRecursively(base)
    super.afterAll()
  }

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private def manager(dir: String): LocalCheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir), conf)

  private def dir(name: String): String = {
    val d = base.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(p)), UTF_8)

  /** Spark's temp-file names: `.<name>.<uuid>[.TID<n>].tmp`. */
  private val TempName = """\..+\.[0-9a-f-]{36}(\.TID\d+)?\.tmp""".r

  test("the engine's sessions read and write checkpoints through it") {
    assert(conf.get(EngineConf.CheckpointManagerConf) ==
      classOf[LocalCheckpointFileManager].getName)
    val d = dir("factory")
    assert(CheckpointFileManager.create(new Path(d), conf)
      .isInstanceOf[LocalCheckpointFileManager])
  }

  test("a no-clobber write onto an existing file fails and keeps the" +
      " old bytes") {
    val d = dir("noclobber")
    val fm = manager(d)
    val p = new Path(s"$d/0")
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException](
      write(fm, p, "new", overwrite = false))
    assert(read(s"$d/0") == "old")
    assert(new java.io.File(d).list().toSeq == Seq("0"),
      "the losing write left its temp file")
  }

  test("cancel() leaves neither the target nor the temp file") {
    val d = dir("cancel")
    val fm = manager(d)
    val out = fm.createAtomic(new Path(s"$d/1.delta"), true)
    out.write("partial".getBytes(UTF_8))
    val names = new java.io.File(d).list().toSeq
    assert(names.size == 1 && TempName.matches(names.head), names)
    out.cancel()
    assert(new java.io.File(d).list().isEmpty)
    out.close() // a cancelled stream publishes nothing
    assert(!fm.exists(new Path(s"$d/1.delta")))
  }

  test("an overwrite replaces the file by rename and drops a stale" +
      " Hadoop checksum") {
    val d = dir("overwrite")
    val p = new Path(s"$d/2.snapshot")
    // Written the way Spark's stock manager writes on a local path:
    // through the checksummed file system, with a `.2.snapshot.crc`.
    val fs = FileSystem.getLocal(conf)
    val o = fs.create(p)
    o.write("old bytes".getBytes(UTF_8))
    o.close()
    val crc = new java.io.File(s"$d/.2.snapshot.crc")
    assert(crc.exists)
    val before = Files.newInputStream(java.nio.file.Paths.get(p.toString))
    try {
      write(manager(d), p, "new", overwrite = true)
      // a reader that opened the old file keeps the old inode
      assert(new String(before.readAllBytes(), UTF_8) == "old bytes")
    } finally before.close()
    assert(!crc.exists, "the stale checksum survived the overwrite")
    val in = manager(d).open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new")
    finally in.close()
    assert(new java.io.File(d).list().toSeq == Seq("2.snapshot"))
  }

  test("a temp file that was never closed is not listed as a batch" +
      " file, delta or snapshot") {
    val ckpt = dir("unclosed")
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evs = events.collect().toSeq
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventRow]
    val q = Streams.statefulVoyages(ms.toDS()).writeStream
      .format("memory").queryName("t_ckfm_unclosed").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def openPoints() = spark.read.format("statestore").load(ckpt)
      .selectExpr("sum(value.groupState.n)").head().getLong(0)
    val points = openPoints()
    // Batch 2's logs and version 3 of every state partition, begun
    // and left open, as a writer killed before its close would.
    val stateDirs = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.getName.matches("[0-9]+")).toSeq
    assert(stateDirs.nonEmpty)
    val paths = Seq(s"$ckpt/offsets/2", s"$ckpt/commits/2") ++
      stateDirs.flatMap(d => Seq(s"$d/3.delta", s"$d/3.snapshot"))
    val open = paths.map { p =>
      val out = manager(ckpt).createAtomic(new Path(p), true)
      out.write("torn".getBytes(UTF_8))
      out.flush()
      out
    }
    try {
      assert(new OffsetSeqLog(spark, s"$ckpt/offsets")
        .getLatestBatchId().contains(1L))
      assert(new CommitLog(spark, s"$ckpt/commits")
        .getLatestBatchId().contains(1L))
      stateDirs.foreach { d =>
        val listed = manager(d.toString).list(new Path(d.toString))
          .map(_.getPath.getName).toSeq
        val torn = listed.filter(_.startsWith(".3."))
        assert(torn.size == 2 && torn.forall(TempName.matches(_)), listed)
        assert(!listed.exists(n => n.startsWith("3.")), listed)
      }
      assert(openPoints() == points)
    } finally open.foreach(_.cancel())
    assert(paths.forall(p => !Files.exists(java.nio.file.Paths.get(p))))
  }

  test("a path of another scheme gets Spark's FileContext manager") {
    // viewfs is a non-`file` scheme with a FileContext binding that
    // needs no cluster: a mount table onto a local directory.
    val target = dir("viewfs")
    val c = conf
    c.set("fs.viewfs.mounttable.graft.link./ckpt", s"file://$target")
    val fm = new LocalCheckpointFileManager(new Path("viewfs://graft/ckpt"), c)
    assert(fm.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    write(fm, new Path("viewfs://graft/ckpt/0"), "via viewfs",
      overwrite = false)
    assert(read(s"$target/0") == "via viewfs")
    // local paths, with and without a scheme, take the java.nio manager
    Seq(target, s"file://$target").foreach(p =>
      assert(!manager(p).impl.isInstanceOf[
        FileContextBasedCheckpointFileManager], p))
  }

  /** The sf0.001 events as typed rows. */
  private def events =
    graft.Tables.events(spark, SparkSpec.sf0001)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[EventRow](org.apache.spark.sql.Encoders.product[EventRow])

  /** The sf0.001 events landed as three time-ordered parquet slices. */
  private lazy val slices: String = {
    val in = s"${dir("slices")}/in"
    events.toDF().repartitionByRange(3, col("ts"), col("event_id"))
      .sortWithinPartitions("ts", "event_id")
      .write.parquet(in)
    in
  }

  /** One AvailableNow replay of the slices through `statefulVoyages`
    * in `s`, one slice a micro-batch, into a memory sink; returns the
    * micro-batches that read input. */
  private def replay(s: SparkSession, name: String): Int = {
    val src = s.readStream.schema(s.read.parquet(slices).schema)
      .option("maxFilesPerTrigger", 1).parquet(slices)
      .as[EventRow](org.apache.spark.sql.Encoders.product[EventRow])
    val q = Streams.statefulVoyages(src).writeStream
      .format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", base.resolve(name).toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    s.catalog.dropTempView(name)
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("a checkpointed stream replay starts no process from Hadoop's" +
      " file system code") {
    slices // landed outside the recordings: the parquet writer forks
    val (batches, starts) =
      ProcessStarts.during(replay(spark, "t_ckfm_forks"))
    assert(batches == 3)
    val hadoop = ProcessStarts.fromHadoopFs(starts)
    assert(hadoop.isEmpty, hadoop.map(_.command).mkString("; "))
    // The mutation the count must catch: the same replay in a clone
    // with the conf unset, which falls back to Spark's default manager.
    val stock = spark.newSession()
    stock.conf.unset(EngineConf.CheckpointManagerConf)
    val (_, stockStarts) =
      ProcessStarts.during(replay(stock, "t_ckfm_forks_stock"))
    assert(ProcessStarts.fromHadoopFs(stockStarts).nonEmpty,
      "the stock manager forked nothing: the census cannot see forks")
  }
}
