package graft

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** External-sort spill invariance — the one spill path SpillSpec
  * cannot force from a runtime conf.
  *
  * `SortExec` (global sorts, SMJ input sorts, window partition sorts)
  * spills through `UnsafeExternalRowSorter`, whose forced-spill row
  * threshold is the STATIC core conf
  * `spark.shuffle.spill.numElementsForceSpillThreshold`, baked in at
  * SparkContext creation — so the shared test session cannot set it.
  * The forced run happens in a fresh JVM ([[FreshJvm]], entry
  * [[SortSpillSpec.main]]): threshold 64, broadcast disabled so the
  * SMJ input sorts run too. It writes each query's [[RowNorm]] rows
  * and the task-metrics spilled bytes; this spec requires the rows to
  * equal the shared session's at the oracle's 9-significant-digit bar,
  * and the spilled bytes to be > 0 (the knob must bite — the same
  * positive-control discipline as SpillSpec). */
class SortSpillSpec extends SparkSpec {

  /** The forced run's output dir (rewritten by every run) and its
    * spilled bytes. */
  private lazy val forced: (Path, Long) = {
    val out = Files.createDirectories(
      Paths.get("target/test-fixtures/sortspill"))
    val line = FreshJvm.line(FreshJvm.output(FreshJvm.start(
      "graft.SortSpillSpec", SparkSpec.sf0001, out.toString), 600),
      "SORTSPILL")
    val bytes = """"spilled_bytes":(\d+)""".r.findFirstMatchIn(line)
      .getOrElse(fail(s"no spilled_bytes in: $line")).group(1).toLong
    (out, bytes)
  }

  SortSpillSpec.Targets.foreach { name =>
    test(s"$name: identical rows under forced external-sort spilling") {
      val expect = SparkEntry.queries(name)(spark, SparkSpec.sf0001)
        .collect().map(RowNorm.norm).toSeq
      val got = SortSpillSpec.readRows(forced._1.resolve(name))
      assert(expect.nonEmpty, s"$name returns no rows at sf0.001")
      val firstDiff = expect.zipAll(got, "<none>", "<none>")
        .indexWhere { case (e, g) => e != g }
      assert(firstDiff < 0, s"$name diverges under forced spilling at " +
        s"row $firstDiff of ${expect.size} (forced run: ${got.size} rows)")
    }
  }

  test("the forced threshold spills (positive control)") {
    info(s"forced run spilled ${forced._2} bytes")
    assert(forced._2 > 0, "the forced run spilled no bytes: the " +
      "threshold did not bite, so the row checks above prove nothing")
  }
}

object SortSpillSpec {

  /** Sort-heavy representatives: a global multi-key sort, SMJ input
    * sorts (broadcast disabled), window partition sorts, and a
    * sort-based aggregation (percentile needs its group sorted). */
  val Targets = Seq("sort_multikey", "join_inner", "join_asof",
    "window_running", "stream_session", "agg_median_quantile")

  private def writeRows(p: Path, rows: Seq[String]): Unit = {
    val o = new ObjectOutputStream(Files.newOutputStream(p))
    try o.writeObject(rows.toArray) finally o.close()
  }

  private def readRows(p: Path): Seq[String] = {
    val i = new ObjectInputStream(Files.newInputStream(p))
    try i.readObject().asInstanceOf[Array[String]].toSeq finally i.close()
  }

  /** The forced run. Args: `sfDir outDir`. Writes each target's
    * normalized rows to `outDir/<query>` and prints one
    * `SORTSPILL {"spilled_bytes":N}` line. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val s = EngineConf.builder(4)
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "64")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val spilled = new AtomicLong(0)
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          spilled.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    })
    Targets.foreach { n =>
      writeRows(Paths.get(outDir, n),
        SparkEntry.queries(n)(s, sfDir).collect().map(RowNorm.norm).toSeq)
    }
    GraftTestBus.waitUntilEmpty(s.sparkContext)
    println(s"""SORTSPILL {"spilled_bytes":${spilled.get}}""")
    s.stop()
  }
}
