package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** External-sort spill invariance — the one spill path SpillSpec
  * cannot force from a runtime conf.
  *
  * `SortExec` (global sorts, SMJ input sorts, window partition
  * sorts) spills through `UnsafeExternalRowSorter`, whose forced-
  * spill row threshold is the STATIC core conf
  * `spark.shuffle.spill.numElementsForceSpillThreshold`, baked in at
  * SparkContext creation — so the shared-session test suite cannot
  * flip it. This harness completes the spill evidence with two
  * sequential contexts in one JVM:
  *
  *  1. baseline session (defaults) → run the sort-heavy queries,
  *     collect [[RowNorm]]-normalized rows, stop the context;
  *  2. forced session (threshold=64, broadcast disabled so SMJ
  *     input sorts run too) → re-run, require task-metrics spilled
  *     bytes > 0 (the knob must bite — same positive-control
  *     discipline as SpillSpec), and require every query's rows
  *     identical at the oracle's 9-significant-digit bar.
  *
  * Exit 0 = all queries match and spills happened; exit 1 otherwise.
  * Usage: runMain graft.SortSpillCheck [sfDir=/root/testdata/sf0.001]
  */
object SortSpillCheck {

  // Sort-heavy representatives: a global multi-key sort, SMJ input
  // sorts (broadcast disabled), window partition sorts, and a
  // sort-based aggregation (percentile needs its group sorted).
  private val targets = Seq(
    "sort_multikey", "join_inner", "join_asof", "window_running",
    "stream_session", "agg_median_quantile")

  private def session(forced: Boolean): SparkSession = {
    val b = EngineConf.builder(EngineConf.cpus)
    val withConf = if (forced)
      b.config("spark.shuffle.spill.numElementsForceSpillThreshold", "64")
    else b
    val s = withConf.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (forced) {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val base = {
      val s = session(forced = false)
      val r = targets.map(n => n ->
        SparkEntry.queries(n)(s, sfDir).collect().map(RowNorm.norm).toSeq)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      r
    }

    val spilled = new AtomicLong(0)
    val s2 = session(forced = true)
    s2.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          spilled.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    })
    val results = base.map { case (name, expect) =>
      val got = SparkEntry.queries(name)(s2, sfDir)
        .collect().map(RowNorm.norm).toSeq
      val ok = got == expect && expect.nonEmpty
      println(s"""SORTSPILL {"query":"$name","rows":${expect.size},""" +
        s""""match":$ok}""")
      ok
    }
    // LiveListenerBus drains its queues during stop(), so the counter
    // is complete once stop() returns — no test-scope bus accessor
    // needed in main scope.
    s2.stop()
    val bytes = spilled.get
    println(s"""SORTSPILL {"spilled_bytes":$bytes,""" +
      s""""all_match":${results.forall(identity)}}""")
    if (!results.forall(identity)) {
      System.err.println("SortSpillCheck: result mismatch under forced " +
        "external-sort spilling")
      sys.exit(1)
    }
    if (bytes <= 0) {
      System.err.println("SortSpillCheck: forced threshold produced NO " +
        "spills — the control is vacuous, treat as failure")
      sys.exit(1)
    }
  }
}
