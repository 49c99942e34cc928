package graft
import org.apache.spark.sql.SparkSession

/** Suite benchmark: times every declared query (count() action) at
  * the driver's session shape and prints ONE JSON line.
  *
  * Methodology (hardened after BENCH_r02):
  *  - Queries run in SORTED key order — reproducible across runs and
  *    rounds, unlike hash-map iteration order.
  *  - Shared cache groups are released on [[Cache.releaseAfter]]'s
  *    schedule, as soon as their last consumer (in sorted order) has
  *    run.
  *  - The 10 most expensive queries get a second timed rep (caches
  *    still warm where applicable), reported separately as "rep2" —
  *    the rep1−rep2 gap attributes shared-cache build cost, and rep2
  *    is the marginal per-query cost a long-lived session would see.
  */
object Bench {

  /** 1-minute load average — ambient-load evidence for the artifact.
    * BENCH_r07 read as a 69% regression until a quiet-box re-run
    * showed it was host load; these fields let the round diff defend
    * itself without a re-run. -1 when /proc is unavailable. */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Median of 3 runs of a FIXED cpu-bound job (2e8-row range sum —
    * no I/O, no shuffle). Identical work every round, so the ratio
    * between two rounds' probes measures the host, not the code. */
  private def microProbe(spark: SparkSession): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = EngineConf.cpus
    val spark = EngineConf.builder(cpus).getOrCreate()
    // ERROR, not WARN: the three provably-bounded global windows
    // (day offsets, bucket offsets, k seed rows) each emit a
    // `WindowExec: No Partition Defined` WARN per execution — ~90% of
    // the bench tail in r14 — which buried the metric line inside the
    // driver's ~2000-char stdout capture. Boundedness is asserted in
    // PlanSpec, so the warning carries no information here.
    spark.sparkContext.setLogLevel("ERROR")
    // Warmup (untimed): primes the scheduler, codegen compiler, and
    // parquet footers so the first timed query isn't charged ~5 s of
    // one-time JVM machinery.
    Tables.names.foreach(n =>
      try { Tables.table(spark, sfDir, n).count() }
      catch { case _: Throwable => () })
    // A throwing query must be VISIBLE in the artifact: BENCH_r10/r11
    // recorded 59 AnalysisException costs (~0.07 s) as if they were
    // query timings, so a breaking regression read as a speedup. A
    // failed query is timed as NEGATIVE elapsed and its name lands in
    // the "errors" list, so no failure can masquerade as fast.
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => errors += name; false }
      val t = (System.nanoTime() - t0) / 1e9
      if (ok) t else -t
    }

    // Opt-in exclusion for off-fixture scale runs ONLY (r18): the
    // declared quadratics (halfPairs consumers, ivfRanked) are
    // contract-excluded from the embeddings scale axis (SCALING.md),
    // and at a 100x catalog they alone would cost hours. An excluded
    // set is stamped into the line AND sidecar, and check.py's
    // _quiet_sidecar_ok REJECTS any stamped-excluded sidecar as a
    // round's full-suite quiet record (r19) — the stamp alone only
    // recorded the exclusion, it did not enforce anything. The driver
    // never sets this.
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val names =
      SparkEntry.queries.keys.toSeq.filterNot(excluded).sorted
    // Interleaved load probes: one single-shot micro-probe run after
    // every SEGMENT queries (plus the pass tail), so ambient load is
    // adjudicable per query FAMILY, not just per run — r14's driver
    // artifact showed the events family ~2x inflated while the run-
    // level probes could only say "the whole run was loaded". Single
    // shot (not median-of-3) keeps the cost ~0.1 s x 8 per pass.
    val segment = 20
    def runPass(): (Seq[(String, Double)], Seq[Double]) = {
      val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val times = names.zipWithIndex.map { case (name, i) =>
        val t = timed(name)
        Cache.releaseAfter(spark, name)
        if ((i + 1) % segment == 0 || i + 1 == names.size) {
          val p0 = System.nanoTime()
          spark.range(200000000L).selectExpr("sum(id % 7)").collect()
          probes += (System.nanoTime() - p0) / 1e9
        }
        name -> t
      }
      (times, probes.toSeq)
    }
    // Optional untimed full-suite passes BEFORE the timed reps
    // (SPARK_GRAFT_BENCH_WARMUP=n; default 0 = the methodology every
    // committed artifact was measured under). Rationale (r16
    // KernelProbe): the codegen-heavy queries' pass2 read ~2.3 s for
    // ann_ivf against ~0.57 s steady, which r16 put down to the C2
    // ramp of freshly generated classes. Most of that gap was Spark's
    // 100-entry codegen cache: the suite generates ~1,500 classes, so
    // pass2 recompiled nearly every class with Janino and re-ran it
    // interpreted. EngineConf.tuned now sizes the cache to the working
    // set, so pass2 reuses pass1's classes ("compiles2" in the
    // artifact counts the rest) and the warmup passes only buy C2
    // time. OPT-IN ONLY: flipping the default re-baselines the trend
    // row, which is a round-boundary decision (PLANS.md r17 item 1);
    // the artifact records the setting as "warmup":n so no run can be
    // misread against the wrong methodology.
    val warmupPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "0").toInt
    (1 to warmupPasses).foreach { _ => runPass(); Cache.clear(spark) }
    // Warmup failures must not stain the timed artifact: timed() shares
    // the errors set with the untimed passes, so a query that fails only
    // during warmup would land in errors/error_count and make a clean
    // timed measurement read as a failing round (r16 advice). A query
    // that also fails in a timed rep re-registers below.
    errors.clear()
    // load/probe capture sits AFTER the warmup passes so probe_start
    // brackets the timed region, not the (optional) warmup.
    val loadStart = loadavg()
    val probeStart = microProbe(spark)
    // Janino compilations of a timed pass: classes it generated that
    // the codegen cache did not hold. A warm pass should need ~none;
    // a plan that inlines a per-run literal, or a suite that outgrows
    // the cache (EngineConf.CodegenCacheEntries), shows up as a count.
    def counted[T](pass: => T): (T, Long) = {
      val c0 = EngineConf.codegenCompiles
      val r = pass
      (r, EngineConf.codegenCompiles - c0)
    }
    val ((rep1, probes1), compiles1) = counted(runPass())
    val top10 = rep1.sortBy(-_._2).take(10).map(_._1).sorted
    val rep2 = top10.map(n => n -> timed(n))
    Cache.clear(spark)
    // Full SECOND pass over the whole suite (same JVM: codegen, JIT
    // and parquet footers warm; caches rebuilt fresh under the same
    // release schedule). Serialized per-query as "pass2" — the warm
    // number is the one a regression diff should use: rep1 timings
    // are distorted by cache-build attribution and JIT warmup order
    // (8 false "regressions" flagged in r12 on rep1 data alone).
    // pass1−pass2 gap ≈ load + warmup; a real plan regression moves
    // BOTH passes.
    val ((pass2, probes2), compiles2) = counted(runPass())
    Cache.clear(spark)
    // Totals count only SUCCESSFUL timings: a failed query's negative
    // marker must not subtract from the headline (a round with
    // failures would otherwise look FASTER than its passing queries
    // alone). Failures stay visible via the per-query negatives and
    // the errors list.
    val rep2Total = pass2.map(t => math.max(t._2, 0.0)).sum
    val loadEnd = loadavg()
    val probeEnd = microProbe(spark)

    // 3-dp floats keep the line short, and the headline total goes
    // LAST: harnesses that keep only the tail of a long line still
    // see it (and a shorter line parses whole more often).
    def json(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => f"""\"$k\":$v%.3f""" }
        .mkString("{", ",", "}")
    val total = rep1.map(t => math.max(t._2, 0.0)).sum
    val errJson = errors.toSeq.sorted
      .map(n => "\"" + n + "\"").mkString("[", ",", "]")
    // The driver keeps only the last ~2000 chars of stdout: r13's
    // line carried both full 157-entry per-query maps (~7.5 kB), so
    // the front was clipped and the artifact's "parsed" came back
    // null. Split the contract: the PRINTED line holds only what a
    // truncation-proof artifact needs (scale/rep2 warm top-10, load
    // + probe evidence, errors, and the rep2_total/value anchors) and
    // stays well under the capture budget so it parses whole; the
    // full rep1/pass2 maps ride ONLY in the sidecar, which check.py
    // trusts after matching the anchors in the artifact tail.
    // Per-segment probe arrays (~8 entries x 2 passes, ~120 chars):
    // index i covers sorted-name queries [i*20, (i+1)*20). Small
    // enough to ride the printed line; check.py --bench-history uses
    // them to normalize per-segment instead of per-run.
    def arr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val tailFields =
      s""""seg":$segment,"probes1":${arr(probes1)},""" +
      s""""probes2":${arr(probes2)},""" +
      f""""load_start":$loadStart%.3f,"probe_start":$probeStart%.3f,""" +
      f""""load_end":$loadEnd%.3f,"probe_end":$probeEnd%.3f,""" +
      // Round stamp (r18, optional): quiet in-round runs export
      // SPARK_GRAFT_ROUND so check.py's snapshot gate can adjudicate
      // the sidecar by its RECORDED round instead of mtime — a
      // round-N re-run landing after the snapshot must never satisfy
      // round N+1's gate (r17 advice). An int, so check.py's
      // float-only query-map regex never mis-keys it.
      sys.env.get("SPARK_GRAFT_ROUND")
        .flatMap(_.toIntOption).fold("")(r => s""""round":$r,""") +
      (if (excluded.isEmpty) ""
       else excluded.toSeq.sorted
         .map("\"" + _ + "\"").mkString("\"excluded\":[", ",", "],")) +
      s""""warmup":$warmupPasses,""" +
      // Ints, like "round": check.py's float-only map regex skips them.
      s""""compiles1":$compiles1,"compiles2":$compiles2,""" +
      s""""errors":$errJson,"error_count":${errors.size},""" +
      f""""rep2_total":$rep2Total%.3f,"value":$total%.3f}"""
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir",""" +
      s""""rep2":${json(rep2)},""" + tailFields
    println(line)
    val fullLine = s"""{"metric":"total","unit":"sec","sf":"$sfDir",""" +
      s""""queries":${json(rep1)},"pass2":${json(pass2)},""" +
      s""""rep2":${json(rep2)},""" + tailFields
    val fullPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_FULL.json")
    // Collision-proofing (r19 verdict): the driver benches the same
    // round at MORE THAN ONE core count and each run overwrote the
    // single default sidecar — the r19 32-core per-query map was
    // destroyed by the 8-core run and PERF could rank nothing
    // (n_common: 0). A second, run-shape-suffixed copy
    // (BENCH_FULL_c{cpus}.json) is written alongside, so no run can
    // clobber another shape's evidence; the printed-line contract
    // and the default sidecar path are unchanged.
    val shapePath =
      if (fullPath.endsWith(".json"))
        fullPath.stripSuffix(".json") + s"_c$cpus.json"
      else fullPath + s"_c$cpus"
    Seq(fullPath, shapePath).foreach { p =>
      try {
        val w = new java.io.PrintWriter(p)
        try w.println(fullLine) finally w.close()
      } catch {
        // A silently-missing sidecar downgrades check.py to its weakest
        // fallback with no signal anywhere — make the failure cost one
        // visible stderr line in the bench log.
        case t: Throwable => System.err.println(
          s"Bench: sidecar write to $p FAILED (${t.getClass.getSimpleName}: " +
            s"${t.getMessage}) — this sidecar will be absent for this run")
      }
    }
    spark.stop()
  }
}
