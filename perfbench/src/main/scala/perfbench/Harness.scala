package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{Cache, EngineConf, SparkEntry, Tables}
import graft.streaming.{EventRow, Streams}

/** JVM side of the benchmark: runs one workload in one JVM and writes
  * the raw measurements (`raw.json`) and, when traced, the spans
  * (`spans.jsonl`) into the run directory. `run.py` turns them into
  * metrics and checks correctness.
  *
  * It only calls the engine's public entry points (`EngineConf.tuned`,
  * `Tables.table`, `SparkEntry.queries`, `Cache.clear`,
  * `Streams.statefulVoyages`) and observes them from outside: wall
  * clocks around each call, a SparkListener for jobs, stages and task
  * metrics, the query's planning tracker and executed plan, and the
  * JVM's MXBeans.
  *
  * Arguments are `key=value`: mode (batch|stream), data, work, seed,
  * trace (0|1), cpus, setups, warm, queries, verify, assign, slices.
  */
object Harness {

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with nanoTime resolution, so
    * spans timed here line up with the listener's epoch timestamps. */
  private def nowMs(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime

  /** Live heap: used heap right after a full collection. The first
    * collection makes dead broadcasts, shuffles and RDDs unreachable;
    * Spark's ContextCleaner then releases their blocks asynchronously,
    * and a second collection after a pause frees those too (without
    * it, one reading in five was 10-15% higher). */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Writes raw.json and spans.jsonl; NaN stays a bare token, which
    * Python's json module reads. */
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  private object Plans extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
      case n => n
    }
  }

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing argument $k="))
    def list(k: String): Seq[String] =
      m.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    coverage(o("assign"))
    val work = o("work")
    val traced = o("trace") == "1"
    val out = new Run(o, work, traced)
    try out.run() finally out.close()
  }

  /** Every registered query belongs to exactly one batch workload, and
    * every listed name is a registered query. */
  private def coverage(assignFile: String): Unit = {
    val pairs = Files.readAllLines(Paths.get(assignFile)).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(w, q) = l.split("\t"); (w, q)
      }
    val registered = SparkEntry.queries.keySet
    val byQuery = pairs.groupBy(_._2)
    val twice = byQuery.collect { case (q, ws) if ws.size > 1 =>
      s"$q in ${ws.map(_._1).mkString("+")}" }
    val unknown = byQuery.keySet -- registered
    val unassigned = registered -- byQuery.keySet
    if (twice.nonEmpty || unknown.nonEmpty || unassigned.nonEmpty) {
      System.err.println("coverage guard failed: " +
        s"assigned twice=${twice.toSeq.sorted.mkString(",")} " +
        s"unknown=${unknown.toSeq.sorted.mkString(",")} " +
        s"unassigned=${unassigned.toSeq.sorted.mkString(",")}")
      sys.exit(3)
    }
  }

  /** One workload run. Holds the session, the optional recorder and
    * everything that ends up in raw.json. */
  private final class Run(o: Opts, work: String, traced: Boolean) {
    private val cpus = o("cpus")
    private val data = o("data")
    private val seed = o("seed").toLong
    private val warm = o("warm").toInt
    private val rec = new Recorder
    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val result = mutable.LinkedHashMap.empty[String, Any]
    private var spark: SparkSession = _

    /** Whether the current pass records spans, job groups and plan
      * figures: in traced runs, every pass but the listener-off ones. */
    private var tracing = traced

    private def span(id: String, parent: String, kind: String,
        start: Double, end: Double): Unit =
      if (tracing) spans += Map("id" -> id, "parent" -> parent,
        "kind" -> kind, "start_ms" -> start, "end_ms" -> end)

    private def session(): SparkSession =
      EngineConf.tuned(SparkSession.builder())
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()

    /** Session build plus the first load of every table, `n` times in
      * this JVM; the last session is kept. Input generation is not
      * part of it. */
    private def setup(n: Int): Unit = {
      val recs = (1 to n).map { i =>
        val a = nowMs()
        spark = session()
        spark.sparkContext.setLogLevel("ERROR")
        val b = nowMs()
        val last = i == n
        if (last && traced) {
          spark.sparkContext.addSparkListener(rec)
          spark.sparkContext.setJobGroup("setup", "setup")
        }
        Tables.names.foreach(t => Tables.table(spark, data, t))
        val c = nowMs()
        if (last) {
          spark.sparkContext.clearJobGroup()
          span("setup", "", "setup", a, c)
          span("setup.session", "setup", "session", a, b)
          span("setup.tables", "setup", "tables", b, c)
        } else spark.stop()
        Map("session_s" -> (b - a) / 1e3, "tables_s" -> (c - b) / 1e3,
          "total_s" -> (c - a) / 1e3)
      }
      result("setups") = recs
    }

    def run(): Unit = {
      result("host") = Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "cpus" -> cpus.toInt)
      setup(o("setups").toInt)
      o("mode") match {
        case "batch"  => batch()
        case "stream" => stream()
        case other    => throw new IllegalArgumentException(s"mode=$other")
      }
      if (traced) {
        org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
        result("groups") = rec.groups()
        rec.spans().foreach(spans += _)
      }
    }

    def close(): Unit = {
      Files.writeString(Paths.get(s"$work/raw.json"),
        mapper.writeValueAsString(result))
      if (traced) Files.writeString(Paths.get(s"$work/spans.jsonl"),
        spans.map(mapper.writeValueAsString).mkString("", "\n", "\n"))
      if (spark != null) spark.stop()
      deleteTree(indexRoot)
      deleteTree(sourcesScratch)
    }

    // ---------------------------------------------------------------
    // batch workloads

    /** Where `Cache.diskBacked` keeps this fixture's index artifacts. */
    private val indexRoot =
      Paths.get(Cache.SharedRoot, data.replaceAll("[^A-Za-z0-9]", "_"))

    /** The `source_*` queries' per-process scratch (operators.Scans). */
    private val sourcesScratch =
      Paths.get("/tmp/graft_sources", s"p${ProcessHandle.current().pid()}")

    private def deleteTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))

    /** (version dirs, bytes) of the on-disk index artifacts built from
      * this run's fixture. */
    private def indexState(): (Set[String], Long) =
      if (!Files.isDirectory(indexRoot)) (Set.empty, 0L)
      else {
        val all = Files.walk(indexRoot).iterator().asScala.toSeq
        val versions = all.filter(p => p.getFileName.toString.startsWith("v_"))
          .map(indexRoot.relativize(_).toString).toSet
        val bytes = all.filter(Files.isRegularFile(_)).map(Files.size).sum
        (versions, bytes)
      }

    private def readsIndex(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths
        .exists(_.toUri.getPath.startsWith(Cache.SharedRoot))
      case _ => false
    }

    /** Index artifacts a query opened: scans of index files that ran,
      * that is, outside any memory cache or inside one (at any depth)
      * that this query built (its buffers are among `newRdds`). A memory
      * cache that was only read hides its plan, which did not run. */
    private def indexOpens(plan: SparkPlan, newRdds: Set[Int]): Int =
      Plans.nodes(plan).map {
        case m: InMemoryTableScanExec =>
          val b = m.relation.cacheBuilder
          if (b.isCachedColumnBuffersLoaded &&
              newRdds.contains(b.cachedColumnBuffers.id))
            indexOpens(m.relation.cachedPlan, newRdds)
          else 0
        case n => if (readsIndex(n)) 1 else 0
      }.sum

    private def runQuery(pass: Int, i: Int,
        name: String): collection.Map[String, Any] = {
      val sc = spark.sparkContext
      val qid = s"p$pass.q$i.$name"
      if (tracing) sc.setJobGroup(qid, name)
      val persisted0 = if (tracing) sc.getPersistentRDDs.keySet else Set.empty
      val a = nowMs()
      var b, c, d = a
      var rows = -1L
      var error = ""
      var df: DataFrame = null
      try {
        df = SparkEntry.queries(name)(spark, data)
        b = nowMs()
        df.queryExecution.executedPlan
        c = nowMs()
        rows = df.queryExecution.toRdd.count()
        d = nowMs()
      } catch {
        case e: Throwable =>
          error = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.toSeq.headOption.getOrElse(e.getClass.getName)
      }
      val e = nowMs()
      val kv = mutable.LinkedHashMap[String, Any]("name" -> name,
        "pass" -> pass, "id" -> qid, "wall_s" -> (e - a) / 1e3,
        "construct_s" -> (b - a) / 1e3, "plan_s" -> (c - b) / 1e3,
        "exec_s" -> (d - c) / 1e3, "rows" -> rows, "error" -> error)
      if (tracing) {
        sc.clearJobGroup()
        span(qid, s"p$pass", "query", a, e)
        span(s"$qid.construct", qid, "construct", a, b)
        span(s"$qid.plan", qid, "plan", b, c)
        span(s"$qid.execute", qid, "execute", c, d)
        if (df != null && error.isEmpty) {
          val qe = df.queryExecution
          val phases = qe.tracker.phases
          def phase(p: String) = phases.get(p).map(_.durationMs / 1e3)
            .getOrElse(0.0)
          val nodes = Plans.nodes(qe.executedPlan)
          val newRdds = sc.getPersistentRDDs.keySet -- persisted0
          val built = newRdds.size
          val memScans = nodes.collect { case m: InMemoryTableScanExec => m }
          kv ++= Seq(
            "analysis_s" -> phase("analysis"),
            "optimization_s" -> phase("optimization"),
            "planning_s" -> phase("planning"),
            "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
            "cache_builds" -> built,
            "cache_hits" -> math.max(memScans.size - built, 0),
            "index_opens" -> indexOpens(qe.executedPlan, newRdds.toSet))
        }
      }
      kv
    }

    /** Query order of a pass: a shuffle seeded from (seed, pass), mixed
      * so that nearby seeds give unrelated orders. Each even warm pass
      * runs the previous order backwards: over the two, every query
      * precedes every other once, so what the order decides (such as
      * which query builds a shared midpoint) evens out over the warm
      * passes instead of adding to their spread across seeds. */
    private def order(pass: Int, names: Seq[String]): Seq[String] =
      if (pass >= 2 && pass % 2 == 0) order(pass - 1, names).reverse
      else new scala.util.Random(new java.util.SplittableRandom(
        seed * 1000003L + pass).nextLong()).shuffle(names)

    /** One pass over `names` in seeded order, then (untimed) the dumps
      * of `verify`, which reuse the pass's memory caches, and the
      * pass's `Cache.clear`. */
    private def runPass(pass: Int, names: Seq[String],
        verify: Option[Seq[String]] = None): Map[String, Any] = {
      val order = this.order(pass, names)
      val (idx0, idxBytes0) = indexState()
      val gc0 = gcMs(); val jit0 = jitMs()
      val a = nowMs()
      val queries = order.zipWithIndex.map { case (n, i) => runQuery(pass, i, n) }
      val b = nowMs()
      val gc1 = gcMs(); val jit1 = jitMs()
      val cacheMb = spark.sparkContext.getRDDStorageInfo
        .map(_.memSize).sum / 1048576.0
      val heap = liveHeapMb()
      verify.foreach(dump)
      val c = nowMs()
      Cache.clear(spark)
      val d = nowMs()
      val (idx1, idxBytes1) = indexState()
      span(s"p$pass", "", "pass", a, b)
      span(s"p$pass.clear", s"p$pass", "clear", c, d)
      Map("pass" -> pass, "wall_s" -> (b - a) / 1e3,
        "clear_s" -> (d - c) / 1e3, "heap_live_mb" -> heap,
        "cache_mem_mb" -> cacheMb, "gc_s" -> (gc1 - gc0) / 1e3,
        "jit_s" -> (jit1 - jit0) / 1e3,
        "index_builds" -> (idx1 -- idx0).size,
        "index_write_mb" -> math.max(idxBytes1 - idxBytes0, 0L) / 1048576.0,
        "queries" -> queries)
    }

    /** A cold pass, then always `warm` warm passes. The count is fixed
      * because later passes run faster as the JIT settles, so a count
      * that followed the clock would bias the median. Traced runs
      * switch all tracing off for every second warm pass, so the run
      * measures its own tracing overhead. The last pass also dumps the
      * `verify` queries for the oracle comparison. */
    private def batch(): Unit = {
      val names = o.list("queries")
      // Every run starts without on-disk index artifacts, so its cold
      // pass writes them and the warm passes re-open them.
      deleteTree(indexRoot)
      val passes = mutable.ArrayBuffer(runPass(0, names))
      val untraced = mutable.Set.empty[Int]
      for (pass <- 1 to warm) {
        val listenerOff = traced && pass % 2 == 0
        if (listenerOff) {
          spark.sparkContext.removeSparkListener(rec)
          untraced += pass
          tracing = false
        }
        passes += runPass(pass, names,
          Option.when(pass == warm)(o.list("verify")))
        if (listenerOff) {
          spark.sparkContext.addSparkListener(rec)
          tracing = true
        }
      }
      result("passes") = passes.toSeq
      result("index_disk_mb") = indexState()._2 / 1048576.0
      result("untraced_passes") = untraced.toSeq.sorted
    }

    /** Writes each query's full answer as parquet for the oracle
      * comparison, with the SQL of every oracle beside them. */
    private def dump(names: Seq[String]): Unit = {
      val verify0 = nowMs()
      spark.sparkContext.setJobGroup("verify", "verify")
      Files.createDirectories(Paths.get(s"$work/verify"))
      val dumped = names.map { n =>
        try {
          SparkEntry.queries(n)(spark, data).coalesce(1).write
            .mode("overwrite").parquet(s"$work/verify/$n")
          n -> ""
        } catch { case e: Throwable => n -> String.valueOf(e.getMessage) }
      }
      spark.sparkContext.clearJobGroup()
      result("verify_s") = (nowMs() - verify0) / 1e3
      result("verify") = dumped.toMap
      Files.writeString(Paths.get(s"$work/verify/oracle_sql.json"),
        mapper.writeValueAsString(SparkEntry.oracleSql))
    }

    // ---------------------------------------------------------------
    // streaming workload

    /** Replays the landed slices through `Streams.statefulVoyages`, one
      * file per micro-batch, with a fresh checkpoint each replay: a cold
      * replay, then `warm` warm replays. The first replay's output is
      * dumped for the reference comparison; later replays must match
      * its count and checksum. Rows dropped as late are the input rows
      * that are in no emitted voyage and in no voyage left open in the
      * state store (read back from the checkpoint, untimed). */
    private def stream(): Unit = {
      val slices = o("slices")
      val s = spark
      import s.implicits._
      val schema = spark.read.parquet(slices).schema
      val replays = mutable.ArrayBuffer.empty[Map[String, Any]]
      val untraced = mutable.Set.empty[Int]
      for (r <- 0 to warm) {
        val listenerOff = traced && r > 0 && r % 2 == 0
        if (listenerOff) {
          spark.sparkContext.removeSparkListener(rec)
          untraced += r
          tracing = false
        }
        val gc0 = gcMs(); val jit0 = jitMs()
        val a = nowMs()
        val events = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(slices)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .as[EventRow]
        val sink = s"voyages_r$r"
        val checkpoint = s"$work/checkpoints/r$r"
        val q = Streams.statefulVoyages(events).writeStream
          .format("memory").queryName(sink).outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .start()
        val b = nowMs()
        q.awaitTermination()
        val c = nowMs()
        val gc1 = gcMs(); val jit1 = jitMs()
        if (listenerOff) {
          spark.sparkContext.addSparkListener(rec)
          tracing = true
        }
        val out = spark.table(sink)
        val Seq(rows, checksum, points) = out.selectExpr("count(*)",
          "coalesce(sum(hash(user_id, o_zone, d_zone, n_points)), 0)",
          "coalesce(sum(n_points), 0)")
          .head().toSeq.map(_.asInstanceOf[Long])
        val openPoints = spark.read.format("statestore").load(checkpoint)
          .selectExpr("coalesce(sum(value.groupState.n), 0)")
          .head().getLong(0)
        if (r == 0) out.coalesce(1).write.mode("overwrite")
          .parquet(s"$work/verify/voyages")
        spark.catalog.dropTempView(sink)
        val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map {
          p =>
            def d(k: String) = Option(p.durationMs.get(k))
              .map(_.longValue / 1e3).getOrElse(0.0)
            val ops = p.stateOperators.toSeq
            Map("input_rows" -> p.numInputRows,
              "duration_s" -> d("triggerExecution"),
              "add_batch_s" -> d("addBatch"),
              "planning_s" -> d("queryPlanning"),
              "wal_commit_s" -> (d("walCommit") + d("commitOffsets")),
              "state_rows" -> ops.map(_.numRowsTotal).sum,
              "state_mem_mb" -> ops.map(_.memoryUsedBytes).sum / 1048576.0,
              "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3)
        }
        val inputRows = q.recentProgress.map(_.numInputRows).sum
        val heap = liveHeapMb()
        span(s"r$r", "", "replay", a, c)
        span(s"r$r.construct", s"r$r", "construct", a, b)
        span(s"r$r.execute", s"r$r", "execute", b, c)
        rec.alias(q.runId.toString, s"r$r")
        replays += Map("replay" -> r, "wall_s" -> (c - a) / 1e3,
          "construct_s" -> (b - a) / 1e3, "rows_out" -> rows,
          "checksum" -> checksum,
          "late_rows_dropped" -> (inputRows - points - openPoints),
          "heap_live_mb" -> heap,
          "gc_s" -> (gc1 - gc0) / 1e3, "jit_s" -> (jit1 - jit0) / 1e3,
          "batches" -> batches)
      }
      result("replays") = replays.toSeq
      result("untraced_passes") = untraced.toSeq.sorted
    }
  }
}
