package graft

import org.apache.spark.sql.SparkSession

/** Spill-aware sizing rules for running the engine at scale — the
  * arithmetic behind "would this hold at 100 TB?" (SURVEY.md §4).
  *
  * The knobs that matter and why:
  *  - `spark.sql.shuffle.partitions`: post-shuffle partitions should
  *    hold ~128-256 MB each so sorts/joins stay in memory. AQE
  *    coalesces down at runtime, so err high: size for the LARGEST
  *    shuffle in the job, not the average.
  *  - `spark.sql.files.maxPartitionBytes`: scan-side split size;
  *    128 MB default is right for parquet row-group granularity.
  *  - `spark.sql.adaptive.*`: AQE re-plans at runtime (partition
  *    coalescing, skew-join splitting) — always on in Spark 4.
  *
  * Worked example: a 100 TB shuffle at 256 MB target → ~400k
  * partitions; on 1000 executors × 8 cores that is ~50 waves, each
  * task spill-free. The same job with the 200-partition default would
  * put 500 GB in each task — guaranteed spill-to-death.
  */
object EngineConf {

  val TargetShufflePartitionBytes: Long = 256L << 20
  val MaxScanPartitionBytes: Long = 128L << 20

  /** Engine session defaults beyond master/partitions — [[builder]]
    * applies them for every entry point (Bench, Verify, tests, tools)
    * so measurements and correctness artifacts certify ONE config.
    *
    * canChangeCachedPlanOutputPartitioning=true (Spark default:
    * false): lets AQE coalesce the FINAL stage of a plan that gets
    * `.persist()`-ed, so a cached intermediate's partition count
    * tracks its measured bytes (64 MB advisory target) instead of
    * freezing at spark.sql.shuffle.partitions. The engine leans on
    * [[graft.Cache]] for shared midpoints (co-presence pairs, LSH
    * postings, IVF rankings, scored half-pairs); with the default
    * OFF, a 325 KB edge cache kept 32 near-empty partitions, and
    * every downstream exchange over it paid 32 tasks × ~100 ms
    * fixed cost, ×4 references, per execution — measured r16 on
    * geo_triangles: 26 task-seconds → 0.5, warm wall −40%. Spark
    * defaults it off only to preserve user-visible output
    * partitioning of cached DataFrames (e.g. a user's
    * repartition(n).cache() contract); no graft consumer reads a
    * cached frame's partitioning as an API promise, and
    * ShapeInvarianceSpec certifies result invariance across
    * partition layouts. At 100 TB the same rule yields MORE
    * partitions (bytes/64 MB), so this is adaptive sizing, not a
    * toy-scale hack. */
  def tuned(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    b.config(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Decouple shuffle WIDTH from spark.sql.shuffle.partitions:
      // AQE starts every coalescible shuffle at initialPartitionNum
      // and merges down — with parallelismFirst (default true) small
      // shuffles still end at ~defaultParallelism, so toy-scale
      // plans are unchanged, while a large shuffle keeps up to 256
      // properly-sized reduce partitions instead of freezing at the
      // session's 32. Measured r16 at the 1000x relational point
      // (600M-row lineitem): the two shuffle-heaviest joins spilled
      // at 32 fixed partitions (~19M rows/task) and recovered ~45%
      // warm with more partitions; this conf is that fix as a
      // default, not an env override someone has to know about.
      // At 100 TB the initial count should be sized by
      // shufflePartitionsFor — 256 here is the single-box ceiling
      // (32 cores × ~8 waves); other widths are a code change here.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "256")
      // Generated-class cache sized to the whole engine's working set.
      // Spark keeps 100 compiled classes by default and evicts in LRU
      // order; the 8 lanes_corpus queries need 154 and the 157-query
      // suite ~1,500, so with the default every warm pass recompiled
      // the evicted classes with Janino and ran them interpreted again
      // until the JIT caught up (a warm lanes_corpus pass at sf0.01:
      // 142 of its 154 classes). A cached class holds ~31 KB of live heap, so 2048
      // entries cap the cost near 64 MB. The conf is static: the
      // codegen cache is sized once, from the first session in the
      // JVM, so it must come from this factory, not a `conf.set`.
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toLong)
      // The codegen cache is keyed by the compiling thread's class
      // loader too. With per-session artifact isolation (Spark's
      // default) each session's tasks run under their own executor
      // class loader, and every `persist()` plans in a fresh clone of
      // the session (CacheManager turns one AQE conf off in it), so
      // each [[graft.Cache]] build got a new loader and recompiled
      // its executor-side classes every pass (geo.od: 36 per pass).
      // The engine adds no per-session jars or files, so one shared
      // loader costs nothing. CodegenReuseSpec pins both settings:
      // a warm lanes_corpus pass compiles no class.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Checkpoint and state-store files on a local path are written
      // through java.nio instead of Hadoop's FileContext, which without
      // libhadoop forks a `readlink` per rename and a `chmod` per file
      // create and mkdir (see graft.streaming.LocalCheckpointFileManager):
      // 3,569 such forks in one `ais_stream` bench run, and an atomic
      // write through the stock manager costs 29 ms against 0.2 ms
      // (PLANS.md, "checkpoint and state-store I/O through the JDK").
      // Other schemes keep Spark's FileContext manager. Spark reads the
      // class from the session's Hadoop conf on the driver and in the
      // state-store tasks alike.
      .config(CheckpointManagerConf,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** The conf through which Spark picks its checkpoint file manager. */
  val CheckpointManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** Generated classes Spark's codegen cache keeps (see [[tuned]]). */
  val CodegenCacheEntries: Int = 2048

  /** Janino compilations in this JVM so far: the count of Spark's
    * codegen compile-time histogram. A delta over a region is the
    * number of classes it generated that the cache did not hold. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** The one session factory for every entry point: [[tuned]] on a
    * `local[cpus]` master with as many shuffle partitions as cores,
    * UTC session time (the zone Verify and the specs certify under)
    * and no UI. Callers add only confs that are really theirs. */
  def builder(cpus: Int): SparkSession.Builder =
    tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Core count for the command-line mains: `SPARK_GRAFT_CPUS`, or
    * every available processor when it is unset. Read on first use,
    * so a bad value fails the main that needs it, not every caller
    * of this object. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A whole number ≥ 1, or every available processor when unset.
    * Anything else fails loud: the value names the bench sidecar and
    * the `local[...]` master, so a stray `*` or path must not pass. */
  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(x) if x.matches("[0-9]+") && x.toIntOption.exists(_ >= 1) =>
      x.toInt
    case Some(x) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a whole number >= 1, got '$x'")
  }

  private val rowCountMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Table cardinality from parquet footer metadata — the stat a
    * planner sizes indexes with (LSH bucket fan-out, IVF cell count).
    * A footer read is O(files) driver-side metadata, NOT a Spark job:
    * replacing the previous `df.count()` here removes one full
    * scan-job per ANN query. Memoized per path (immutable testdata;
    * a real catalog would invalidate on commit). */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    rowCountMemo.getOrElseUpdate(path, {
      import scala.jdk.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
        else Seq(p)
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
    })

  /** Post-shuffle partition count for an expected shuffle volume,
    * floored at the parallelism so small jobs still use all cores. */
  def shufflePartitionsFor(shuffleBytes: Long, parallelism: Int): Int =
    math.max(parallelism,
      math.ceil(shuffleBytes.toDouble / TargetShufflePartitionBytes).toInt)

  /** Session confs for a target input scale. */
  def confsFor(shuffleBytes: Long, parallelism: Int): Map[String, String] =
    Map(
      "spark.sql.shuffle.partitions" ->
        shufflePartitionsFor(shuffleBytes, parallelism).toString,
      "spark.sql.files.maxPartitionBytes" -> MaxScanPartitionBytes.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC")
}
