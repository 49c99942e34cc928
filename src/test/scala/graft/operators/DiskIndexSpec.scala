package graft.operators

import graft.{Cache, FreshJvm, SparkEntry, SparkSpec}
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The on-disk index layer (Cache.diskBacked, r17): the ANN indexes
  * are persisted as bucketed external parquet tables, so only the
  * FIRST entry per process pays the build — every later entry (after
  * a cache clear, or under a fresh catalog) re-opens the artifact.
  * This is the deployment shape at 100 TB: an indexing job writes
  * once, query jobs read. These specs pin each half of that contract
  * plus the staleness and plan-shape properties the artifact claims.
  */
class DiskIndexSpec extends SparkSpec with BeforeAndAfterAll {

  private val scratch = s"/tmp/graft_diskidx_spec/p${ProcessHandle.current().pid()}"

  /** Every source dir the spec wrote: deleted after the suite, with
    * the artifacts this and the probe processes published for it. */
  private val sources = scala.collection.mutable.Set.empty[String]

  override def afterAll(): Unit = {
    sources.foreach { d =>
      Cache.deleteRecursively(java.nio.file.Paths.get(d))
      Cache.deleteRecursively(Cache.sharedRootOf(d))
    }
    Cache.deleteRecursively(java.nio.file.Paths.get(scratch))
    super.afterAll()
  }

  private def writeSource(dir: String, rows: Long): Unit = {
    sources += dir
    spark.range(rows).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(s"$dir/emb.parquet")
  }

  /** A counting build over the synthetic source: `builds` tells the
    * spec whether an entry re-ran the lineage or read the artifact. */
  private class Fixture(tag: String) {
    val dir = s"$scratch/$tag"
    writeSource(dir, 100)
    var builds = 0
    val name = s"test.idx.$tag"
    def frame = Cache.diskBacked(spark, dir, name, "emb.parquet",
        Seq("k")) {
      builds += 1
      spark.read.parquet(s"$dir/emb.parquet")
        .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
    }
    // Table names embed the fingerprint hash since the r18
    // cross-process layer (graft_idx_<dir>_<name>_<hash>), so match
    // by infix, not suffix.
    def tableName: String = spark.catalog.listTables().collect()
      .map(_.name).find(_.contains(s"test_idx_$tag"))
      .getOrElse(fail(s"no catalog table registered for $tag"))
    /** The one published version dir of this artifact. */
    def versionDir: java.nio.file.Path = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(Cache.SharedRoot)
        .resolve(dir.replaceAll("[^A-Za-z0-9]", "_"))
        .resolve(name.replaceAll("[^A-Za-z0-9]", "_"))
      val vs = java.nio.file.Files.list(root).iterator().asScala
        .filter(_.getFileName.toString.startsWith("v_")).toSeq
      assert(vs.size == 1, s"expected one version dir, saw $vs")
      vs.head
    }
    def metaLines: Seq[String] = java.nio.file.Files
      .readAllLines(versionDir.resolve("meta")).toArray.toSeq
      .map(_.toString)
    def rows: Seq[Seq[Any]] =
      frame.orderBy("k").collect().map(_.toSeq).toSeq
  }

  /** The table's declared bucket count, None when unbucketed. */
  private def numBuckets(table: String): Option[String] =
    spark.sql(s"DESCRIBE EXTENDED $table").collect()
      .find(_.getString(0) == "Num Buckets").map(_.getString(1))

  /** Starts [[graft.IndexProbe]] in a fresh JVM (fresh Cache memo and
    * catalog) over (dir, name) with a `cpus`-core master. */
  private def startProbe(dir: String, name: String, cpus: Int): Process =
    FreshJvm.start("graft.IndexProbe", dir, name, cpus.toString)

  /** Waits for a started probe and returns its INDEXPROBE line. */
  private def probeLine(proc: Process): String =
    FreshJvm.line(FreshJvm.output(proc), "INDEXPROBE")

  private def probe(dir: String, name: String, cpus: Int = 4): String =
    probeLine(startProbe(dir, name, cpus))

  private def field(line: String, k: String): Long =
    s""""$k":(-?\\d+)""".r.findFirstMatchIn(line)
      .getOrElse(fail(s"no $k in: $line")).group(1).toLong

  test("first entry builds once; re-entry after clear() reads the " +
      "artifact with the same values and zero rebuilds") {
    val fx = new Fixture("a")
    val r1 = fx.frame.orderBy("k").collect().map(_.toSeq).toSeq
    assert(fx.builds == 1)
    // Same-session re-entry: memoized, no second ensure pass needed.
    fx.frame.count()
    assert(fx.builds == 1)
    Cache.clear(spark, "test.idx.a")
    val r2 = fx.frame.orderBy("k").collect().map(_.toSeq).toSeq
    assert(fx.builds == 1,
      "re-entry after clear() must read the artifact, not rebuild")
    assert(r1 == r2)
  }

  test("re-entry is job-free at construction (the warm query path " +
      "schedules a scan, never an index build)") {
    val fx = new Fixture("b")
    fx.frame.count() // build + write
    Cache.clear(spark, "test.idx.b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftTestBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      fx.frame // construction only — re-opens the table
      GraftTestBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get == 0,
        s"artifact re-entry scheduled ${jobs.get} job(s) at construction")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(fx.builds == 1)
  }

  test("a fresh catalog re-attaches to the files via DDL — bucketed, " +
      "no rebuild (the new-SparkContext path within one process)") {
    val fx = new Fixture("c")
    val r1 = fx.frame.orderBy("k").collect().map(_.toSeq).toSeq
    val tbl = fx.tableName
    // Simulate the fresh-catalog case: the files and meta survive,
    // the catalog entry does not.
    spark.sql(s"DROP TABLE $tbl")
    Cache.clear(spark, "test.idx.c")
    val r2 = fx.frame.orderBy("k").collect().map(_.toSeq).toSeq
    assert(fx.builds == 1, "catalog re-attach must not rebuild")
    assert(r1 == r2)
    // The bucket count is the writing session's default parallelism:
    // meta records it, and the fresh catalog declares it.
    val wave = spark.sparkContext.defaultParallelism.toString
    assert(fx.metaLines(1) == wave,
      s"meta must record $wave buckets: ${fx.metaLines}")
    assert(numBuckets(fx.tableName).contains(wave),
      s"re-attached table must declare the recorded count")
  }

  test("a reader declares the recorded bucket count only when it " +
      "fills the reader's wave") {
    assert(Cache.declaredBuckets(4, 4) == Some(4))
    assert(Cache.declaredBuckets(32, 4) == Some(32))
    assert(Cache.declaredBuckets(1, 1) == Some(1))
    assert(Cache.declaredBuckets(1, 4) == None)
    assert(Cache.declaredBuckets(2, 4) == None)
  }

  test("a v2-layout artifact at the version path is rebuilt, not read") {
    val fx = new Fixture("v2")
    val r1 = fx.rows
    val meta = fx.metaLines
    assert(meta.size == 3 && meta.head.startsWith("v5:"), s"meta: $meta")
    val fp = meta.head.stripPrefix("v5:")
    // The v2 meta: `v2:<fingerprint>` then the DDL, no bucket count.
    // The v3 and v4 metas: the current three lines under the older
    // tag, as the builds before geo.track's prev_id/gap_us columns
    // (v3) and before sim.ivf.ranked dropped pcos (v4) wrote them.
    val older = Seq("v2:" + fp + "\n" + meta(2)) ++ Seq("v3:", "v4:")
      .map(tag => ((tag + fp) +: meta.tail).mkString("\n"))
    older.zipWithIndex.foreach { case (m, i) =>
      java.nio.file.Files.writeString(fx.versionDir.resolve("meta"), m)
      spark.sql(s"DROP TABLE ${fx.tableName}")
      Cache.clear(spark, fx.name)
      assert(fx.rows == r1)
      assert(fx.builds == i + 2, s"a ${m.take(2)} artifact must be rebuilt")
      assert(fx.metaLines.head.startsWith("v5:"))
    }
  }

  test("a version deleted under a live session rebuilds once and " +
      "re-attaches through the re-listed catalog entry") {
    val fx = new Fixture("del")
    val r1 = fx.rows
    val tbl = fx.tableName
    // The catalog entry stays registered; its files go.
    val ver = fx.versionDir
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(ver).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete(_))
    Cache.clear(spark, fx.name)
    assert(fx.rows == r1, "the rebuilt entry must return the same rows")
    assert(fx.builds == 2, "the deleted version must rebuild once")
    assert(fx.tableName == tbl)
    Cache.clear(spark, fx.name)
    assert(fx.rows == r1)
    assert(fx.builds == 2, "the rebuilt version must be read, not rebuilt")
  }

  test("a changed source fingerprint invalidates the artifact and " +
      "rebuilds (regenerated fixtures can never read a stale index)") {
    val fx = new Fixture("d")
    fx.frame.count()
    assert(fx.builds == 1)
    writeSource(fx.dir, 50) // different rows → different bytes
    Cache.clear(spark, "test.idx.d")
    val total = fx.frame.agg(sum("n")).head().getLong(0)
    assert(fx.builds == 2, "stale artifact must rebuild")
    assert(total == 50L, "rebuild must reflect the NEW source")
  }

  test("a LONG-LIVED session straddling a source regeneration " +
      "re-attaches automatically — no manual clear() needed (r18 " +
      "advice: the superseded version's files are GC'd, so a stale " +
      "memoized attachment would read vanished files)") {
    val fx = new Fixture("e")
    fx.frame.count()
    assert(fx.builds == 1)
    writeSource(fx.dir, 50) // regeneration: new fingerprint
    // NO Cache.clear here — this is the long-lived-reader path the
    // r18 advice flagged: the memoized entry must be detected stale
    // on the next diskBacked ENTRY and replaced with the new version.
    val total = fx.frame.agg(sum("n")).head().getLong(0)
    assert(fx.builds == 2,
      "straddling session must rebuild/re-attach on its next entry")
    assert(total == 50L, "the re-attached frame must read the NEW source")
    // ... and an UNCHANGED source keeps the memo hit (no churn).
    fx.frame.count()
    assert(fx.builds == 2, "unchanged fingerprint must stay memoized")
  }

  test("a SECOND PROCESS re-opens the published artifact with zero " +
      "builds and zero jobs (the r18 cross-process publish protocol)") {
    // Shared (NOT per-pid) source dir: the artifact path derives from
    // it, so both JVMs resolve the same shared version directory.
    val dir = s"/tmp/graft_diskidx_xproc/n${System.nanoTime()}"
    val name = "test.idx.xproc"
    writeSource(dir, 100)
    val before = graft.IndexProbe.builds.get
    val mine = graft.IndexProbe.indexFrame(spark, dir, name)
    val exp = mine.agg(count(lit(1)).as("rows"), sum("s").as("total")).head()
    assert(graft.IndexProbe.builds.get == before + 1,
      "first process must build exactly once")
    // Second process: fresh JVM = fresh Cache memo + fresh catalog.
    val line = probe(dir, name)
    def field(k: String): Long = DiskIndexSpec.this.field(line, k)
    assert(field("builds") == 0,
      s"second process re-ran the build lineage: $line")
    assert(field("construct_jobs") == 0,
      s"second process scheduled jobs at open: $line")
    assert(field("rows") == exp.getLong(0) &&
      field("total") == exp.getLong(1),
      s"cross-process values diverge: $line vs $exp")
  }

  test("two processes RACING the first build both succeed, agree on " +
      "values, and leave exactly one published version (atomic rename; " +
      "the loser adopts the winner's artifact)") {
    val dir = s"/tmp/graft_diskidx_xproc/race${System.nanoTime()}"
    val name = "test.idx.race"
    writeSource(dir, 100)
    val procs = (1 to 2).map(_ => startProbe(dir, name, 4))
    val outs = procs.map(probeLine)
    // Both processes return identical values regardless of who won.
    assert(field(outs(0), "rows") == field(outs(1), "rows") &&
      field(outs(0), "total") == field(outs(1), "total"),
      s"racers disagree: ${outs(0)} vs ${outs(1)}")
    // Exactly one published version dir; no leftover temp dirs.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(graft.Cache.SharedRoot)
      .resolve(dir.replaceAll("[^A-Za-z0-9]", "_"))
      .resolve(name.replaceAll("[^A-Za-z0-9]", "_"))
    val children = java.nio.file.Files.list(root).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(children.count(_.startsWith("v_")) == 1,
      s"expected one published version, saw: $children")
    assert(!children.exists(_.startsWith(".tmp_")),
      s"leftover temp dirs after the race: $children")
  }

  test("a version another process republishes after it was deleted " +
      "under this live session is read with the new file listing, no " +
      "rebuild here") {
    val dir = s"/tmp/graft_diskidx_xproc/repub${System.nanoTime()}"
    val name = "test.idx.repub"
    writeSource(dir, 100)
    val before = graft.IndexProbe.builds.get
    def rows = graft.IndexProbe.indexFrame(spark, dir, name)
      .orderBy("k").collect().map(_.toSeq).toSeq
    val r1 = rows
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(graft.Cache.SharedRoot)
      .resolve(dir.replaceAll("[^A-Za-z0-9]", "_"))
      .resolve(name.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .filter(_ != root).foreach(java.nio.file.Files.delete(_))
    val line = probe(dir, name)
    assert(field(line, "builds") == 1,
      s"the second process must rebuild the deleted version: $line")
    Cache.clear(spark, name)
    assert(rows == r1, "the republished version must return the same rows")
    assert(graft.IndexProbe.builds.get == before + 1,
      "this process must read the republished files, not rebuild")
  }

  test("an index written by a 1-core process is read unbucketed by a " +
      "4-core session, so its consumers are not capped at one task") {
    val dir = s"/tmp/graft_diskidx_xproc/narrow${System.nanoTime()}"
    val name = "test.idx.narrow"
    writeSource(dir, 100)
    val line = probe(dir, name, cpus = 1)
    assert(field(line, "builds") == 1, line)
    assert(spark.sparkContext.defaultParallelism == 4)
    val before = graft.IndexProbe.builds.get
    val df = graft.IndexProbe.indexFrame(spark, dir, name)
    assert(graft.IndexProbe.builds.get == before,
      "a narrower writer's artifact is read, not rebuilt")
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(_.contains("test_idx_narrow"))
      .getOrElse(fail("no catalog table registered"))
    assert(tbl.endsWith("_b1"), s"table must carry the recorded count: $tbl")
    assert(numBuckets(tbl).isEmpty, s"$tbl must be declared unbucketed")
    // A consumer keyed on the bucket column shuffles to this
    // session's width instead of inheriting one partition.
    val agg = df.groupBy("k").agg(sum("n").as("n"))
    val plan = agg.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.linesIterator.exists(_.trim.matches("\\(\\d+\\) Exchange")),
      s"expected an exchange on k:\n$plan")
    assert(df.agg(count(lit(1)), sum("s")).head().toSeq ==
      Seq(field(line, "rows"), field(line, "total")))
  }

  /** Writes the events of sf0.01's vessels below `vessels` as the
    * events table of `dir`, in the fixture's own column types. */
  private def writeEvents(dir: String, vessels: Long): Unit = {
    sources += dir
    spark.read.parquet(s"${SparkSpec.sf001}/events.parquet")
      .filter(col("user_id") < vessels)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** The one published version dir of `dir`'s geo.track. */
  private def trackVersions(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(Cache.SharedRoot)
      .resolve(dir.replaceAll("[^A-Za-z0-9]", "_")).resolve("geo_track")
    java.nio.file.Files.list(root).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v_")).toSet
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("event_id").collect().map(_.toSeq).toSeq

  test("rewriting a fixture's events republishes geo.track: the " +
      "fingerprint moved, so the next entry builds a new version") {
    val dir = s"$scratch/track_rewrite"
    writeEvents(dir, 20)
    val t1 = sortedRows(GeoOps.track(spark, dir))
    val v1 = trackVersions(dir)
    assert(v1.size == 1, s"one version after the first build: $v1")
    assert(t1 == sortedRows(GeoOps.trackBuild(spark, dir)))
    writeEvents(dir, 10)
    // No Cache.clear: the entry itself notices the moved fingerprint.
    val t2 = sortedRows(GeoOps.track(spark, dir))
    val v2 = trackVersions(dir) -- v1
    assert(v2.size == 1, s"the rewrite must publish a new version: " +
      trackVersions(dir))
    assert(t2 == sortedRows(GeoOps.trackBuild(spark, dir)))
    assert(t2.map(_.head).distinct.size == 10 && t2 != t1,
      "the republished track must hold the rewritten events")
  }

  test("geo.track written by a 1-core process is read unbucketed by a " +
      "wider session, with the same rows") {
    val dir = s"/tmp/graft_diskidx_xproc/track${System.nanoTime()}"
    writeEvents(dir, 30)
    val line = probe(dir, "geo.track", cpus = 1)
    val v = trackVersions(dir)
    assert(v.size == 1, s"the probe must publish one version: $v")
    val df = GeoOps.track(spark, dir)
    assert(trackVersions(dir) == v, "the narrow track is read, not rebuilt")
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(t => t.contains(v.head.stripPrefix("v_")) &&
        t.contains("geo_track"))
      .getOrElse(fail("no catalog table registered for the track"))
    assert(tbl.endsWith("_b1"), s"table must carry the recorded count: $tbl")
    assert(numBuckets(tbl).isEmpty, s"$tbl must be declared unbucketed")
    assert(sortedRows(df) == sortedRows(GeoOps.trackBuild(spark, dir)))
    assert(df.agg(count(lit(1)), sum(graft.IndexProbe.rowSum("geo.track", df)))
      .head().toSeq == Seq(field(line, "rows"), field(line, "total")))
  }

  test("ann_ivf reads the vec_id-bucketed artifact: no index build in " +
      "the query plan and no candidate-join shuffle") {
    // Force the artifact to exist (first construction may build).
    SparkEntry.queries("ann_ivf")(spark, SparkSpec.sf001).count()
    val p = SparkEntry.queries("ann_ivf")(spark, SparkSpec.sf001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("graft_idx_"),
      s"expected the on-disk index table in the plan:\n$p")
    // Probe side (prk <= nprobe) and member side (prk = 1) both scan
    // the artifact; the member side broadcasts, so the candidate
    // join needs no shuffle exchange and candidates stay v1-local
    // for the top-k window's map-side group limit. The ≤ 4 budget
    // is: top-k window + presentation sort (the warm path's only
    // shuffles) + 2 from the one-time vecs cache-BUILD lineage (its
    // repartition renders inside the InMemoryTableScan sections but
    // never re-executes warm). What must NOT appear is a 5th
    // exchange shuffling candidates into the join.
    val shuffles = p.linesIterator
      .count(_.trim.matches("\\(\\d+\\) Exchange"))
    assert(shuffles <= 4,
      s"ann_ivf grew a candidate-join shuffle, saw $shuffles:\n$p")
  }
}
