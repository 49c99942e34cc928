package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Semantics of the shared intermediate cache: build-once memoization,
  * prefix-scoped release, and unpersist-on-clear (the round-2 bench
  * regression came from persisted blocks outliving their consumers —
  * these pins keep the lifetime contract honest). */
class CacheSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val tmpDir =
    java.nio.file.Files.createTempDirectory("graft-cache-spec")

  /** The source dir of the diskBacked test. */
  private lazy val reentryDir = tmpDir.resolve("reentry").toString

  override def afterAll(): Unit = {
    Cache.deleteRecursively(tmpDir)
    Cache.deleteRecursively(Cache.sharedRootOf(reentryDir))
    super.afterAll()
  }

  private def freshDf(tag: Int) = {
    val s = spark
    import s.implicits._
    Seq((tag, "x")).toDF("k", "v")
  }

  test("cached builds once per key and memoizes the frame") {
    var builds = 0
    def get() = Cache.cached(spark, "/tmp/cs", "spec.one") {
      builds += 1; freshDf(1)
    }
    val a = get(); val b = get()
    assert(builds == 1)
    assert(a eq b)
    Cache.clear(spark, "spec.")
  }

  test("clear(prefix) releases only matching entries") {
    var b1 = 0; var b2 = 0
    def g1() = Cache.cached(spark, "/tmp/cs", "spec.grpA.x") {
      b1 += 1; freshDf(2)
    }
    def g2() = Cache.cached(spark, "/tmp/cs", "spec.grpB.y") {
      b2 += 1; freshDf(3)
    }
    g1(); g2()
    Cache.clear(spark, "spec.grpA")
    g1(); g2()
    assert(b1 == 2, "cleared entry must rebuild")
    assert(b2 == 1, "unmatched entry must survive")
    Cache.clear(spark, "spec.")
  }

  test("clear unpersists the underlying blocks") {
    val df = Cache.cached(spark, "/tmp/cs", "spec.persisted") {
      freshDf(4)
    }
    df.count() // materialize the block
    assert(df.storageLevel.useMemory || df.storageLevel.useDisk)
    Cache.clear(spark, "spec.")
    // after clear the plan is no longer marked for caching
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("releaseAfter follows the schedule, keyed by declared queries") {
    // A misspelt key would never fire and leave its group persisted
    // for the rest of the pass.
    val unknown = Cache.releaseSchedule.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"schedule keys that are not queries: $unknown")
    var builds = 0
    def get() = Cache.cached(spark, "/tmp/cs", "sim.ivf.spec") {
      builds += 1; freshDf(5)
    }
    get()
    Cache.releaseAfter(spark, "ann_lsh") // not a release point
    get()
    assert(builds == 1)
    Cache.releaseAfter(spark, "ann_ivf") // releases sim.ivf
    get()
    assert(builds == 2)
    Cache.clear(spark, "sim.ivf.spec")
  }

  test("fingerprint: the JDK walk reads what Hadoop's listFiles reads," +
      " a single file and a nested directory, hidden .crc files skipped") {
    val d = tmpDir.resolve("fp").toString
    // Partitioned parquet through Hadoop's local file system: nested
    // directories, `_SUCCESS`, and a hidden `.crc` beside every file.
    spark.range(40).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(s"$d/nested")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/nested/.kept"),
      Array[Byte](1, 2, 3))
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val one = new Path(s"$d/one.bin")
    val o = fs.create(one)
    o.write(Array.fill[Byte](100)(7))
    o.close()
    assert(new java.io.File(s"$d/.one.bin.crc").exists)
    val crcs = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$d/nested"))
      .filter { f =>
        val n = f.getFileName.toString
        n.startsWith(".") && n.endsWith(".crc")
      }.count()
    assert(crcs > 0, "the writer left no checksum files to skip")
    Seq(s"$d/nested", one.toString, s"$d/absent").foreach { p =>
      assert(Cache.fingerprint(spark, p) ==
        Cache.listedFingerprint(fs, new Path(p)), p)
    }
    assert(Cache.fingerprint(spark, one.toString).startsWith("1:100:"))
    assert(Cache.fingerprint(spark, s"$d/absent") == "absent")
  }

  test("a diskBacked re-entry starts no process") {
    val d = reentryDir
    spark.range(20).write.parquet(s"$d/src.parquet")
    def entry() = Cache.diskBacked(spark, d, "spec.reentry", "src.parquet",
      Seq("id"))(spark.read.parquet(s"$d/src.parquet"))
    entry().count() // builds, publishes and attaches the artifact
    val (_, starts) = ProcessStarts.during(entry().count())
    val hadoop = ProcessStarts.fromHadoopFs(starts)
    assert(hadoop.isEmpty, hadoop.map(_.command).mkString("; "))
    // Hadoop's listing of the same source forks (`ls -ld` per file):
    // the census sees what the JDK walk removed.
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val (_, listed) = ProcessStarts.during(
      Cache.listedFingerprint(fs, new Path(s"$d/src.parquet")))
    assert(ProcessStarts.fromHadoopFs(listed).nonEmpty)
    Cache.clear(spark, "spec.reentry")
  }
}
