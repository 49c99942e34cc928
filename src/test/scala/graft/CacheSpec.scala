package graft

/** Semantics of the shared intermediate cache: build-once memoization,
  * prefix-scoped release, and unpersist-on-clear (the round-2 bench
  * regression came from persisted blocks outliving their consumers —
  * these pins keep the lifetime contract honest). */
class CacheSpec extends SparkSpec {

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
}
