package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class EngineConfSpec extends AnyFunSuite {

  test("small jobs floor at the parallelism") {
    assert(EngineConf.shufflePartitionsFor(1L << 20, 32) == 32)
  }

  test("100 TB shuffle sizes to ~400k spill-free partitions") {
    val p = EngineConf.shufflePartitionsFor(100L << 40, 8000)
    assert(p > 390000 && p < 420000, s"got $p")
  }

  test("confs include AQE + skew handling + UTC") {
    val c = EngineConf.confsFor(10L << 30, 32)
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.shuffle.partitions").toInt >= 32)
    assert(c("spark.sql.session.timeZone") == "UTC")
  }

  test("tuned sessions size cached-plan output by bytes, not by " +
      "shuffle.partitions") {
    // The r16 pin: EngineConf.tuned enables
    // canChangeCachedPlanOutputPartitioning, so a persisted plan
    // whose final stage is a tiny exchange coalesces instead of
    // freezing at spark.sql.shuffle.partitions — the frozen layout
    // cost every exchange over every Cache midpoint 32 near-empty
    // tasks per reference per execution (PLANS.md r16). Assert on
    // the shared spec session (built through tuned): a ~100-row
    // aggregated+sorted persist must come out with FEWER cached
    // partitions than the session's shuffle.partitions would force.
    val s = spark
    assert(s.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
      == "true")
    import org.apache.spark.sql.functions._
    val df = s.range(0, 10000)
      .groupBy((col("id") % 100).as("k")).count()
      .orderBy("k")
      .persist()
    try {
      df.count() // materialize
      val parts = df.rdd.getNumPartitions
      val conf = s.conf.get("spark.sql.shuffle.partitions").toInt
      assert(parts < conf,
        s"cached 100-row frame kept $parts partitions (conf $conf) — " +
          "cached-plan coalescing is off")
    } finally { df.unpersist(); () }
  }

  test("the session factory sets UTC and both tuned confs") {
    // The shared spec session comes from the factory.
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // getOrCreate applies a builder's runtime confs to the active
    // session, so on a session that holds other values for every
    // conf the factory owns, each value below can only come from it.
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    other.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    other.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "7")
    other.conf.set(EngineConf.CheckpointManagerConf, classOf[
      org.apache.spark.sql.execution.streaming.checkpointing
        .FileContextBasedCheckpointFileManager].getName)
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(other)
    try {
      val s = EngineConf.builder(4).getOrCreate()
      assert(s eq other)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true")
      assert(s.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        == "256")
      assert(s.conf.get(EngineConf.CheckpointManagerConf) ==
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
    } finally
      prev.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
  }

  test("the shared session sizes the codegen cache to the working set") {
    // Unlike the runtime confs in the factory test above, this conf
    // is static: the first session in a JVM sets it and a later
    // getOrCreate cannot overwrite it, so it is read off the shared
    // spec session, which the factory built.
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      EngineConf.CodegenCacheEntries.toString)
    // Read when a session is created, so it too is checked here: one
    // executor class loader for every session and session clone.
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") ==
      "false")
  }

  test("SPARK_GRAFT_CPUS: whole numbers >= 1, else every processor") {
    assert(EngineConf.parseCpus(Some("8")) == 8)
    assert(EngineConf.parseCpus(None) ==
      Runtime.getRuntime.availableProcessors)
  }

  test("SPARK_GRAFT_CPUS: anything else fails, naming the variable") {
    Seq("0", "*", "../x", "", "-2", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](
        EngineConf.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }

  def spark = SparkSpec.spark
}
