package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = EngineConf.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
}
