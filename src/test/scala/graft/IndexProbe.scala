package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-process probe for the cross-process index-artifact contract
  * (Cache.diskBacked, r18): DiskIndexSpec builds a synthetic index in
  * the test JVM, then launches THIS main in a separate JVM
  * ([[FreshJvm]]), which opens the same (dir, name) artifact and
  * reports — on one parseable stdout line — whether its own build
  * closure ran and how many Spark jobs the open scheduled. A correct cross-process layer reports
  * builds=0 / construct_jobs=0: the second process re-attached the
  * published files instead of rebuilding.
  *
  * The build closure lives HERE (not in the spec) so both processes
  * share one definition — if the second process DID fall back to
  * building, it would still produce identical values, and the spec's
  * value-equality assertion would pass while builds=1 failed loudly.
  */
object IndexProbe {

  /** Build count for [[indexFrame]] calls in THIS JVM. */
  val builds = new AtomicInteger(0)

  /** The shared synthetic index: per-k aggregates over `emb.parquet`
    * in `dir`, disk-backed and bucketed by k. */
  def indexFrame(s: SparkSession, dir: String, name: String): DataFrame =
    Cache.diskBacked(s, dir, name, "emb.parquet", Seq("k")) {
      builds.incrementAndGet()
      s.read.parquet(s"$dir/emb.parquet")
        .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
    }

  /** The artifact `name` over `dir`: the per-vessel track for
    * "geo.track" ([[operators.GeoOps.track]], over `events.parquet`),
    * else [[indexFrame]]. */
  private def open(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "geo.track") operators.GeoOps.track(s, dir)
    else indexFrame(s, dir, name)

  /** A per-row value whose sum identifies the artifact's rows (a
    * row hash, reduced so the sum cannot overflow). */
  private[graft] def rowSum(name: String, df: DataFrame): Column =
    if (name == "geo.track")
      xxhash64(df.columns.map(col).toSeq: _*) % 1000000007L
    else col("s")

  /** Args: `dir name [cpus]`; `cpus` (default 4) sizes the probe's
    * local master, and with it the bucket count a build records. */
  def main(args: Array[String]): Unit = {
    val Array(dir, name) = args.take(2)
    val cpus = args.lift(2).fold(4)(_.toInt)
    val spark = EngineConf.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val df = open(spark, dir, name)
    org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    val constructJobs = jobs.get
    spark.sparkContext.removeSparkListener(l)
    val row = df.agg(count(lit(1)).as("rows"),
      sum(rowSum(name, df)).as("total")).head()
    println(s"""INDEXPROBE {"builds":${builds.get},""" +
      s""""construct_jobs":$constructJobs,"rows":${row.getLong(0)},""" +
      s""""total":${row.getLong(1)}}""")
    spark.stop()
  }
}
