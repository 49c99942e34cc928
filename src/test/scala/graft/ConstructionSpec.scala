package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Suite-wide pin: building a query returns a LAZY plan — no Spark
  * jobs run until an action. The r13 loader memoization made this
  * true for the whole surface (parquet schema inference was a 1-task
  * job per un-memoized read, charged to every construction), and the
  * zone-graph ops dropped their eager driver fast paths; this spec
  * keeps the property from decaying one query at a time.
  *
  * Attribution is DETERMINISTIC (round-14, closing the round-13
  * advice): after each construction the listener bus is drained with
  * `waitUntilEmpty` before the job queue is sliced, so every
  * recorded job belongs to the query just built — no wall-clock
  * windows, no fixed sleeps, no load-dependent flakiness. (Job
  * SUBMISSION is synchronous inside any construction-time action —
  * count()/write() return only when their jobs finish — so draining
  * delivery is the only async edge.)
  *
  * The whitelist is every query whose construction RUNS something by
  * documented design, each with the reason. Anything else submitting
  * even one job fails with the query named.
  */
class ConstructionSpec extends SparkSpec {

  /** Construction-time jobs accepted by design. */
  private val whitelisted: Map[String, String] = Map(
    // ccFixedPoint's bounded-path dispatch counts the pair graph —
    // the broadcast-threshold-planner analogue; pair counts are
    // corpus-dependent, so no static bound can replace the count.
    // Since r17 the first construction may also build + write the
    // pair-graph disk artifact (sorted first in the dedup family, it
    // is the one that pays the indexing job).
    "dedup_clusters" -> "pair-graph threshold count + one-time pair index write",
    // If constructed before dedup_clusters in a fresh process (spec
    // order is sorted, but other suites construct queries directly),
    // the pair-graph artifact build lands here instead.
    "dedup_minhash" -> "one-time pair index build + write",
    // The ANN index is an on-disk artifact (Cache.diskBacked, r17):
    // the FIRST construction per process builds and writes it — the
    // indexing job a real deployment runs once — and every later
    // construction re-opens the bucketed table with zero jobs
    // (DiskIndexSpec pins both halves).
    "ann_lsh" -> "one-time LSH index build + write",
    "ann_ivf" -> "one-time IVF index build + write",
    "dedup_embed_ann" -> "one-time LSH index build + write",
    // The per-vessel track (GeoOps.track) is an on-disk artifact of
    // the same kind: whichever of its consumers is constructed first
    // in a process with no published version builds and writes it.
    // Every per-vessel hop query reads it.
    "geo_track_length" -> "one-time geo.track build + write",
    "geo_headings" -> "one-time geo.track build + write",
    "geo_speed_flags" -> "one-time geo.track build + write",
    "geo_zone_dwell" -> "one-time geo.track build + write",
    "geo_voyages" -> "one-time geo.track build + write",
    "geo_od_matrix" -> "one-time geo.track build + write",
    "geo_lanes_top" -> "one-time geo.track build + write",
    "geo_zone_rank" -> "one-time geo.track build + write",
    "geo_zone_components" -> "one-time geo.track build + write",
    "geo_zone_entries" -> "one-time geo.track build + write",
    // The roundtrip/layout queries' SEMANTICS are "write this
    // layout, read it back": the write (and the re-read's schema
    // inference over scratch files) is the operator under test.
    "sink_upsert_merge" -> "MERGE rewrites the target table",
    "source_bucketed_join" -> "one-time bucketed layout write",
    "source_csv_roundtrip" -> "csv write + schema-inferring re-read",
    "source_jsonl_roundtrip" -> "jsonl write + schema-inferring re-read",
    "source_orc_roundtrip" -> "orc write + re-read",
    "source_partitioned_prune" -> "partitioned layout write + re-read",
    "source_schema_evolution" -> "two-vintage layout write + re-read")

  test("every non-whitelisted query constructs with ZERO Spark jobs") {
    // Pre-warm the table memo: first-load schema inference is a
    // once-per-session catalog cost, not a per-construction one.
    Tables.names.foreach(n => Tables.table(spark, SparkSpec.sf001, n))
    val jobs =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.headOption.map(_.name).getOrElse("?"))
        ()
      }
    }
    def drained(): Int = {
      GraftTestBus.waitUntilEmpty(spark.sparkContext)
      jobs.size
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drained() // flush anything in flight from the pre-warm
      val offenders =
        SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
          val before = drained()
          SparkEntry.queries(name)(spark, SparkSpec.sf001)
          val after = drained()
          val mine = jobs.toArray(Array.empty[String])
            .slice(before, after)
          if (mine.nonEmpty && !whitelisted.contains(name))
            Some(s"$name (${mine.length} job(s): " +
              mine.map(_.takeWhile(_ != '\n')).mkString("; ") + ")")
          else None
        }
      assert(offenders.isEmpty,
        "queries ran Spark jobs at CONSTRUCTION (lazy-plan contract):\n  "
          + offenders.mkString("\n  "))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
