package graft

/** Plan auditor: dumps `explain("formatted")` for the named queries
  * (or a representative default set) so scan pushdown, column
  * pruning, join strategies, and WholeStageCodegen spans can be
  * reviewed per SURVEY.md §4.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("scan_filter_pushdown", "scan_projection",
        "join_broadcast", "join_5way", "agg_pricing_summary",
        "similarity_knn", "dedup_minhash", "stream_session",
        "ann_lsh", "geo_voyages", "text_pack_bins",
        // round 4-7 representatives: one per new plan family
        "dedup_exact_fingerprint", "window_distinct_users",
        "geo_od_matrix", "text_contamination", "events_anomaly_mad",
        "events_retention", "geo_triangles", "pipeline_quality_filter")
    val spark = EngineConf.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
