package graft

/** Empirical scaling curves for the heavy-tail queries (the r13
  * verdict's top next-round item): time the same declared query at
  * several scale-factor dirs and print one JSON line per
  * (dir, query) with cold/warm seconds and output rows, for the
  * SCALING.md slope table.
  *
  * Attribution discipline: queries run in sorted order and the
  * shared [[Cache]] is cleared after EVERY query, so each timing
  * pays its own full cache build — cross-dir ratios then compare
  * identical work, which per-suite release schedules would blur.
  * rep2 runs with the query's caches still alive (the marginal
  * long-session cost); skipped when rep1 exceeds 120 s (declared
  * quadratic baselines at the top scale).
  *
  * Usage: runMain graft.ScalingBench <dir> [dir ...]
  */
object ScalingBench {

  /** The r13 verdict's top-10 warm queries, plus two cheap linear
    * references (dedup_minhash, text_tfidf) for curve contrast. */
  val targets: Seq[String] = Seq(
    "ann_ivf", "ann_lsh", "dedup_clusters", "dedup_embed_ann",
    "dedup_minhash", "events_concurrency", "geo_co_presence",
    "geo_lanes_top", "pipeline_corpus_prep", "similarity_topk_per_query",
    "text_contamination", "text_tfidf")

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1",
        "/tmp/graft_sf1")
    // SPARK_GRAFT_SCALING_TARGETS=a,b overrides the query set — any
    // DECLARED query is allowed (per-axis fixtures carry only some
    // tables, e.g. the 100x embeddings dir can only run the
    // embedding-driven queries; the relational axis needs queries
    // outside the pipeline heavy tail). Unknown names are dropped
    // rather than thrown so a typo can't kill a multi-dir run.
    val run = sys.env.get("SPARK_GRAFT_SCALING_TARGETS")
      .map(_.split(",").toSet.intersect(SparkEntry.queries.keySet))
      .getOrElse(targets.toSet)
    val spark = EngineConf.builder(EngineConf.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warmup on the smallest dir (untimed)
    Tables.names.foreach(n =>
      try { Tables.table(spark, dirs.head, n).count() }
      catch { case _: Throwable => () })
    dirs.foreach { d =>
      run.toSeq.sorted.foreach { q =>
        def run(): (Double, Long) = {
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(q)(spark, d).count()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        try {
          val (t1, rows) = run()
          val t2 = if (t1 <= 120.0) run()._1 else -1.0
          println(f"""SCALING {"dir":"$d","query":"$q",""" +
            f""""cold":$t1%.3f,"warm":$t2%.3f,"rows":$rows}""")
        } catch {
          case t: Throwable =>
            val msg = (Option(t.getMessage) ++
              Option(t.getCause).flatMap(c => Option(c.getMessage)))
              .mkString(" <- ").replaceAll("[\"\\n]", " ").take(300)
            println(s"""SCALING {"dir":"$d","query":"$q","error":"""
              + s""""${t.getClass.getSimpleName}: $msg"}""")
        }
        Cache.clear(spark)
      }
    }
    spark.stop()
  }
}
