package graft

/** A warm pass reuses every generated class of the pass before it.
  *
  * Spark caches compiled codegen classes keyed by their source text
  * and the compiling thread's class loader. Under Spark's defaults the
  * lane pipeline (the 8 queries of perfbench's `lanes_corpus`
  * workload, 154 classes) cycles through a 100-entry LRU, and every
  * [[Cache]] build runs under a new class loader, so each warm pass
  * recompiles most of its classes; [[EngineConf.tuned]] sizes the
  * cache to the engine's working set and turns per-session artifact
  * isolation off. This spec pins the effect as a count: after a cold pass and a [[Cache.clear]] (which rebuilds every
  * shared midpoint, as Bench and the benchmark do between passes), the
  * warm pass compiles zero classes. A plan that inlines a per-run
  * literal into generated code would also fail here. */
class CodegenReuseSpec extends SparkSpec {

  private val lanesCorpus = Seq(
    "geo_voyages", "geo_od_matrix", "geo_lanes_top", "geo_zone_entries",
    "geo_zone_rank", "dedup_minhash", "dedup_clusters",
    "source_csv_roundtrip")

  /** Janino compilations one pass over the queries caused. */
  private def pass(): Long = {
    val before = EngineConf.codegenCompiles
    lanesCorpus.foreach(q =>
      SparkEntry.queries(q)(spark, SparkSpec.sf001)
        .queryExecution.toRdd.count())
    Cache.clear(spark)
    EngineConf.codegenCompiles - before
  }

  test("a warm lanes_corpus pass compiles no generated class") {
    val cold = pass()
    val warm = pass()
    assert(warm == 0,
      s"warm pass recompiled $warm classes (cold pass compiled $cold)")
  }
}
