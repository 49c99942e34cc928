package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The sharded route of Similarity.annTopK — the declared design for
  * collections past the single-artifact attach ceiling (~4M vectors):
  * index partitions by vec_id into per-shard diskBacked artifacts,
  * queries replicate, per-shard top-k unions into an EXACT global
  * top-k. These specs force the route with a small `attachMaxRows`
  * and pin the exactness claim (shard-union == unsharded, the
  * property that makes sharding a deployment choice instead of a
  * recall trade) and the shard partition invariants it rests on.
  */
class ShardSpec extends SparkSpec {

  /** annTopK forced onto `shards` per-shard top-k artifacts: an attach
    * bound of ceil(n / shards) rows. Asserts each artifact exists. */
  private def shardedTopK(d: String, shards: Int): Seq[Seq[Any]] = {
    val n = graft.EngineConf.parquetRowCount(spark,
      s"$d/embeddings.parquet")
    val out = Similarity
      .annTopK(spark, d, Similarity.AnnH1Tables,
        attachMaxRows = (n + shards - 1) / shards)
      .collect().map(_.toSeq).toSeq
    val dirTag = d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val topk = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.contains(dirTag) && t.contains("sim_lsh_topk"))
    (0 until shards).foreach { i =>
      assert(topk.exists(_.contains(s"_s${i}_of${shards}_")),
        s"no top-k artifact for shard $i of $shards at $d, saw: " +
          topk.mkString(", "))
    }
    out
  }

  test("2-shard union == unsharded ann top-k, row for row (sf0.01 " +
      "and sf0.1)") {
    for (d <- Seq(SparkSpec.sf001, SparkSpec.sf01)) {
      val base = Similarity.annTopK(spark, d, Similarity.AnnH1Tables)
        .collect().map(_.toSeq).toSeq
      val sharded = shardedTopK(d, 2)
      assert(sharded == base,
        s"2-shard result diverges from unsharded at $d: " +
          s"${sharded.size} vs ${base.size} rows")
    }
  }

  test("3-shard union == unsharded (shard count is a free deployment " +
      "knob, not a semantic one)") {
    val d = SparkSpec.sf001
    val base = Similarity.annTopK(spark, d, Similarity.AnnH1Tables)
      .collect().map(_.toSeq).toSeq
    val sharded = shardedTopK(d, 3)
    assert(sharded == base)
  }

  test("shards PARTITION the signature set: disjoint by member, " +
      "union == the unsharded index") {
    val d = SparkSpec.sf001
    val full = Similarity.lshBuckets(spark, d)
    val parts = (0 until 2).map(i => Similarity.lshBucketsShard(spark, d, i, 2))
    // disjoint members
    val overlap = parts(0).select("vec_id").distinct()
      .join(parts(1).select("vec_id").distinct(), "vec_id").count()
    assert(overlap == 0, s"shards share $overlap members")
    // union covers exactly the unsharded signature rows
    val union = parts.reduce(_ unionAll _)
    assert(union.count() == full.count())
    assert(union.exceptAll(full).count() == 0
      && full.exceptAll(union).count() == 0,
      "shard union != unsharded signature set")
  }

  test("annTopK's scale dispatch: a forced small bound routes through " +
      "per-shard top-k ARTIFACTS and returns the identical result") {
    val d = SparkSpec.sf01
    val base = Similarity.annTopK(spark, d, Similarity.AnnH1Tables)
      .collect().map(_.toSeq).toSeq
    // n = 2000, bound 700 → ceil = 3 shard jobs, each a diskBacked
    // artifact build; the dispatched query is scans + re-rank.
    val dispatched = Similarity
      .annTopK(spark, d, Similarity.AnnH1Tables, attachMaxRows = 700)
      .collect().map(_.toSeq).toSeq
    assert(dispatched == base,
      s"sharded dispatch diverges: ${dispatched.size} vs ${base.size}")
    val topkTables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.contains("sim_lsh_topk"))
    assert(topkTables.length >= 3,
      s"expected 3 per-shard top-k artifacts, saw: "
        + topkTables.mkString(", "))
  }

  test("past the 16-shard cap the dispatcher FAILS FAST with a " +
      "past-single-box-scale error (r18 advice: a silent cap would " +
      "put > bound rows in every member-side broadcast)") {
    val d = SparkSpec.sf001
    val n = graft.EngineConf.parquetRowCount(spark,
      s"$d/embeddings.parquet")
    // bound 1 → needed = n shards >> 16; must throw at PLAN time
    // (before any job), naming the cap and the remedy.
    val e = intercept[IllegalStateException] {
      Similarity.annTopK(spark, d, Similarity.AnnH1Tables,
        attachMaxRows = 1)
    }
    assert(e.getMessage.contains("single-box")
      && e.getMessage.contains(s"$n vectors"), e.getMessage)
    // ... and one shard short of the cap still dispatches (the cap is
    // needed > MaxShards, not >=): bound ceil(n/16) → needed == 16.
    val bound16 = (n + Similarity.MaxShards - 1) / Similarity.MaxShards
    Similarity.annTopK(spark, d, Similarity.AnnH1Tables,
      attachMaxRows = bound16)
  }

  test("attach bound derives from the SESSION at call time: local " +
      "master reads this JVM's heap; the budget math matches the " +
      "measured calibration points") {
    // local[...] master → maxMemory()/6400 capped at 4M
    assert(Similarity.attachBroadcastMaxRows(spark) ==
      math.min(4000000L, Runtime.getRuntime.maxMemory() / 6400L))
    // calibration: 16 GiB passes at 2M (bound above it), 8 GiB fails
    // at 2M (bound below it) — the r18 measured pass/fail pair.
    assert(Similarity.boundForHeap(16L << 30) > 2000000L)
    assert(Similarity.boundForHeap(8L << 30) < 2000000L)
    // design cap: no heap lifts the bound past 4M rows.
    assert(Similarity.boundForHeap(1L << 40) == 4000000L)
  }

  test("each shard is its own on-disk artifact (the artifact layer's " +
      "bucketing is the shard key)") {
    val d = SparkSpec.sf001
    (0 until 2).foreach(i => Similarity.lshBucketsShard(spark, d, i, 2).count())
    val idx = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.contains("s0_of2") || t.contains("s1_of2"))
    assert(idx.length >= 2,
      s"expected two shard artifacts in the catalog, saw: " +
        idx.mkString(", "))
  }
}
