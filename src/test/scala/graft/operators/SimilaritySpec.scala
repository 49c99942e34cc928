package graft.operators

import graft.SparkSpec
import graft.EngineConf
import org.apache.spark.sql.functions.col

/** ANN quality AND cost: multi-table multi-probe LSH and IVF recall
  * against the brute-force twin at every fixture SF, candidate-volume
  * bounds (an ANN that scans more than brute force is not an ANN),
  * LSH-blocked embedding dedup coverage incl. a below-threshold
  * margin, plus structural invariants of the top-k outputs. Recall
  * here is DETERMINISTIC per dataset (fixed-seed hyperplanes/seeds),
  * so these are regression pins, not flaky statistical tests. */
class SimilaritySpec extends SparkSpec {

  private val allSfs = Seq(SparkSpec.sf0001, SparkSpec.sf001, SparkSpec.sf01)

  private def topkPairs(sf: String): Set[(Long, Long)] =
    Similarity.queries("similarity_topk_per_query")(spark, sf)
      .filter("rk <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet

  private def recall(name: String, sf: String): Double = {
    val brute = topkPairs(sf)
    val ann = Similarity.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    (brute & ann).size.toDouble / brute.size
  }

  test("ann_lsh recall@3 vs brute force >= 0.9 at every SF") {
    allSfs.foreach { sf =>
      val r = recall("ann_lsh", sf)
      info(f"ann_lsh recall@3 = $r%.3f at $sf")
      assert(r >= 0.9, f"recall $r%.3f too low at $sf")
    }
  }

  test("ann_ivf recall@3 vs brute force >= 0.9 at every SF") {
    allSfs.foreach { sf =>
      val r = recall("ann_ivf", sf)
      info(f"ann_ivf recall@3 = $r%.3f at $sf")
      assert(r >= 0.9, f"recall $r%.3f too low at $sf")
    }
  }

  test("ann_lsh candidate volume stays below the brute-force scan") {
    // The cost side of the recall/cost trade: at the bench SF the
    // mean directed candidates per query must undercut the n-1 pairs
    // a brute-force scan scores. (At the toy SFs a multi-table index
    // necessarily over-covers 500 vectors; the bound that matters is
    // the large-n one — candidates ≈ tables·occupancy·probes stays
    // CONSTANT as n grows, brute force grows linearly.)
    val sf = SparkSpec.sf01
    val n = EngineConf.parquetRowCount(spark, s"$sf/embeddings.parquet")
    val cand = Similarity.lshCandidates(spark, sf,
      Similarity.AnnH1Tables).count()
    val perQuery = cand.toDouble / n
    info(f"ann_lsh candidates/query = $perQuery%.0f (n=$n)")
    assert(perQuery <= 0.8 * n,
      f"candidate volume $perQuery%.0f exceeds 0.8·n — the ANN is " +
        "doing more work than brute force")
  }

  test("lshCandidates: wide-bucket-join path == broadcast-attach path") {
    // The scale fallback must be value-identical to the fixture-scale
    // plan: attachMaxRows = 0 forces the embeddings-ride-the-bucket-
    // join path that n > AttachBroadcastMaxRows (500k vectors)
    // selects in production, where explicit broadcast of the vector
    // pack stops being bounded. Compare full scored candidate
    // multisets (same pairs, same 4dp cosines, same per-collision
    // multiplicities) at two SFs.
    Seq(SparkSpec.sf0001, SparkSpec.sf001).foreach { sf =>
      def multiset(attachMax: Long): Map[(Long, Long, Double), Int] =
        Similarity.lshCandidates(spark, sf,
          Similarity.AnnH1Tables, attachMaxRows = attachMax)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(identity).view.mapValues(_.length).toMap
      val broadcastPath = multiset(Long.MaxValue)
      val widePath = multiset(0L)
      assert(broadcastPath == widePath,
        s"scored candidate multisets diverge between attach paths at $sf")
    }
  }

  test("ann_ivf probed fraction is bounded (and documented honest)") {
    // The probed-cell fraction IS the IVF cost knob: work/query ≈
    // fraction · n. Pin it so a future retune can't silently drift
    // back toward exhaustive probing; the 0.6 value itself is the
    // measured floor for recall 0.9 on this isotropic fixture (no
    // cluster structure to exploit).
    assert(Similarity.IvfProbeFraction <= 0.6)
    allSfs.foreach { sf =>
      val n = EngineConf.parquetRowCount(spark, s"$sf/embeddings.parquet")
      val k = Similarity.ivfCells(n)
      val frac = Similarity.ivfNprobe(k).toDouble / k
      // +1/k: nprobe is a ceil, so one cell of slack at small k.
      assert(frac <= Similarity.IvfProbeFraction + 1.0 / k,
        f"probed fraction $frac%.2f exceeds bound at $sf")
    }
  }

  test("dedup_embed_ann == dedup_embed exactly (block recall 1.0)") {
    allSfs.foreach { sf =>
      val exact = Dedup.queries("dedup_embed")(spark, sf).collect()
        .map(_.toString).toSeq
      val blocked = Dedup.queries("dedup_embed_ann")(spark, sf).collect()
        .map(_.toString).toSeq
      assert(exact.nonEmpty)
      assert(blocked == exact,
        s"LSH blocking missed/added pairs at $sf")
    }
  }

  test("LSH blocking covers every pair down to cos 0.40 (margin)") {
    // The dedup_embed_ann oracle is the EXACT all-pairs SQL at
    // cos >= 0.45; its hash match depends on the blocking covering
    // every qualifying pair. This pins coverage 0.05 BELOW the
    // threshold, so qualifying pairs sit well inside the covered
    // region, not on its edge. Contingency if a future SF breaks
    // this: demote dedup_embed_ann to no-oracle and keep the
    // equality spec above.
    allSfs.foreach { sf =>
      val exact40 = Similarity.halfPairs(spark, sf)
        .filter("cos >= 0.40").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val covered = Dedup.embedAnnPairs(spark, sf,
          Similarity.DedupH1Tables, 0.40)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact40.nonEmpty)
      assert((exact40 -- covered).isEmpty,
        s"blocking misses margin pairs at $sf: ${exact40 -- covered}")
    }
  }

  test("ann_ivf reaches recall 0.9 at probed fraction <= 0.15 on " +
      "CLUSTERED data") {
    // The fixture embeddings are isotropic — the documented reason
    // IVF needs probed fraction 0.6 there. This test turns the
    // "real embeddings cluster, so a small nprobe suffices" claim
    // into a measured fact: a deterministic clustered fixture
    // (8 well-separated gaussian clusters, 500 vectors, fixed seed)
    // written as a normal embeddings.parquet dir, run through the
    // EXACT ivfTopK code path, must hit recall@3 >= 0.9 while
    // probing <= 15% of cells.
    val dir = clusteredFixtureDir
    val n = EngineConf.parquetRowCount(spark, s"$dir/embeddings.parquet")
    assert(n == 500)
    val k = Similarity.ivfCells(n)
    val nprobe = math.max(2, math.floor(0.15 * k).toInt)
    assert(nprobe.toDouble / k <= 0.15)
    val brute = Similarity
      .queries("similarity_topk_per_query")(spark, dir)
      .filter("rk <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.ivfTopK(spark, dir, k, nprobe).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    info(f"clustered-fixture ann_ivf recall@3 = $recall%.3f " +
      f"at probed fraction ${nprobe.toDouble / k}%.3f (k=$k)")
    assert(recall >= 0.9,
      f"clustered-data recall $recall%.3f < 0.9 — the IVF " +
        "clustered-data claim does not hold")
  }

  /** Deterministic clustered embeddings written once per suite run:
    * 8 gaussian cluster centers in 64-dim, 500 points = center +
    * N(0, 0.15) noise, cluster chosen as vec_id % 8 so the k lowest
    * vec_ids (the IVF seeds) cover every cluster. */
  private lazy val clusteredFixtureDir: String = {
    val dir = "target/test-fixtures/clustered-embeddings"
    val rng = new java.util.Random(7L)
    val centers = Array.fill(8, 64)(rng.nextGaussian())
    val rows = (0L until 500L).map { id =>
      val c = centers((id % 8).toInt)
      (id, c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat))
    }
    val s = spark; import s.implicits._
    // label = cluster id: keeps the fixture conformant with the
    // embeddings table contract (Tables.assertSchema requires it).
    rows.toDF("vec_id", "embedding")
      .withColumn("label", (col("vec_id") % 8).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("ivf cells partition the collection") {
    val (assigned, means) = Similarity.ivfIndex(spark, SparkSpec.sf0001, 16)
    assert(assigned.count() == 500)          // every vector assigned
    assert(assigned.select("vec_id").distinct().count() == 500)
    assert(means.count() <= 16)              // at most k non-empty cells
  }

  test("similarity_topk_per_query: every vector gets <= 5 ranked rows") {
    val rows = Similarity.queries("similarity_topk_per_query")(
      spark, SparkSpec.sf0001).collect()
    val byV = rows.groupBy(_.getLong(0))
    assert(byV.values.forall(_.length <= 5))
    byV.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      // ranks ordered by non-increasing cosine
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("similarity_knn pairs are canonical (v1 < v2) and sorted") {
    val rows = Similarity.queries("similarity_knn")(
      spark, SparkSpec.sf0001).collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val cs = rows.map(_.getDouble(2))
    assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
  }
}
