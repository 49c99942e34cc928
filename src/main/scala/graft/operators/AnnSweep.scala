package graft.operators

import graft.{Cache, EngineConf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool, ONE command: re-validate (and on failure re-derive) the
  * ANN constants in [[Similarity]] against the CURRENT fixture.
  *
  * Fixture regenerations are a recurring driver event, and constants
  * tuned on a dead fixture are silent-decay candidates (the r12
  * verdict's watch item). This closes the loop:
  *
  *  - Phase 1 (always, fast): measure the constants the declared
  *    queries actually use — ann_lsh recall@3 + directed
  *    candidates/query, dedup_embed_ann pair coverage at cos ≥ 0.45
  *    (oracle) and ≥ 0.40 (margin), ann_ivf recall@3 + probed
  *    fraction — and PASS/FAIL each against the SimilaritySpec
  *    thresholds.
  *  - Phase 2 (on any FAIL, or `--grid`): sweep the LSH
  *    (tables, occupancy, annH1) and IVF (cells, iters, fraction)
  *    grids with the exact declared pipelines and print the measured
  *    table to re-pick constants from.
  *
  * Exit code 0 = current constants hold on this fixture; 1 = re-tune
  * needed (grid table printed). Run it after any data regeneration;
  * paste the output into the round log.
  *
  * Usage: runMain graft.operators.AnnSweep [--grid] [sfDir ...]
  */
object AnnSweep {

  private case class Fixture(d: String, n: Long,
      brute3: Set[(Long, Long)],
      pairs45: Set[(Long, Long)], pairs40: Set[(Long, Long)])

  private def fixture(spark: SparkSession, d: String): Fixture = {
    val n = EngineConf.parquetRowCount(spark, s"$d/embeddings.parquet")
    val brute = Similarity.queries("similarity_topk_per_query")(spark, d)
      .filter("rk <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val half45 = Similarity.halfPairs(spark, d)
      .filter(col("cos") >= 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val half40 = Similarity.halfPairs(spark, d)
      .filter(col("cos") >= 0.40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Fixture(d, n, brute, half45, half40)
  }

  /** recall@3, candidates/query, dedup misses for one LSH config. */
  private def evalLsh(spark: SparkSession, fx: Fixture, tables: Int,
      bits: Int, annH1: Int, dedupH1: Int):
      (Double, Double, Int, Int) = {
    val nCand = Similarity
      .lshCandidates(spark, fx.d, tables, bits, Similarity.LshSeed, annH1)
      .count()
    val ann = Similarity
      .annTopK(spark, fx.d, tables, bits, Similarity.LshSeed, annH1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val cov45 = Dedup.embedAnnPairs(spark, fx.d, tables, bits,
      Similarity.LshSeed, dedupH1, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cov40 = Dedup.embedAnnPairs(spark, fx.d, tables, bits,
      Similarity.LshSeed, dedupH1, 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Cache.clear(spark, "sim.lsh")
    ((fx.brute3 & ann).size.toDouble / math.max(1, fx.brute3.size),
      nCand.toDouble / math.max(1L, fx.n),
      (fx.pairs45 -- cov45).size, (fx.pairs40 -- cov40).size)
  }

  private def evalIvf(spark: SparkSession, fx: Fixture, k: Int,
      nprobe: Int, iters: Int): Double = {
    val ann = Similarity.ivfTopK(spark, fx.d, k, nprobe, iters)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    Cache.clear(spark, "sim.ivf")
    (fx.brute3 & ann).size.toDouble / math.max(1, fx.brute3.size)
  }

  def main(args: Array[String]): Unit = {
    val grid = args.contains("--grid")
    val dirs = args.filterNot(_.startsWith("--")).toSeq match {
      case Nil => Seq("/root/testdata/sf0.1")
      case ds  => ds
    }
    val spark = graft.EngineConf.builder(graft.EngineConf.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var retune = false
    val failing = dirs.flatMap { d =>
      val fx = fixture(spark, d)
      val bits = Similarity.lshBits(fx.n)
      println(s"== $d  n=${fx.n}  brute3=${fx.brute3.size}" +
        s"  pairs45=${fx.pairs45.size}  pairs40=${fx.pairs40.size}")
      println(s"   current: LshTables=${Similarity.LshTables}" +
        s" bits=$bits AnnH1=${Similarity.AnnH1Tables}" +
        s" DedupH1=${Similarity.DedupH1Tables}" +
        s" IvfCells=${Similarity.ivfCells(fx.n)}" +
        s" nprobe=${Similarity.ivfNprobe(Similarity.ivfCells(fx.n))}" +
        s" iters=${Similarity.IvfLloydIters}")
      val (rLsh, candQ, miss45, miss40) = evalLsh(spark, fx,
        Similarity.LshTables, bits, Similarity.AnnH1Tables,
        Similarity.DedupH1Tables)
      val k = Similarity.ivfCells(fx.n)
      val np = Similarity.ivfNprobe(k)
      val rIvf = evalIvf(spark, fx, k, np, Similarity.IvfLloydIters)
      // The SimilaritySpec thresholds, verbatim.
      val checks = Seq(
        ("ann_lsh recall@3 >= 0.9", f"$rLsh%.3f", rLsh >= 0.9),
        ("ann_lsh cand/query <= 0.8n", f"$candQ%.0f vs ${0.8 * fx.n}%.0f",
          candQ <= 0.8 * fx.n),
        ("dedup pair coverage @0.45 total", s"miss=$miss45", miss45 == 0),
        ("dedup pair coverage @0.40 total", s"miss=$miss40", miss40 == 0),
        ("ann_ivf recall@3 >= 0.9", f"$rIvf%.3f", rIvf >= 0.9))
      checks.foreach { case (what, got, ok) =>
        println(f"   ${if (ok) "PASS" else "FAIL"}  $what%-32s $got")
      }
      Cache.clear(spark)
      if (checks.exists(!_._3)) { retune = true; Some(fx) }
      else if (grid) Some(fx) else None
    }

    if (failing.nonEmpty) {
      println(if (retune)
        "-- CONSTANTS STALE on this fixture; measured grid:"
      else "-- grid requested (--grid); measured table:")
      failing.foreach { fx =>
        println(s"== grid ${fx.d}  n=${fx.n}")
        // LSH: (tables, target occupancy, annH1) — the measured shortlist.
        Seq((16, 16, 16), (24, 16, 8), (32, 16, 8), (32, 16, 0),
          (48, 8, 0)).foreach { case (t, occ, h1) =>
          val bits = math.min(48, math.max(4,
            (math.log(fx.n.toDouble / occ) / math.log(2)).ceil.toInt))
          val (r, cq, m45, m40) = evalLsh(spark, fx, t, bits, h1, t)
          println(f"   lsh T=$t%-3d occ=$occ%-3d bits=$bits%-2d" +
            f" annH1=$h1%-3d recall=$r%.3f cand/q=$cq%8.1f" +
            f" miss45=$m45%2d miss40=$m40%2d")
        }
        // IVF: two cell counts × iterations × probed fractions.
        for {
          k <- Seq(math.sqrt(fx.n / 2.0).ceil.toInt,
            math.sqrt(2.0 * fx.n).ceil.toInt)
          iters <- Seq(1, 3)
        } {
          val line = Seq(0.15, 0.3, 0.45, 0.6, 0.75).map { f =>
            val np = math.max(2, math.ceil(k * f).toInt)
            f"f=$f%.2f r=${evalIvf(spark, fx, k, np, iters)}%.3f"
          }.mkString("  ")
          println(f"   ivf k=$k%-3d iters=$iters  $line")
        }
        Cache.clear(spark)
      }
      println("-- pick the cheapest row meeting every threshold and " +
        "update graft.operators.Similarity; SimilaritySpec re-pins it.")
    }
    spark.stop()
    if (retune) sys.exit(1)
  }
}
