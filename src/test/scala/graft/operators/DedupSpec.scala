package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup semantics against the sf0.1 fixtures (FIXTURES.md: 8 text
  * values appear exactly twice at sf0.1; none below). */
class DedupSpec extends SparkSpec {

  private lazy val exactDupPairs: Set[(Long, Long)] = {
    val docs = graft.Tables.documents(spark, SparkSpec.sf01)
    docs.groupBy("text")
      .agg(min("doc_id").as("d1"), max("doc_id").as("d2"),
        count(lit(1)).as("n"))
      .filter(col("n") === 2)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("fixture has exactly 8 exact-dup pairs at sf0.1") {
    assert(exactDupPairs.size == 8)
  }

  test("dedup_exact survivors: one per distinct text, min doc_id") {
    val out = Dedup.queries("dedup_exact")(spark, SparkSpec.sf01)
    assert(out.count() == 4992) // 5000 rows - 8 second copies
    val copies = out.filter(col("n_copies") === 2).count()
    assert(copies == 8)
  }

  test("dedup_minhash finds every exact-dup pair with jac 1.0") {
    val got = Dedup.queries("dedup_minhash")(spark, SparkSpec.sf01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    exactDupPairs.foreach { p =>
      assert(got.contains(p), s"minhash missed exact dup $p")
      assert(got(p) == 1.0, s"exact dup $p jac ${got(p)} != 1.0")
    }
    assert(got.values.forall(_ >= 0.8))
  }

  test("minhash verify: all three attach tiers agree — broadcast " +
      "strings, hashed+semi-pruned, hashed co-partitioned full frame") {
    // Forced bounds select each tier at fixture scale: tier 1 is the
    // oracle plan (string sets, double broadcast); tier 2 is what the
    // 100x/1000x fixtures take in production (xxhash64-narrowed sets,
    // candidate-id semi-prune — the r19 shape after the 5M-doc decade
    // exhausted 64 GB of spill on the r17 full-frame attach); tier 3
    // is the past-broadcastability tail (hashed, no prune). Same
    // verified pairs, same 4dp Jaccards, at two SFs.
    Seq(SparkSpec.sf001, SparkSpec.sf01).foreach { sf =>
      def pairs(maxDocs: Long, pruneMax: Long): Seq[String] =
        Dedup.minhashPairsBuild(spark, sf, broadcastMaxDocs = maxDocs,
          pruneMaxDocs = pruneMax)
          .collect().map(_.mkString("|")).toSeq.sorted
      val t1 = pairs(Long.MaxValue, Long.MaxValue)
      assert(t1 == pairs(0L, Long.MaxValue),
        s"tier-2 (hashed + pruned) diverges from tier-1 at $sf")
      assert(t1 == pairs(0L, 0L),
        s"tier-3 (hashed full-frame) diverges from tier-1 at $sf")
    }
  }

  test("dedup_simhash: exact dups have hamming 0; output sorted") {
    val rows = Dedup.queries("dedup_simhash")(spark, SparkSpec.sf01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    val got = rows.toMap
    exactDupPairs.foreach { p =>
      assert(got.get(p).contains(0), s"exact dup $p missing/nonzero")
    }
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
  }

  test("native SimHash64 == composable explode/agg signature, corpus" +
      " + edge strings") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val s = spark
    import s.implicits._
    // full sf0.01 corpus
    val docs = graft.Tables.documents(spark, SparkSpec.sf001)
    val mism = Dedup.simhash(docs)
      .join(docs.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.GraftFunctions.simHash64(
          org.apache.spark.sql.functions.col("text")).as("nsig")),
        "doc_id")
      .filter(org.apache.spark.sql.functions.col("sig") =!=
        org.apache.spark.sql.functions.col("nsig"))
      .count()
    assert(mism == 0L, s"$mism corpus signatures diverge")
    // edge strings: empty, consecutive/leading/trailing separators
    // (split keeps empty tokens), single token, non-ASCII
    val edge = Seq((1L, ""), (2L, " "), (3L, "a  b"), (4L, " x "),
      (5L, "solo"), (6L, "数据 处理 引擎"))
      .toDF("doc_id", "text")
    val em = Dedup.simhash(edge)
      .join(edge.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.GraftFunctions.simHash64(
          org.apache.spark.sql.functions.col("text")).as("nsig")),
        "doc_id")
      .collect()
    em.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"edge doc ${r.getLong(0)}: ${r.getLong(1)} != ${r.getLong(2)}"))
  }

  test("native minhash3 == composable min(hash(sh, lit(i))) " +
      "aggregate, corpus + edge strings, codegen and interpreted") {
    val s = spark
    import s.implicits._
    def sigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // Edge strings: empty; 1-2 tokens (no shingle, so no row);
    // leading, trailing and double spaces (split keeps empty tokens);
    // separators only; multi-byte UTF-8.
    val edge = Seq((1L, ""), (2L, "solo"), (3L, "two words"),
      (4L, " a b"), (5L, "a b "), (6L, "a  b c"), (7L, "  "),
      (8L, "数据 处理 引擎 数据"), (9L, "é b c d e"), (10L, "a b c"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length($"text"))
    val corpus = graft.Tables.documents(spark, SparkSpec.sf001)
    Seq(corpus, edge).foreach { docs =>
      val spec = sigs(Dedup.minhash(docs))
      assert(spec.nonEmpty)
      assert(spec.values.forall(_.size == Dedup.MinhashFuncs))
      Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN").foreach {
        case (ws, mode) =>
          spark.conf.set("spark.sql.codegen.wholeStage", ws)
          spark.conf.set("spark.sql.codegen.factoryMode", mode)
          try {
            val native = sigs(Dedup.minhashSigs(docs))
            assert(native.keySet == spec.keySet,
              s"[$mode] doc sets differ: " +
                ((native.keySet diff spec.keySet) ++
                  (spec.keySet diff native.keySet)).toSeq.sorted.take(5))
            val diff = spec.keySet.filter(k => native(k) != spec(k))
            assert(diff.isEmpty,
              s"[$mode] ${diff.size} signatures diverge, e.g. " +
                diff.toSeq.sorted.take(3))
          } finally {
            spark.conf.unset("spark.sql.codegen.wholeStage")
            spark.conf.unset("spark.sql.codegen.factoryMode")
          }
      }
    }
    assert(sigs(Dedup.minhash(edge)).keySet == Set(4L, 5L, 6L, 7L, 8L,
      9L, 10L), "docs under 3 tokens must have no signature row")
  }

  test("dedup_simhash: hamming tracks exact shingle Jaccard on " +
      "near-dup pairs derived from real corpus texts, at 2 SFs") {
    // The r13 verdict asked for a QUANTITATIVE hamming↔Jaccard
    // invariant beyond the 8 hamming-0 exact pairs. The fixture has
    // no partial near-dups (word-salad: texts are either identical
    // or unrelated), so the near-dup pairs are CONSTRUCTED from real
    // corpus texts: each sampled doc gets deterministic variants with
    // a fraction p of tokens replaced from the corpus's own
    // vocabulary, spanning the full Jaccard range. Exact Jaccard is
    // the dedup_near definition (distinct word-3-gram shingles);
    // hamming is the shipped one-pass SimHash64.
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val shingleJac = expr(
      """size(array_intersect(sh_a, sh_b)) /
        |cast(size(sh_a) + size(sh_b)
        |     - size(array_intersect(sh_a, sh_b)) as double)""".stripMargin)
    def shingleSet(c: String) = expr(
      s"""array_distinct(transform(sequence(1, size($c) - 2),
         |  i -> concat_ws(' ', $c[i-1], $c[i], $c[i+1])))""".stripMargin)
    Seq(SparkSpec.sf001, SparkSpec.sf01).foreach { sf =>
      val docs = graft.Tables.documents(spark, sf)
      val sample = docs.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "text").limit(150).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val vocab = sample.flatMap(_._2.split(" ")).distinct.sorted
      val rates = Seq(0.02, 0.05, 0.1, 0.2, 0.4, 0.7)
      val variants = sample.flatMap { case (id, text) =>
        val toks = text.split(" ")
        rates.zipWithIndex.map { case (p, i) =>
          val rnd = new scala.util.Random(id * 131 + i) // deterministic
          val nt = toks.map(t =>
            if (rnd.nextDouble() < p) vocab(rnd.nextInt(vocab.length))
            else t)
          (id, p, text, nt.mkString(" "))
        }
      }
      val s2 = spark
      import s2.implicits._
      val measured = variants.toSeq
        .toDF("doc_id", "rate", "ta", "tb")
        .withColumn("wa", split(col("ta"), " "))
        .withColumn("wb", split(col("tb"), " "))
        .withColumn("sh_a", shingleSet("wa"))
        .withColumn("sh_b", shingleSet("wb"))
        .withColumn("jac", shingleJac)
        .withColumn("hamming", bit_count(
          graft.functions.GraftFunctions.simHash64(col("ta"))
            .bitwiseXOR(
              graft.functions.GraftFunctions.simHash64(col("tb")))))
        .select("rate", "jac", "hamming")
        .as[(Double, Double, Int)].collect()
      // 1. monotone in the perturbation rate: mean hamming per rate
      // bucket strictly increases (a signature that ignored text
      // similarity would be flat).
      val byRate = rates.map(p =>
        p -> measured.filter(_._1 == p).map(_._3.toDouble))
        .map { case (p, hs) => p -> hs.sum / hs.length }
      info(s"$sf mean hamming by rate: " + byRate
        .map { case (p, h) => f"$p%.2f->$h%.1f" }.mkString("  "))
      byRate.sliding(2).foreach { case Seq((p1, h1), (p2, h2)) =>
        assert(h2 > h1,
          f"mean hamming not increasing: rate $p1%.2f=$h1%.2f vs "
            + f"$p2%.2f=$h2%.2f at $sf")
      }
      // 2. rank correlation jac vs hamming strongly negative.
      def ranks(xs: Array[Double]): Array[Double] = {
        val idx = xs.zipWithIndex.sortBy(_._1)
        val out = new Array[Double](xs.length)
        idx.zipWithIndex.foreach { case ((_, i), r) => out(i) = r }
        out
      }
      val jacR = ranks(measured.map(_._2))
      val hamR = ranks(measured.map(_._3.toDouble))
      val n = measured.length
      val mj = jacR.sum / n; val mh = hamR.sum / n
      val cov = jacR.zip(hamR).map { case (a, b) =>
        (a - mj) * (b - mh) }.sum
      val sj = math.sqrt(jacR.map(a => (a - mj) * (a - mj)).sum)
      val sh = math.sqrt(hamR.map(b => (b - mh) * (b - mh)).sum)
      val spearman = cov / (sj * sh)
      info(f"$sf spearman(jac, hamming) = $spearman%.3f over $n pairs")
      assert(spearman <= -0.6,
        f"hamming does not track Jaccard: spearman=$spearman%.3f at $sf")
      // 3. the operator's hamming <= 3 emission threshold captures
      // high-Jaccard pairs: among constructed pairs with jac >= 0.9,
      // a large majority sit at hamming <= 3 (ties the threshold to
      // Jaccard semantics instead of only exact copies).
      val hi = measured.filter(_._2 >= 0.9)
      val hiCaught = hi.count(_._3 <= 3)
      info(s"$sf jac>=0.9 pairs: ${hi.length}, hamming<=3: $hiCaught")
      assert(hi.nonEmpty, s"no constructed pairs reached jac 0.9 at $sf")
      assert(hiCaught.toDouble / hi.length >= 0.85,
        s"only $hiCaught/${hi.length} jac>=0.9 pairs at hamming<=3 ($sf)")
      // 4. separation: unrelated real pairs (adjacent sample docs)
      // sit far above the near-dup band — the threshold cannot
      // drown in word-salad vocabulary overlap.
      val unrel = sample.sliding(2).collect {
        case Array((_, t1), (i2, t2)) if t1 != t2 => (i2, t1, t2)
      }.toSeq
      val unrelHam = unrel
        .toDF("id", "ta", "tb")
        .withColumn("hamming", bit_count(
          graft.functions.GraftFunctions.simHash64(col("ta"))
            .bitwiseXOR(
              graft.functions.GraftFunctions.simHash64(col("tb")))))
        .select("hamming").as[Int].collect()
      val unrelMean = unrelHam.map(_.toDouble).sum / unrelHam.length
      info(f"$sf unrelated-pair hamming: mean $unrelMean%.1f "
        + s"min ${unrelHam.min}")
      assert(unrelMean >= 15.0,
        f"unrelated corpus pairs too close: mean hamming $unrelMean%.1f")
      assert(unrelHam.count(_ <= 3) == 0,
        "an unrelated pair landed inside the emission threshold")
    }
  }

  test("dedup_clusters: labels are component minima over the pair graph") {
    val pairs = Dedup.queries("dedup_minhash")(spark, SparkSpec.sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = Dedup.queries("dedup_clusters")(spark, SparkSpec.sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val label = rows.map(r => r._1 -> r._2).toMap
    // every paired doc is labeled; endpoints of an edge share a label
    pairs.foreach { case (a, b) =>
      assert(label.contains(a) && label.contains(b))
      assert(label(a) == label(b), s"edge ($a,$b) split across clusters")
    }
    // the cluster id is a member of its own cluster and is the min
    rows.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._1).min == c)
      // size column matches the actual membership count
      assert(rs.forall(_._3 == rs.length))
    }
  }

  test("dedup_exact_fingerprint == dedup_exact (fp grouping is exact)") {
    Seq(SparkSpec.sf001, SparkSpec.sf01).foreach { sf =>
      val exact = Dedup.queries("dedup_exact")(spark, sf)
        .collect().map(_.toString).toSeq
      val viaFp = Dedup.queries("dedup_exact_fingerprint")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(viaFp == exact, s"fingerprint dedup diverges at $sf")
    }
  }

  test("ccFixedPoint converges on a diameter-99 chain (pointer jump)") {
    // Pathological near-dup shape: one long chain (progressively
    // edited boilerplate), diameter far past what propagate-only
    // rounds could cover. 100 nodes 0-1-2-...-99, symmetric edges.
    val s = spark; import s.implicits._
    val edges = (0L until 99L)
      .flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("a", "b")
    // localMaxEdges = 0 forces the DISTRIBUTED pointer-jump path
    // (the default would take the small-graph union-find shortcut)
    val labels = Graph.ccFixedPoint[Long](edges, localMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 100)
    assert(labels.values.forall(_ == 0L),
      "every chain node must label to the component min 0")
    // and the small-graph fast path agrees exactly
    val fast = Graph.ccFixedPoint[Long](edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == labels, "fast path diverges from pointer jump")
  }

  test("ccFixedPoint matches union-find on seeded random graphs") {
    // Property check beyond the fixed chain fixtures: three seeded
    // random graphs (60 nodes, 80 directed edges) compared against a
    // driver-side union-find with min-root union — an independent
    // sequential algorithm for the same fixed point.
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 60
      val raw = Seq.fill(80)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val sym = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      // force the distributed path: comparing the fast path (itself a
      // union-find) against this spec's union-find would be circular
      val labels = Graph.ccFixedPoint[Long](sym.toDF("a", "b"),
          localMaxEdges = 0).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val nodes = sym.map(_._1).distinct
      assert(labels.keySet == nodes.toSet)
      nodes.foreach { nd =>
        assert(labels(nd) == find(nd.toInt).toLong,
          s"trial $trial: node $nd labeled ${labels(nd)}, " +
            s"union-find says ${find(nd.toInt)}")
      }
    }
  }

  test("ccFixedPoint retry path: cap doubles once, then converges") {
    // A component just past the configured round cap must degrade to
    // a slower run (one logged cap doubling), not a dead query: a
    // 64-node chain needs ~7 propagate+shortcut rounds, so
    // maxRounds=5 is insufficient and the extension to 10 carries it
    // through.
    val s = spark; import s.implicits._
    val edges = (0L until 63L)
      .flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("a", "b")
    val warnings = scala.collection.mutable.Buffer[String]()
    val labels = Graph.ccFixedPoint[Long](edges, maxRounds = 5,
        log = warnings += _, localMaxEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(warnings.exists(_.contains("extending once")),
      "the cap extension should have fired and logged")
    assert(labels.size == 64)
    assert(labels.values.forall(_ == 0L),
      "every chain node must label to the component min 0")
  }

  test("ccFixedPoint converges to empty on an empty edge set") {
    // A corpus with zero near-dup pairs must yield zero clusters,
    // not fail the convergence check.
    val s = spark; import s.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graph.ccFixedPoint[Long](edges).count() == 0)
    // the distributed path too (localMaxEdges = -1 disables the
    // fast path even for the empty frame)
    assert(Graph.ccFixedPoint[Long](edges, localMaxEdges = -1).count() == 0)
  }

  test("ccFixedPoint labels disjoint components independently") {
    val s = spark; import s.implicits._
    // two chains + an isolated pair: 0..30, 100..140, 500-501
    val comps = Seq((0L, 30L, 0L), (100L, 140L, 100L), (500L, 501L, 500L))
    val edges = comps.flatMap { case (lo, hi, _) =>
      (lo until hi).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    }.toDF("a", "b")
    // both paths: the single-task union-find and (localMaxEdges = 0)
    // the distributed pointer jump
    Seq(Graph.LocalMaxEdges, 0L).foreach { localMax =>
      val labels = Graph.ccFixedPoint[Long](edges, localMaxEdges = localMax)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      comps.foreach { case (lo, hi, want) =>
        (lo to hi).foreach(n => assert(labels(n) == want,
          s"localMaxEdges $localMax: node $n labeled ${labels(n)}, " +
            s"expected $want"))
      }
    }
  }

  test("dedup_near is idempotent on a deduped corpus") {
    // After dropping the 8 higher-id exact copies, rerunning exact
    // dedup changes nothing (idempotence property).
    val docs = graft.Tables.documents(spark, SparkSpec.sf01)
    val survivors = docs.groupBy("text")
      .agg(min("doc_id").as("doc_id"))
    val again = survivors.groupBy("text").count()
      .filter(col("count") > 1).count()
    assert(again == 0)
  }
}
