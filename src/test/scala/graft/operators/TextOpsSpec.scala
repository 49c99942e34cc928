package graft.operators

import graft.SparkSpec

/** Structural pins for the shard-packing operator (value-level gate
  * is the DuckDB oracle), and the corpus means' tie behavior. */
class TextOpsSpec extends SparkSpec {

  test("avg_chars is the raw mean on an exact half-cent tie" +
      " (text_stats, agg_grouping_sets, multimodal_join)") {
    // 40 docs summing to 10921 chars: mean exactly 273.025, where a
    // rounded mean splits the engines (Spark rounds the decimal
    // string to 273.03, DuckDB the binary double to 273.02). The
    // queries must report the mean itself, as DuckDB's avg does.
    val s = spark
    import s.implicits._
    val nChars = Seq.fill(39)(273L) :+ 274L
    val dir = java.nio.file.Files
      .createTempDirectory("graft-half-cent").toString
    nChars.zipWithIndex
      .map { case (n, i) => (i.toLong, "x" * n.toInt, "en", "web", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    nChars.indices
      .map(i => (i.toLong, Seq(1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val mean = 10921.0 / 40
    val means = Seq("text_stats", "agg_grouping_sets", "multimodal_join")
      .map(q => q -> graft.SparkEntry.queries(q)(spark, dir).collect()
        .map(_.getAs[Double]("avg_chars")).toSeq)
    assert(means == Seq("text_stats" -> Seq(mean),
      "agg_grouping_sets" -> Seq(mean, mean, mean),
      "multimodal_join" -> Seq(mean)))
  }

  test("text_pack_bins: bins conserve docs and tokens, fill contiguously") {
    val rows = TextOps.queries("text_pack_bins")(spark, SparkSpec.sf001)
      .collect()
    assert(rows.map(_.getLong(2)).sum == 500L) // every doc packed once
    rows.groupBy(_.getString(0)).values.foreach { rs =>
      val bins = rs.map(_.getLong(1)).sorted
      // contiguous fill: bin ids are consecutive from 0 (a bin can
      // only open once the previous prefix crossed its boundary)
      assert(bins.head == 0L)
      assert(bins.toSeq == (0L until bins.length).toSeq)
      // every bin except possibly the last holds >= the budget minus
      // one straddling doc: weaker, portable invariant — non-empty
      rs.foreach(r => assert(r.getLong(3) > 0))
    }
  }

  test("packBins: two-phase prefix equals the naive per-lang window" +
      " at several bucket sizes") {
    // The bucketed (lang, doc_id-range) prefix + broadcast-offset
    // rewrite must produce EXACTLY the single-window packing — at
    // bucket sizes small enough that every language spans many
    // buckets, so the offset reconstruction is actually exercised.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, SparkSpec.sf001)
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .select("lang", "doc_id", "toks")
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val naive = docs
      .withColumn("prefix", sum("toks").over(w) - col("toks"))
      .withColumn("bin", expr("prefix div 4096"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("bin_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("lang", "bin")
      .collect().map(_.toString).toSeq
    assert(naive.nonEmpty)
    Seq(7L, 64L, 1024L).foreach { bs =>
      val two = TextOps.packBins(docs, bs).collect().map(_.toString).toSeq
      assert(two == naive,
        s"bucketSize=$bs: two-phase packing diverges from the naive window")
    }
  }

  test("text_edit_distance: blocked chain equals the naive per-lang window") {
    // The range-blocked chain (intra-block lead + boundary-join
    // reconstruction) must produce EXACTLY the naive single-window
    // pair set — at block sizes small enough that every language
    // spans many blocks, so the cross-block reconstruction is
    // actually exercised, not vacuously bypassed.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, graft.SparkSpec.sf001)
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val naive = docs
      .withColumn("next_id", lead("doc_id", 1).over(w))
      .withColumn("next_text", lead("text", 1).over(w))
      .filter(col("next_id").isNotNull)
      .select(col("doc_id"), col("next_id"), col("lang"),
        levenshtein(col("text"), col("next_text")).as("edit_dist"),
        (length(col("next_text")) - length(col("text")))
          .as("len_delta"))
      .orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(naive.nonEmpty)
    Seq(4L, 16L, 64L).foreach { bs =>
      val blocked = TextOps.editDistanceChain(docs, bs)
        .collect().map(_.toString).toSeq
      assert(blocked == naive,
        s"blockSize=$bs: blocked chain diverges from the naive window")
    }
  }

  test("text_repetition: hand-computed duplicate fractions on crafted docs") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a a b"),           // 3 words/2 distinct; both grams unique
      (2L, "x y x y x y"),     // 6/2; bigrams 5/2; trigrams 4/2
      (3L, "p q")              // under 3 tokens -> gated out
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionMetrics(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val r1 = out(0)
    assert(r1.getInt(1) == 3 && r1.getDouble(2) == 0.3333 &&
      r1.getDouble(3) == 0.0 && r1.getDouble(4) == 0.0)
    val r2 = out(1)
    assert(r2.getInt(1) == 6 && r2.getDouble(2) == 0.6667 &&
      r2.getDouble(3) == 0.6 && r2.getDouble(4) == 0.5)
  }

  test("no integer-ratio output sits NEAR a 4-dp rounding tie (margin)") {
    // events_anomaly_mad's z hit a 4-dp tie at sf0.1 whose rational
    // value (5.09125) is NOT binary-representable: Java's round goes
    // through the double's shortest decimal repr ("5.09125" →
    // HALF_UP → up) while DuckDB rounds the scaled binary value
    // (50912.4999… → down). EXACT binary half-points (denominator a
    // power of two, e.g. stop ratio 1/32 = 312.5e-4 — the fixtures
    // contain many) are SAFE: both engines see the same half and
    // round it away from zero, which the passing oracle proves every
    // round. So the pin: every raw ratio must be either exactly ON a
    // tie (dist == 0, representable ⇒ engines agree) or ≥ 1e-9 away
    // — a regenerated fixture landing a near-tie (the 5.09125 class)
    // fails HERE, not in the oracle compare. Contingency then: emit
    // that ratio as exact integer fixed-point (the prob_ppm pattern).
    import org.apache.spark.sql.functions._
    Seq(graft.SparkSpec.sf001, graft.SparkSpec.sf01).foreach { sf =>
      val docs = graft.Tables.documents(spark, sf)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("nw", size(col("ws")).cast("double"))
      // raw ratios reconstructed here (a rounded value can't reveal
      // its own tie): stop ratio, avg word length, and the three
      // dup-gram fractions; 0.25 is a tie-free filler for gram-less
      // short docs
      val raw = docs
        .withColumn("bi", expr(
          "transform(slice(ws, 1, greatest(size(ws) - 1, 0))," +
            " (w, i) -> concat(w, ' ', element_at(ws, i + 2)))"))
        .withColumn("tri", expr(
          "transform(slice(ws, 1, greatest(size(ws) - 2, 0))," +
            " (w, i) -> concat(w, ' ', element_at(ws, i + 2)," +
            " ' ', element_at(ws, i + 3)))"))
        .select(explode(array(
          size(expr("filter(ws, w -> w IN ('the','a','of','and','to'))"))
            .cast("double") / col("nw"),
          length(regexp_replace(col("text"), " ", "")).cast("double")
            / col("nw"),
          lit(1.0) - size(array_distinct(col("ws"))).cast("double")
            / col("nw"),
          when(size(col("bi")) > 0, lit(1.0)
            - size(array_distinct(col("bi"))).cast("double")
            / size(col("bi"))).otherwise(0.25),
          when(size(col("tri")) > 0, lit(1.0)
            - size(array_distinct(col("tri"))).cast("double")
            / size(col("tri"))).otherwise(0.25))).as("r"))
      val contam = TextOps.contaminationReport(
        graft.Tables.documents(spark, sf))
        .select((col("n_hit").cast("double") / col("n_shingles")).as("r"))
      // the round-7 additions' rounded floats, reconstructed raw:
      // mixture share/weight (4dp) and the zipf regression outputs
      // (slope/intercept 2dp — folded onto the 4-dp lattice via /100
      // since (x·100) % 1 == ((x/100)·10⁴) % 1 — corr 4dp; abs()
      // because HALF_UP ties live on the magnitude)
      val mix = TextOps.mixtureFrame(graft.Tables.documents(spark, sf))
        .select(explode(array(col("share_raw"), col("weight_raw")))
          .as("r"))
      val zipf = TextOps.zipfFit(graft.Tables.documents(spark, sf))
        .select(explode(array(abs(col("slope_raw")) / 100,
          abs(col("intercept_raw")) / 100, abs(col("corr_raw"))))
          .as("r"))
      val margin = raw.unionByName(contam).unionByName(mix)
        .unionByName(zipf)
        .select(abs(expr("(r * 10000) % 1") - 0.5).as("dist"))
        .filter(col("dist") =!= 0.0) // exact halves are representable ⇒ safe
        .agg(min("dist")).head.getDouble(0)
      info(f"min nonzero distance to a 4-dp tie at $sf: $margin%.3e")
      assert(margin > 1e-9,
        f"a ratio sits $margin%.3e off a 4-dp tie (the 5.09125 " +
          "class) — cross-engine round() is no longer safe for it")
    }
  }

  test("shingles5: shingles are 64-bit hashes with word boundaries" +
      " preserved — never materialized strings") {
    val s = spark; import s.implicits._
    // r20 hash-narrowing pin: the cached/broadcast/aggregated shingle
    // column must stay a LONG (a regression back to concat_ws strings
    // re-widens every downstream buffer ~4x), and the multi-arg
    // xxhash64 must keep word boundaries — "aa b c d e" vs
    // "a ab c d e" concatenate identically with a joiner collision
    // but must hash apart.
    val docs = Seq(
      (1L, "aa b c d e"),
      (2L, "a ab c d e")).toDF("doc_id", "text")
    val sh = TextOps.shingles5(docs)
    assert(sh.schema("sh").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(sh.select("sh").distinct().count() == 2L,
      "two different 5-grams hashed together — word boundaries lost")
  }

  test("text_contamination: only true 5-gram sharers flag; short docs gate") {
    val s = spark; import s.implicits._
    // bench doc 0 (id % 5 == 0); doc 6 embeds one of its 5-grams, doc 7
    // shares only a 4-gram prefix (NOT a hit), doc 8 is too short.
    val docs = Seq(
      (0L, "k1 k2 k3 k4 k5 k6"),
      (6L, "z1 k2 k3 k4 k5 k6 z2"),
      (7L, "k1 k2 k3 k4 z9 z8"),
      (8L, "k1 k2 k3")
    ).toDF("doc_id", "text")
    val out = TextOps.contaminationReport(docs, benchMod = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(5))).toMap
    // doc 6: 3 shingles, one ("k2 k3 k4 k5 k6") in bench doc 0
    assert(out(6L) == ((3L, 1L, 1L, 1)))
    // doc 7: 2 shingles, no full 5-gram overlap
    assert(out(7L) == ((2L, 0L, 0L, 0)))
    assert(!out.contains(8L)) // no shingles -> not reported
    assert(!out.contains(0L)) // bench side never self-reports
  }
}
