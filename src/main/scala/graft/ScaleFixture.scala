package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ~Nx scale-up of the three pipeline tables
  * (events, documents, embeddings) under the SAME distributions the
  * driver's sf0.1 fixtures exhibit — the local stand-in for an sf1
  * regeneration, used by [[ScalingBench]] to measure empirical
  * scaling curves (the r13 verdict's top next-round item).
  *
  * Scaling axes are chosen to match how each corpus would really
  * grow, so the measured slopes test the ENGINE, not a fixture
  * artifact:
  *
  *  - events: MORE HISTORY, same density — copy k of N shifts ts by
  *    k·31 days and offsets event_id by k·n (positions derive from
  *    event_id, so copies scatter independently across the globe;
  *    users keep their ids, so each vessel's track gets N× longer —
  *    the AIS growth axis). Time-bucketed and per-user ops must
  *    scale linearly on this axis; density-quadratic ops (pair
  *    counting within a zone-time bucket) must NOT blow up, because
  *    density is constant.
  *  - documents: FRESH texts from the measured vocabulary, length,
  *    and (lang, source) distributions, with BOTH planted-dup rates
  *    preserved: exact copies (8 per 5000) and near-dup copies with
  *    a single-token insertion/deletion (measured at sf0.1: 248
  *    further minhash pairs at jac ≥ 0.8, len delta ±1, chains
  *    allowed — dedup_clusters covers 477 docs there). Replicating
  *    texts verbatim would instead create dup clusters of size N —
  *    a 90% dup-rate corpus nothing downstream should be sized for.
  *  - embeddings: fresh unit 64-d isotropic vectors (the measured
  *    per-dim sd 0.125 = 1/√64 and norm 1.0), labels uniform 0–9.
  *    Threshold ops (cos ≥ 0.45) are then quadratic in n BY
  *    GEOMETRY (random extremes: 144 pairs at n=2000 → ~100× at
  *    10×); SCALING.md reports output-normalized slopes for those.
  *  - relational (opt-in via the tables arg): N× orders/lineitem
  *    under the SAME date range and dimensions — the TPC-H/warehouse
  *    fact-growth axis (see [[relational]]); adds the dims too, so
  *    the dst dir becomes a complete catalog.
  *
  * Usage: runMain graft.ScaleFixture <srcDir> <dstDir> [factor=10]
  *          [tables=events,documents,embeddings]
  *
  * The optional 4th arg restricts which tables are generated, so
  * each axis gets its own 100x fixture: embeddings (r15 — 200k
  * vectors, the lshBits occupancy model), documents (r16 — 500k
  * texts, the dedup/text family; generation is the sequential
  * driver loop below, ~1 min), events (r16 — 10M rows, the history
  * axis). The events shard stride is [[posStride]] (smallest m ≥ n
  * coprime to 36000), NOT n itself: with the raw row count the
  * shard shift's lat phase (`n·7919 mod 18000`) can land in a small
  * subgroup — at n = 100000, gcd = 2000 → period 9, so co-presence
  * pair IDENTITY stopped growing past factor 9 (the r16 saturation
  * caveat). A coprime stride walks the full 18000/36000 phase
  * spaces, so each shard scatters positions on fresh phases and the
  * pair set keeps growing with history, while per-cell density (the
  * quadratic driver) stays constant by construction.
  */
object ScaleFixture {

  /** Smallest m ≥ n coprime to 36000 = lcm(18000, 36000), the
    * lat/lon moduli of [[operators.GeoOps]]'s position derivation.
    * Used as the per-shard event_id stride: ids stay unique
    * (m ≥ n) and the shard shift visits all 18000 lat / 36000 lon
    * phases instead of a gcd-sized subgroup. */
  def posStride(n: Long): Long = {
    var m = n
    while (BigInt(m).gcd(BigInt(36000)) != BigInt(1)) m += 1
    m
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val which = (if (args.length > 3) args(3)
      else "events,documents,embeddings").split(",").toSet
    val spark = EngineConf.builder(EngineConf.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (which("events")) events(spark, src, dst, factor)
    if (which("documents")) documents(spark, src, dst, factor)
    if (which("embeddings")) embeddings(spark, src, dst, factor)
    if (which("relational")) relational(spark, src, dst, factor)
    println(s"ScaleFixture: wrote ${which.toSeq.sorted.mkString("/")} "
      + s"x$factor to $dst")
    spark.stop()
  }

  private def events(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val ev = Tables.events(spark, src)
    // Stride from max(event_id)+1, not the row count: shard id-blocks
    // stay disjoint even on a sparse-id fixture (the relational axis
    // already strides by max(key)+1 for the same reason; r16 advice).
    // cast("long") tolerates any integral vintage; an empty table
    // degenerates to stride posStride(1) and writes an empty shard set.
    val maxId = Option(ev.agg(max(col("event_id").cast("long"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val stride = posStride(maxId + 1L)
    val shards = spark.range(factor).select(col("id").as("shard"))
    // Base-side repartition, not post-expansion: see relational().
    ev.repartition(32).crossJoin(broadcast(shards))
      .select(
        (col("event_id") + col("shard") * stride).as("event_id"),
        expr("timestampadd(DAY, cast(shard * 31 as int), ts)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/events.parquet")
  }

  /** TPC-H-style fact growth: N× orders and lineitem under the SAME
    * date range and dimension tables (TPC-H holds dates at 1992-1998
    * at every SF; dims here stay fixed too — the "more facts per
    * entity" warehouse axis). Copy k offsets o_orderkey/l_orderkey by
    * k·(maxKey+1), so the FK join keys stay aligned and unique;
    * every other column replicates verbatim. Dims (region nation
    * customer supplier part) copy through unchanged, so the dst dir
    * is a COMPLETE catalog and the full 157-query suite can run
    * against it (the pipeline tables come from the other axes). */
  private def relational(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.table(spark, src, t).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    }
    val shards = spark.range(factor).select(col("id").as("shard"))
    Seq(("orders", "o_orderkey", 16), ("lineitem", "l_orderkey", 32))
      .foreach { case (t, key, parts) =>
        val df = Tables.table(spark, src, t)
        // cast("long") before max: the Tables schema contract accepts
        // any integral key type, and Row.getLong would CCE on an
        // int32/short vintage; Option handles the empty-table null
        // (r16 advice). Empty input → stride 1, writes empty shards.
        val stride = Option(df.agg(max(col(key).cast("long"))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L) + 1L
        val rest = df.columns.filterNot(_ == key).map(col).toSeq
        // Repartition the BASE table (one small parquet file = 1-2
        // read partitions) so the broadcast-crossJoin expansion runs
        // parts-wide; the expanded rows then write in place — a
        // post-expansion repartition would shuffle factor× the data
        // (13 GB at 1000×) for nothing.
        df.repartition(parts).crossJoin(broadcast(shards))
          .select((col(key) + col("shard") * stride).as(key) +: rest: _*)
          .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      }
  }

  /** Distributed since r19 (the embeddings treatment, r18 verdict
    * next-round #4): every doc is a PURE FUNCTION of its doc_id. The
    * r16 form accumulated texts in a driver-side ArrayBuffer because
    * the planted near-dups copy "an earlier doc" — but each text only
    * ever depends on EARLIER texts through draws from its own per-id
    * seeded PRNG, so the buffer was an implementation artifact, not a
    * data dependency: `textOf(id)` resolves a near-dup's source by
    * RECOMPUTING it (chains recurse; a chain link is another near-dup
    * with probability ≈ nNear/id ≤ 5%, so expected depth is ~1 and
    * the recursion is trivially bounded in practice). Draw ORDER per
    * id is kept byte-identical to the sequential form, so the
    * distributed fixture equals the r16 fixture row-for-row (verified
    * at factor 100 before the switch; planted exact/near rates are
    * unchanged by construction). */
  private[graft] def documents(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val docs = Tables.documents(spark, src)
    val texts = docs.select("text").collect().map(_.getString(0))
    val vocabW = texts.flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.length).toSeq.sortBy(_._1)
    val vocab = vocabW.map(_._1).toArray
    val cum = vocabW.map(_._2.toLong).scanLeft(0L)(_ + _).tail.toArray
    val totW = cum.last
    val lengths = texts.map(_.split(" ").length)
    val langSrc = docs.select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nBase = texts.length
    val nNew = nBase * factor
    val nExact = math.max(1, (8.0 * nNew / 5000).round.toInt)
    val nNear = math.max(1, (248.0 * nNew / 5000).round.toInt)
    val nFresh = nNew - nExact - nNear
    def pickWord(rnd: scala.util.Random): String = {
      val t = (rnd.nextDouble() * totW).toLong
      val i = java.util.Arrays.binarySearch(cum, t + 1)
      vocab(if (i >= 0) i else -i - 1)
    }
    // id layout (unchanged from r16): fresh docs first, then near-dup
    // copies (single-token insert/delete of an earlier doc — sources
    // drawn from everything before them, so chains arise naturally),
    // then exact copies (always of a fresh doc). genText ADVANCES the
    // caller's rnd exactly as the sequential loop did, so the
    // lang/source draws that follow stay on the same PRNG positions.
    def genText(id: Int, rnd: scala.util.Random): String =
      if (id >= nNew - nExact) {
        textOf(rnd.nextInt(nFresh))
      } else if (id >= nFresh) {
        val src = textOf(rnd.nextInt(id)).split(" ").toBuffer
        if (rnd.nextBoolean() && src.length > 10)
          src.remove(rnd.nextInt(src.length))
        else src.insert(rnd.nextInt(src.length + 1), pickWord(rnd))
        src.mkString(" ")
      } else {
        val l = lengths(rnd.nextInt(lengths.length))
        (0 until l).map(_ => pickWord(rnd)).mkString(" ")
      }
    def textOf(id: Int): String =
      genText(id, new scala.util.Random(1000003L * id + 17))
    import spark.implicits._
    spark.range(nNew).repartition(32).map { idL =>
      val id = idL.toInt
      val rnd = new scala.util.Random(1000003L * id + 17)
      val text = genText(id, rnd)
      val (lang, source) = langSrc(rnd.nextInt(langSrc.length))
      (id.toLong, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/documents.parquet")
  }

  private def embeddings(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val n = Tables.embeddings(spark, src).count() * factor
    // Distributed deterministic generation: every value is a pure
    // function of vec_id (per-id seeded PRNG, same draw order as the
    // original driver-side form), so partitioning cannot change the
    // fixture — and the driver no longer materializes the whole
    // vector set (~1.2 GB of boxed rows at factor 1000).
    import spark.implicits._
    spark.range(n).repartition(32).map { id =>
      val rnd = new scala.util.Random(7919L * id + 31)
      val raw = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      (id, raw.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10).toLong)
    }.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/embeddings.parquet")
  }
}
