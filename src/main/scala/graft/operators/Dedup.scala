package graft.operators

import graft.{EngineConf, Q, Tables}
import graft.functions.{GraftFunctions, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Category I (dedup half) — deduplication operators over `documents`
  * and `embeddings` (SURVEY.md §2.1.I + training-data-pipeline
  * mandate: exact, shingle-Jaccard, MinHash+LSH, SimHash, embedding-
  * cosine near-dup).
  *
  * Corpus hazard (FIXTURES.md): the vocabulary is tiny, so unigram-set
  * Jaccard saturates at 1.0 between unrelated docs — all shingle-based
  * ops here use 3-word grams.
  *
  * Scale design: `dedup_near` is the exact quadratic-within-block
  * baseline (blocking on lang + length keeps candidate pairs bounded);
  * `dedup_minhash` is the 100-TB path — LSH banding finds candidates
  * in O(n · bands) with a bucket join, then verifies exact Jaccard on
  * candidates only. `dedup_simhash` blocks on 16-bit signature chunks
  * (pigeonhole: hamming ≤ 3 over 4 chunks ⇒ one chunk equal).
  */
object Dedup {

  /** Per-doc record (doc_id, lang, n_chars, distinct 3-word shingle
    * set as one array) — THE persisted shingle base. One exchange
    * builds it: the explode → aggregate dedups in the same shuffle
    * the old explode → distinct paid, and every other consumer is
    * then row-local.
    *
    * HASH-NARROW since r19 (the fingerprint-shuffle discipline
    * applied at the source): shingles are xxhash64'd MAP-SIDE, so the
    * build exchange, the cached frame, and every downstream shuffle
    * carry 8-byte longs instead of ~40-byte strings — measured ~5x.
    * The r17 string base exhausted this box's 64 GB of spill at the
    * 5M-doc decade before the band join even finished; nothing
    * downstream ever needed the strings: dedup Jaccards are COUNTS of
    * distinct elements (identical on hashed sets modulo a ~2⁻⁶⁴
    * within-pair collision, the tolerance dedup_exact_fingerprint
    * already carries — and the DuckDB oracle computes ground truth
    * from the text, so no oracle value depends on the representation).
    *
    * The MinHash signatures do NOT ride this aggregation: they are
    * row-local ([[minhashSigs]], one native pass over the text), and
    * the only consumer that rebuilds this frame warm is dedup_near,
    * which never reads them.
    *
    * The slice length is clamped at 0 — docs under 3 whitespace
    * tokens yield no shingles (and so never appear in shingle-based
    * dedup output) instead of crashing on a negative slice length. */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    graft.Cache.cached(s, d, "dedup.shingleSets") {
      shingleRows(Tables.documents(s, d))
        .groupBy("doc_id")
        .agg(first("lang").as("lang"), first("n_chars").as("n_chars"),
          collect_set(xxhash64(col("sh"))).as("shset"))
    }

  /** Exploded raw-string shingle rows (doc_id, lang, n_chars, sh) of
    * `docs` — the shared lineage under [[shingleSets]] and the
    * [[minhash]] spec. Not cached: both aggregate it away at once. */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(expr(
          "transform(slice(ws, 1, greatest(size(ws) - 2, 0))," +
            " (w, i) -> concat(w, ' ', element_at(ws, i + 2), ' '," +
            " element_at(ws, i + 3)))")).as("sh"))

  /** The [[MinhashFuncs]] MinHash signature per doc (doc_id, sig:
    * array<int>), sig(i) = min over the doc's 3-word shingles of
    * Spark's murmur3 `hash(sh, i)` — the declared path, ROW-LOCAL:
    * one native [[GraftFunctions.minHash3]] pass over the text
    * hashes each shingle's bytes once and folds the [[MinhashFuncs]]
    * seeds from that hash. Docs under 3 tokens have no shingle and
    * no row. [[minhash]] is its executable spec (DedupSpec asserts
    * equality over the corpus and edge strings); it is not the
    * declared path because its aggregate folds the exploded shingles
    * back to one row per doc through an exchange (0.84–1.17 s of the
    * cold `dedup.pairs` build's 4.1–4.7 s, sf0.1, 4 cores). */
  private[operators] def minhashSigs(docs: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
      GraftFunctions.minHash3(col("text"), MinhashFuncs).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** The composable form of [[minhashSigs]], kept as its executable
    * spec: explode the shingles, then one `min(hash(sh, lit(i)))`
    * accumulator per function (min over the multiset == min over the
    * set), folded back to (doc_id, sig: array<int>). */
  private[operators] def minhash(docs: DataFrame): DataFrame = {
    val aggs = (0 until MinhashFuncs).map(i =>
      min(hash(col("sh"), lit(i))).as(s"mh_$i"))
    shingleRows(docs)
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashFuncs).map(i => col(s"mh_$i")): _*).as("sig"))
  }

  /** Exploded (doc_id, lang, n_chars, sh) shingle rows, derived from
    * the persisted set frame — CPU-cheap per use, no second
    * materialization. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleSets(s, d).select(col("doc_id"), col("lang"),
      col("n_chars"), explode(col("shset")).as("sh"))

  val queries: Map[String, Q] = Map(
    // Exact dedup: survivor = min doc_id per text (deterministic pick,
    // never "first"). Hash-groupBy on the text — at scale you'd group
    // on text_fingerprint instead to avoid shuffling full texts.
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"),
          count(lit(1)).as("n_copies"),
          min("n_chars").as("n_chars"))
        .select("keep_id", "n_copies", "n_chars")
        .orderBy("keep_id")),

    // The 100-TB twin of dedup_exact (the caveat documented there):
    // survivors via [[fingerprintSurvivors]], so the dedup shuffle
    // carries only narrow (fp, doc_id, n_chars) rows, never full
    // texts. Output is exactly dedup_exact's (n_chars is a function of
    // the text, so the survivor's equals the group minimum), and the
    // oracle is the same survivor SQL.
    "dedup_exact_fingerprint" -> ((s, d) =>
      fingerprintSurvivors(s, d, "dedup.fpGroups", Tables.documents(s, d),
          Seq("n_chars"))
        .select(col("doc_id").as("keep_id"), col("n_copies"),
          col("n_chars"))
        .orderBy("keep_id")),

    // Near-dup via exact 3-gram shingle Jaccard, candidates blocked to
    // same lang + |n_chars| diff <= 20, J >= 0.8. ONE shingle
    // equi-join: matching rows group straight into intersection
    // counts (shingle sets are distinct per doc), no candidate
    // materialization + re-join.
    "dedup_near" -> ((s, d) => {
      val sh = shingles(s, d)
      // Set sizes are row-local over the persisted set frame — the
      // old groupBy(count) re-shuffled every shingle row for a number
      // the array already knows.
      val sizes = shingleSets(s, d)
        .select(col("doc_id"), size(col("shset")).cast("long").as("nsh"))
      // Both sides project EVERY column to a side-unique name (sh →
      // sh1/sh2 included): a `df("sh") === df("sh")` condition on two
      // projections of one cached frame is the ambiguous-self-join
      // shape Spark 4 only rescues via its "trivially true predicate"
      // fixup — a rewrite the project periodically tightens into
      // AMBIGUOUS_SELF_JOIN errors. Unique names need no rescue.
      val a = sh.select(col("doc_id").as("d1"), col("lang").as("lang1"),
        col("n_chars").as("nc1"), col("sh").as("sh1"))
      val b = sh.select(col("doc_id").as("d2"), col("lang").as("lang2"),
        col("n_chars").as("nc2"), col("sh").as("sh2"))
      a.join(b,
          col("sh1") === col("sh2") && col("d1") < col("d2")
            && col("lang1") === col("lang2")
            && abs(col("nc1") - col("nc2")) <= 20)
        .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "d1")
          .withColumnRenamed("nsh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2")
          .withColumnRenamed("nsh", "n2"), "d2")
        .withColumn("jac", round(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")), 4))
        .filter(col("jac") >= 0.8)
        .select("d1", "d2", "jac")
        .orderBy("d1", "d2")
    }),

    // Near-dup via MinHash + LSH banding (48 murmur3 hash functions,
    // 16 bands x 3 rows since r19 — see MinhashBands for the measured
    // hot-bucket quadratic the 2-row scheme grew at 5M docs), then
    // exact-Jaccard verification of the candidates — the scale path:
    // no all-pairs join anywhere. P[miss] for J=0.8 is
    // (1-0.8^3)^16 ~ 1.0e-5 per pair; exact verification makes every
    // emitted pair true, so at t2 scale the output equals the
    // unblocked exact-Jaccard ground truth.
    //
    // Exchange budget (the round-2 version paid 6 shuffles): the
    // band self-join is left UNHINTED — the bands frame is n·8 rows
    // (linear in corpus size), so forcing a broadcast there would OOM
    // at 100-TB scale; AQE picks BHJ while it fits and degrades to a
    // shuffled equi-join on (band, h0, h1) beyond. The candidate
    // dedup is one tiny exchange over (d1, d2) pairs, and the Jaccard
    // verify attaches the per-doc shingle sets with the intersection
    // computed row-locally — broadcast joins up to a measured doc
    // bound, co-partitioned hash joins past it (the NARROW candidate
    // set is banding-bounded at any scale, but candidates JOINED
    // WITH their shingle sets are corpus-content-sized: the 500k-doc
    // fixture killed the old always-broadcast verify on the driver;
    // see minhashPairsBuild).
    "dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy("d1", "d2")),

    // PARAGRAPH-level boilerplate detection — the sub-document dedup
    // pass real corpus prep runs alongside whole-doc dedup (repeated
    // headers/footers/navigation survive document dedup): texts chunk
    // into consecutive 10-word "paragraphs", a chunk appearing in
    // MORE THAN ONE document is boilerplate, and each doc reports its
    // chunk + boilerplate-chunk counts. All integers. Scale shape:
    // the dedup_exact_fingerprint discipline applied at chunk level —
    // the corpus-wide frequency shuffle carries only
    // (rollingFingerprint(chunk), doc_id); chunk STRINGS shuffle only
    // for the broadcast-reached multi-doc-fingerprint candidate set,
    // whose exact per-string recount removes hash collisions (so the
    // result is string-exact and matches the plain-string oracle).
    "dedup_paragraphs" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      // The chunk frame is PERSISTED (r19 optimization round): four
      // consumers read it (candidate agg, candidate-instance join,
      // boiler recount via candInst, per-doc totals), and the
      // un-persisted lineage re-ran the chunk explode +
      // rollingFingerprint per consumer — the before plan shows FIVE
      // documents scans (plans/r19/dedup_paragraphs_before.txt).
      // Chunk strings live in the cache but still never cross an
      // exchange: the corpus-wide frequency shuffle stays keyed on
      // (fp, doc_id), candidate instances reach the recount through
      // broadcast joins — the scale shape is unchanged.
      val fps = graft.Cache.cached(s, d, "dedup.paraChunks") {
        Tables.documents(s, d)
          .withColumn("ws", split(col("text"), " "))
          .withColumn("nch", expr("size(ws) div 10"))
          .filter(col("nch") > 0)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, nch)," +
              " i -> array_join(slice(ws, (i - 1) * 10 + 1, 10), ' '))"))
            .as("chunk"))
          .withColumn("fp",
            graft.functions.GraftFunctions.rollingFingerprint(
              col("chunk")))
      }
      // narrow (fp, doc_id) shuffle; candidates = fps seen in >1 doc
      val cand = fps.select("fp", "doc_id").groupBy("fp")
        .agg(countDistinct("doc_id").as("ndf"))
        .filter(col("ndf") > 1).select("fp")
      val candInst = fps.join(broadcast(cand), "fp")
        .select("doc_id", "chunk")
      // exact recount on the candidate STRINGS removes collisions
      val boiler = candInst.groupBy("chunk")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") > 1).select("chunk")
      val perDocBoiler = candInst.join(broadcast(boiler), "chunk")
        .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
      fps.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(perDocBoiler, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
        .orderBy("doc_id")
    }),

    // Near-dup survivorship clustering: connected components over the
    // verified MinHash pair graph (a doc transitively near-dup with
    // another belongs to one cluster; the cluster id is its min
    // doc_id — the survivor a dedup pass would keep). Iterative
    // min-label propagation: the driver LOOPS, the data never leaves
    // the cluster — each step is one join + one aggregate, and the
    // step count is the component diameter (near-dup components are
    // tiny chains; a convergence check guards the semantics). At
    // whole-corpus scale with giant components you'd switch to the
    // alternating large-star/small-star formulation — same
    // declarative building blocks, fewer rounds.
    // Oracle: DuckDB WITH RECURSIVE transitive closure — an
    // INDEPENDENT fixed-point formulation of the same answer.
    "dedup_clusters" -> ((s, d) => {
      val labels = ccLabels(s, d)
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("csize"))
      labels.select(col("n").as("doc_id"), col("lbl").as("cluster"))
        .join(sizes.withColumnRenamed("lbl", "cluster"), "cluster")
        .select("doc_id", "cluster", "csize")
        .orderBy("doc_id")
    }),

    // SimHash near-dup: 64-bit signature from xxhash64(word) weighted
    // by term frequency; candidate pairs share one of four 16-bit
    // signature chunks (pigeonhole for hamming <= 3); emit pairs with
    // bit_count(sig1 XOR sig2) <= 3. No-oracle (signature depends on
    // Spark's xxhash64); DedupSpec pins semantics (exact dups have
    // hamming 0; output sorted; native == composable signature).
    // Signatures come from the ONE-PASS native SimHash64 expression
    // (round 9) — the explode + twin-aggregate form ([[simhash]])
    // stays as the executable spec.
    "dedup_simhash" -> ((s, d) => {
      // Persisted (r19 optimization round): the chunk self-join
      // references the signature frame on both sides, and the
      // un-persisted lineage ran the SimHash64 text kernel over the
      // full corpus TWICE (plans/r19/dedup_simhash_before.txt shows
      // two documents scans). The frame is two longs per doc.
      val sigs = graft.Cache.cached(s, d, "dedup.simSigs")(
        simhashNative(s, Tables.documents(s, d)))
      val chunks = sigs.select(col("doc_id"), col("sig"),
          explode(expr("transform(sequence(0, 3)," +
            " c -> struct(c AS c, shiftright(sig, c * 16) & 65535 AS v))"))
            .as("ch"))
        .select(col("doc_id"), col("sig"),
          col("ch.c").as("c"), col("ch.v").as("v"))
      chunks.as("x").join(chunks.as("y"),
          col("x.c") === col("y.c") && col("x.v") === col("y.v")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("d1", "d2")
    }),

    // Embedding-space near-dup: pairs with cosine >= 0.45 (double
    // accumulation; threshold sits in a visible gap of the fixture's
    // cosine distribution). Exact brute-force baseline — reads the
    // SHARED persisted half-pair set (Similarity.halfPairs), so the
    // O(n²) scoring runs once per session across the three queries
    // that need it.
    "dedup_embed" -> ((s, d) =>
      Similarity.halfPairs(s, d)
        .filter(col("cos") >= 0.45)
        .select("v1", "v2", "cos")
        .orderBy("v1", "v2")),

    // The 100-TB twin of dedup_embed: multi-table hyperplane-LSH
    // blocking (the SHARED Similarity.lshCandidates index, Hamming-1
    // probe on every table) finds candidate pairs in
    // O(n · occupancy · tables), then exact cosine verifies — the
    // dedup_minhash candidate→verify pattern applied to vectors.
    // Oracle = the SAME SQL as dedup_embed: with the tuned table
    // count the deterministic fixed-seed blocking covers every
    // qualifying pair on the fixtures (SimilaritySpec pins block
    // recall 1.0 plus a margin check at cos ≥ 0.40), so output
    // hash-matches the exact baseline. Contingency if the driver ever
    // moves t2 to a new SF where coverage breaks: demote this key to
    // no-oracle and keep the equality spec at the fixture SFs.
    // Threshold honesty: cos 0.45 is a 63° angle — a WEAK similarity,
    // the adversarial case for LSH; real near-dup embeddings sit at
    // cos ≥ 0.9 where far fewer tables cover.
    //
    // No candidate distinct(): duplicate collisions re-score a cheap
    // vecDot instead of paying a full exchange over the candidate
    // set; the dedup happens after the cos ≥ 0.45 filter, where a
    // handful of rows remain.
    "dedup_embed_ann" -> ((s, d) =>
      embedAnnPairs(s, d, Similarity.DedupH1Tables, threshold = 0.45))
  )

  /** The dedup_minhash pipeline sans final sort (shared with
    * dedup_clusters): verified near-dup pairs (d1 < d2, jac ≥ 0.8)
    * from MinHash banding + row-local exact-Jaccard verify.
    * Persisted (round 9): dedup_clusters (sorted first in the bench)
    * builds the pair graph for its CC edges, and dedup_minhash used
    * to re-run the band self-join + verify chain from the cached
    * shingles — now it reads this frame.
    *
    * Disk-backed since r17 ([[graft.Cache.diskBacked]]): the verified
    * pair graph is the second genuinely materialize-once artifact in
    * the engine (after the ANN index) — a dedup pipeline computes it
    * once per corpus snapshot and every dedup/clustering/survivorship
    * job reads it, so a released cache re-OPENS the tiny (d1, d2,
    * jac) table instead of re-running shingle → minhash → band join →
    * exact verify. The OTHER cache groups (geo./events./text./
    * pipeline.) stay session-memo-only on purpose: their midpoints
    * are query-local transforms a deployment recomputes per job, not
    * shared indexes — disk-backing them would game the bench, not
    * model a deployment. */
  private[operators] def minhashPairs(s: SparkSession,
      d: String): DataFrame =
    graft.Cache.diskBacked(s, d, "dedup.pairs", "documents.parquet",
      Seq("d1")) { minhashPairsBuild(s, d) }

  /** Banding geometry. r19 moved 8 bands × 2 rows → [[MinhashBands]]
    * bands × [[MinhashRows]] rows after the 1000x documents decade
    * caught a QUADRATIC in the 2-row scheme: a 2-row band bucket is
    * "docs sharing the two globally-minimum common-shingle hashes",
    * and those buckets grow LINEARLY with the corpus (829 docs at
    * 500k → 8,170 at 5M, measured by BandOccProbe), so raw candidate
    * pairs grew 97x across one decade (8.3M → 809M) and the pair
    * build exhausted 64 GB of spill. A third row multiplies another
    * ~4% coincidence probability into every hot bucket (occupancy
    * p³·n instead of p²·n) while 16 bands keep recall BETTER than the
    * old scheme: P[miss | J=0.8] = (1−0.8³)¹⁶ ≈ 1.0e-5 vs the old
    * (1−0.8²)⁸ ≈ 2.8e-4. Verified-pair outputs stay the exact
    * ground truth the oracle computes (misses re-checked at every SF
    * and both off-fixture decades after the change). */
  private[operators] val MinhashBands = 16
  private val MinhashRows = 3
  private[operators] val MinhashFuncs = MinhashBands * MinhashRows

  /** The (doc_id, band, h0..h{rows-1}) LSH banding rows, built row
    * by row from the [[minhashSigs]] signature array: band b's rows
    * are sig(rows·b) … sig(rows·b + rows − 1). No aggregate and no
    * exchange sits under the band self-join. */
  private def minhashBands(s: SparkSession,
      d: String): DataFrame = {
    val sig = col("sig")
    val bandStructs = (0 until MinhashBands).map(b =>
      struct(lit(b).as("band") +: (0 until MinhashRows).map(r =>
        sig(MinhashRows * b + r).as(s"h$r")): _*))
    minhashSigs(Tables.documents(s, d))
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id") +: (col("bd.band").as("band") +:
        (0 until MinhashRows).map(r => col(s"bd.h$r").as(s"h$r"))): _*)
  }

  private[graft] def minhashPairsBuild(s: SparkSession, d: String,
      broadcastMaxDocs: Long = VerifyBroadcastMaxDocs,
      pruneMaxDocs: Long = VerifyPruneMaxDocs): DataFrame = {
    val bands = minhashBands(s, d)
    // The candidate pair set is reused by every verify tier (and
    // three times on the pruned path), so it rides the session cache
    // — released with the rest of the dedup. group.
    val cand = graft.Cache.cached(s, d, "dedup.cand") {
      val keyEq = (0 until MinhashRows)
        .map(r => col(s"x.h$r") === col(s"y.h$r"))
        .foldLeft(col("x.band") === col("y.band"))(_ && _)
      bands.as("x").join(bands.as("y"),
          keyEq && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
    }
    val sets = shingleSets(s, d)
    // Verify-attach dispatch, three tiers (r19 extends the r17 two):
    // the NARROW (d1, d2) candidate set is banding-bounded at any
    // scale, but candidates JOINED WITH their shingle sets are
    // corpus-content-sized.
    //  1. nDocs ≤ broadcastMaxDocs — the oracle-fixture fast path:
    //     double-broadcast, zero exchanges (hashed sets since r19 —
    //     smaller broadcast, same Jaccards; see shingleSets).
    //  2. ≤ pruneMaxDocs — the single-box scale path, measured at the
    //     5M-doc decade where the r17 full-frame attach exhausted
    //     64 GB of spill: the set frames SEMI-PRUNE against the
    //     broadcast candidate-id lists, so only matched docs' sets
    //     ever reach an exchange — the corpus-sized set frame streams
    //     through a broadcast-hash filter instead of shuffling.
    //  3. beyond pruneMaxDocs (candidate ids no longer broadcastable
    //     — the true 100-TB tail) — the prune drops out and the
    //     attaches co-partition the full set frame: the r17 tier-2
    //     shape at 1/5 the bytes.
    // DedupSpec pins all three tiers pair- and Jaccard-identical.
    val nDocs = EngineConf.parquetRowCount(s, s"$d/documents.parquet")
    def jacOut(attached: DataFrame): DataFrame = attached
      .withColumn("inter",
        size(array_intersect(col("set1"), col("set2"))))
      .withColumn("jac", round(col("inter").cast("double")
        / (size(col("set1")) + size(col("set2")) - col("inter")), 4))
      .filter(col("jac") >= 0.8)
      .select("d1", "d2", "jac")
    val s1 = sets.select(col("doc_id").as("d1"), col("shset").as("set1"))
    val s2 = sets.select(col("doc_id").as("d2"), col("shset").as("set2"))
    if (nDocs <= broadcastMaxDocs)
      jacOut(broadcast(broadcast(cand).join(s1, "d1")).join(s2, "d2"))
    else {
      val (a1, a2) =
        if (nDocs <= pruneMaxDocs)
          (s1.join(broadcast(cand.select("d1").distinct()),
            Seq("d1"), "left_semi"),
           s2.join(broadcast(cand.select("d2").distinct()),
             Seq("d2"), "left_semi"))
        else (s1, s2)
      jacOut(cand.join(a1, "d1").join(a2, "d2"))
    }
  }

  /** Doc-count bound for [[minhashPairsBuild]]'s broadcast verify
    * path: at 100k docs the planted-rate candidate set joined with
    * its shingle sets is ~tens of MB (safe to broadcast); the 500k
    * fixture measured it past the driver's broadcast build budget.
    * Beyond the bound the verify joins run co-partitioned. */
  private[operators] val VerifyBroadcastMaxDocs = 100000L

  /** Doc-count bound for the tier-2 semi-prune: candidate IDS are
    * banding-bounded (linear in the duplicate rate — ~0.5% of docs at
    * the planted rates), so broadcasting them holds far past any
    * single box; 50M docs ≈ a few MB of ids. Past it the attach
    * degrades to the co-partitioned full-frame form (tier 3). */
  private[operators] val VerifyPruneMaxDocs = 50000000L

  /** Exact-dedup survivors grouped on the rolling-hash FINGERPRINT
    * (the text_fingerprint expression): one row per distinct text,
    * (doc_id, n_copies, payload…) with doc_id the smallest doc_id
    * holding the text and the payload columns taken from that doc
    * (min_by). `docs` must carry doc_id, text and `payload`.
    *
    * Docs whose fp is unique ARE unique (no verify needed — a
    * collision requires two docs sharing the fp); only the docs in
    * fp-collision groups — a tiny set: true duplicates plus ~n²/1e9
    * accidental collisions — re-group on the FULL text (broadcast
    * join on their ids), which both verifies equality and splits any
    * accidental collision into its true groups.
    *
    * ONE fp pass since the r19 optimization round: the per-fp doc
    * list rides ONE hash aggregate over narrow (fp, doc_id, payload…)
    * rows, so fp is computed once per doc, the corpus is scanned
    * twice (fp pass + the full-text verify re-read), and the only
    * wide exchange carries no text. The previous shape derived
    * singles and collided ids by (anti-)joining an un-persisted fps
    * frame and evaluated rollingFingerprint over the full corpus 4×
    * (plans/r19/dedup_exact_fingerprint_before.txt). Per-group state
    * is the fp's duplicate set — the same set the broadcast already
    * bounds (planted duplicate groups are small by construction).
    * Cached under `cacheKey`: singles and collided ids both read the
    * groups frame, and an un-persisted two-consumer lineage
    * duplicates the whole scan+fp+aggregate subtree (the round-8
    * ReuseExchange finding, re-confirmed by PlanSpec). */
  private[operators] def fingerprintSurvivors(s: SparkSession, d: String,
      cacheKey: String, docs: DataFrame, payload: Seq[String]): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val kept = "doc_id" +: payload
    val groups = graft.Cache.cached(s, d, cacheKey) {
      docs.select(kept.map(col) :+
          GraftFunctions.rollingFingerprint(col("text")).as("fp"): _*)
        .groupBy("fp")
        .agg(collect_list(struct(kept.map(col): _*)).as("ds"))
    }
    def only(c: String): Column = col("ds")(0).getField(c).as(c)
    val singles = groups.filter(size(col("ds")) === 1)
      .select(only("doc_id") +: lit(1L).as("n_copies") +:
        payload.map(only): _*)
    val collidedIds = groups.filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("x"))
      .select(col("x").getField("doc_id").as("doc_id"))
    val verified = docs.join(broadcast(collidedIds), Seq("doc_id"))
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies") +:
        payload.map(c => min_by(col(c), col("doc_id")).as(c)): _*)
    singles.unionByName(verified.drop("text"))
  }

  /** Connected-component labels (n → min doc_id of its component)
    * over the symmetric MinHash pair graph, memoized per (session,
    * dir). Near-dup pair counts are corpus-dependent, so no static
    * bound exists: [[Graph.oneTask]] counts the pair graph at build
    * time. Near-dup pair graphs are sparse BY CONSTRUCTION (banding
    * emits rare candidates), so even a 100-TB corpus often lands on
    * the single-task path. */
  private def ccLabels(s: SparkSession, d: String): DataFrame =
    graft.Cache.cached(s, d, "dedup.ccLabels") {
      import s.implicits._
      val edges = graft.Cache.cached(s, d, "dedup.ccEdges") {
        Graph.symmetric(minhashPairs(s, d), "d1", "d2")
      }
      Graph.ccFixedPoint[Long](edges)
    }

  /** The dedup_embed_ann pipeline: LSH candidates (Hamming-1 probing
    * the first `nH1` tables) verified at cos ≥ `threshold`.
    * SimilaritySpec runs it at 0.40 to pin the coverage margin. */
  private[operators] def embedAnnPairs(s: SparkSession, d: String,
      nH1: Int, threshold: Double): DataFrame =
    Similarity.lshCandidates(s, d, nH1)
      .filter(col("v1") < col("v2"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("v1", "v2")
      .orderBy("v1", "v2")

  /** One-pass native SimHash signatures (doc_id, sig) — the declared
    * path; [[simhash]] is its executable spec (DedupSpec asserts
    * equality over the corpus). */
  private[operators] def simhashNative(s: SparkSession,
      docs: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    docs.select(col("doc_id"),
      GraftFunctions.simHash64(col("text")).as("sig"))
  }

  /** 64-bit SimHash per doc over whitespace tokens — the COMPOSABLE
    * form, kept as the executable spec of [[simhashNative]].
    *
    * Shape: one (doc, word, cnt, hash) row per distinct term, then 64
    * per-bit weighted sums as AGG COLUMNS of a single hash aggregate
    * (not 64 exploded rows per term — that costs a 64x row blow-up
    * and a huge shuffle; columns ride the same partial agg for free).
    * Summing tf·±1 per distinct term equals summing ±1 per
    * occurrence, which is what the native one-pass kernel does.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("w")))
    val bitSums = (0 until 64).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), col("cnt"))
        .otherwise(-col("cnt"))).as(s"s_$b"))
    val sig = (0 until 64).map(b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** Exact shingle-Jaccard pair CTEs (DuckDB): `jacp` ends with the
    * verified (d1 < d2, jac ≥ 0.8) pairs. Shared by the near-dup pair
    * oracles AND (with a RECURSIVE closure appended) the clustering
    * oracle. %BLOCK% is the optional candidate-blocking predicate. */
  private val exactJaccardCtes =
    """ds AS (
      |  SELECT DISTINCT doc_id, lang, n_chars, shingle FROM (
      |    SELECT doc_id, lang, n_chars,
      |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
      |        AS shingle
      |    FROM (SELECT doc_id, lang, n_chars,
      |            unnest(string_split(text, ' ')) AS w,
      |            generate_subscripts(string_split(text, ' '), 1) AS pos
      |          FROM documents) t
      |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  ) s WHERE shingle IS NOT NULL
      |), sz AS (
      |  SELECT doc_id, count(*) AS nsh FROM ds GROUP BY 1
      |), cpairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM ds a JOIN ds b ON a.shingle = b.shingle
      |    AND a.doc_id < b.doc_id%BLOCK%
      |  GROUP BY 1, 2
      |), jacp AS (
      |  SELECT d1, d2,
      |    round(inter * 1.0 / (s1.nsh + s2.nsh - inter), 4) AS jac
      |  FROM cpairs
      |  JOIN sz s1 ON d1 = s1.doc_id
      |  JOIN sz s2 ON d2 = s2.doc_id
      |  WHERE round(inter * 1.0 / (s1.nsh + s2.nsh - inter), 4) >= 0.8
      |)""".stripMargin

  private val exactJaccardSql =
    s"WITH $exactJaccardCtes\n" +
      "SELECT d1, d2, jac FROM jacp ORDER BY d1, d2"

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        | CAST(min(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "dedup_paragraphs" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), ch AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(len(l) // 10 AS INT)),
        |    i -> array_to_string(l[(i*10+1):(i*10+10)], ' '))) AS chunk
        |  FROM ws
        |), f AS (
        |  SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boiler
        |FROM ch JOIN f USING (chunk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same ground truth as dedup_exact — the fingerprint grouping +
    // full-text verify is an exact algorithm, not an approximation.
    "dedup_exact_fingerprint" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        | CAST(min(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "dedup_near" -> exactJaccardSql.replace("%BLOCK%",
      "\n    AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 20"),

    // MinHash output = unblocked exact ground truth (LSH recall at
    // J >= 0.8 is effectively 1 at t2 scale; verified locally).
    "dedup_minhash" -> exactJaccardSql.replace("%BLOCK%", ""),

    // Transitive closure over the same verified pair graph — an
    // independent (recursive-CTE) formulation of the fixed point the
    // engine's min-label propagation computes.
    "dedup_clusters" ->
      (s"WITH RECURSIVE ${exactJaccardCtes.replace("%BLOCK%", "")},\n" +
        """edges AS (
          |  SELECT d1 AS a, d2 AS b FROM jacp
          |  UNION SELECT d2, d1 FROM jacp
          |), reach(n, m) AS (
          |  SELECT a, a FROM edges
          |  UNION
          |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
          |), lab AS (
          |  SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
          |), sizes AS (
          |  SELECT cluster AS c2, count(*) AS csize FROM lab GROUP BY 1
          |)
          |SELECT doc_id, cluster, csize
          |FROM lab JOIN sizes ON cluster = c2
          |ORDER BY doc_id""".stripMargin),

    "dedup_embed" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) >= 0.45
        |ORDER BY v1, v2""".stripMargin,

    // Same ground truth as dedup_embed: the LSH blocking is tuned to
    // cover every qualifying pair on the fixtures, so the hash match
    // against the EXACT oracle is itself the block-recall-1.0 proof.
    "dedup_embed_ann" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) >= 0.45
        |ORDER BY v1, v2""".stripMargin
  )
}
