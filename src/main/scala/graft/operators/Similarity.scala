package graft.operators

import graft.{Cache, EngineConf, Q, Tables}
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.vecDot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Category I (similarity half) — vector similarity search over
  * `embeddings` (SURVEY.md §2.1.I + training-data-pipeline mandate).
  *
  * `similarity_knn` / `similarity_topk_per_query` are the exact
  * brute-force baselines (all-pairs cosine); they share ONE persisted
  * scored half-pair set (cosine is symmetric, so each unordered pair
  * is scored once and mirrored). `ann_lsh` / `ann_ivf` are the scale
  * paths. For `ann_lsh` the bucket joins replace the cross join, so
  * cost is O(n · occupancy · tables) — never O(n²). `ann_ivf`'s cost
  * is (probed fraction)·n per query, and the fraction a given recall
  * needs depends on the DATA: 0.6 on this isotropic fixture (no
  * cluster structure — see [[IvfProbeFraction]]), ≤ 0.15 on clustered
  * embeddings (spec-proven on a deterministic clustered fixture in
  * SimilaritySpec) — so IVF is sub-quadratic exactly where real
  * embedding corpora live, and honest about the worst case here.
  *
  * Parallelism hazard owned here: the fixture table is ONE parquet
  * row-group, so any plan that streams it through a nested-loop or
  * bucket join would run in a single task. `vecs` repartitions to the
  * session's core count before the O(n²) work — on a real cluster the
  * input is already multi-split and the repartition is a no-op cost.
  *
  * Recall honesty: this fixture is isotropic (top-3 neighbor cosine
  * median ≈ 0.33, labels uncorrelated with geometry), the HARD case
  * for ANN — real text/image embeddings cluster far more tightly, so
  * the same parameters give higher recall and lower candidate volume
  * there. Parameters below are tuned so measured recall@3 ≥ 0.9 on
  * the fixtures (SimilaritySpec) while candidates stay ~linear in n.
  *
  * Perf shape: squared norms are computed ONCE per vector before any
  * pair join, and the per-pair dot product is the native codegen'd
  * [[graft.functions.expressions.VecDot]] — double accumulation in
  * element order, so 4-dp rounds hash-match DuckDB's
  * `list_cosine_similarity(CAST(… AS DOUBLE[]))`.
  */
object Similarity {

  /** embeddings + precomputed squared norm, spread across cores (see
    * class doc), persisted once per (session, sf-dir). */
  private[operators] def vecs(s: SparkSession, d: String): DataFrame =
    Cache.cached(s, d, "sim.vecs") {
      GraftFunctions.ensureRegistered(s)
      Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("nsq", vecDot(col("embedding"), col("embedding")))
    }

  /** All unordered pairs (v1 < v2) with exact 4-dp cosine, persisted:
    * feeds similarity_knn, similarity_topk_per_query AND dedup_embed
    * — one O(n²) evaluation per session instead of three. */
  private[operators] def halfPairs(s: SparkSession, d: String): DataFrame =
    Cache.cached(s, d, "sim.halfPairs") {
      val e = vecs(s, d)
      val a = e.select(col("vec_id").as("v1"), col("embedding").as("ea"),
        col("nsq").as("na"))
      val b = e.select(col("vec_id").as("v2"), col("embedding").as("eb"),
        col("nsq").as("nb"))
      a.join(b, col("v1") < col("v2"))
        .select(col("v1"), col("v2"), round(
          vecDot(col("ea"), col("eb")) / sqrt(col("na") * col("nb")), 4)
          .as("cos"))
    }

  /** Deterministic random hyperplanes: nPlanes x dim coefficients from
    * the fixed-seed ([[LshSeed]]) PRNG (stable across runs and JVMs —
    * recall on a given dataset is therefore deterministic, not a
    * per-run gamble). */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[(Int, Seq[Double])] = {
    val rng = new java.util.Random(LshSeed)
    (0 until nPlanes).map(p => (p, Seq.fill(dim)(rng.nextGaussian())))
  }

  /** Shared LSH index config: ONE persisted bucket index (LshTables
    * tables, occupancy-16 bits, fixed seed) serves both ann_lsh and
    * dedup_embed_ann; only the probe policy (how many tables get
    * Hamming-1 multi-probe) differs per query, and probing is a
    * query-side choice that needs no index rebuild. Measured on the
    * fixtures (isotropic vectors — the adversarial case; see class
    * doc): at sf0.1 (n=2000) this config gives ann recall@3 = 0.932
    * at 1493 directed candidates per query — below the 1999 a
    * brute-force scan pays, and constant in n beyond (candidates ≈
    * tables · occupancy · probes, not n) — and with all tables
    * probed, pair coverage is COMPLETE down to cos 0.40 at every
    * fixture SF (the dedup oracle needs 0.45; 0.40 is the safety
    * margin). SimilaritySpec asserts all of these on every commit. */
  private val LshTables = 32
  private val LshSeed = 42L
  private[operators] val AnnH1Tables = 8
  // All 32 tables H1-probed for dedup: 16 was measured to miss one
  // qualifying pair at sf0.1 — total coverage is what lets this
  // query keep the EXACT oracle.
  private[operators] val DedupH1Tables = 32

  /** Bits per LSH table targeting ~16 vectors/bucket (floored at 4,
    * capped at 48 — bucket codes are 64-bit BIGINTs): occupancy — not
    * bucket count — is what holds candidate volume linear as n grows,
    * and ~16 keeps per-probe cost low enough that many tables stay
    * cheaper than brute force. */
  private def lshBits(n: Long): Int =
    math.min(48, math.max(4,
      (math.log(n / 16.0) / math.log(2)).ceil.toInt))

  /** [[lshBits]] of `d`'s whole embeddings table (footer row count),
    * for the unsharded index and every shard alike. */
  private def indexBits(s: SparkSession, d: String): Int =
    lshBits(EngineConf.parquetRowCount(s, s"$d/embeddings.parquet"))

  /** "tables.bits.seed": the index config every LSH artifact name
    * carries. */
  private def indexKey(s: SparkSession, d: String): String =
    s"$LshTables.${indexBits(s, d)}.$LshSeed"

  /** Per-table LSH bucket codes: one NARROW row per (vector, table)
    * with columns vec_id/tbl/bucket. Signature bits come from
    * sign(v · hyperplane), folded into one bucket BIGINT per table
    * (64-bit arithmetic on both the build and probe side — an int
    * shiftleft would silently overflow past 31 bits). Persisted per
    * params.
    *
    * ALL tables' codes come from ONE native expression over the
    * vectors (round 9, the [[graft.functions.expressions
    * .LshSignature]] codegen'd triple loop over a stage-shared
    * double[] plane matrix) + a posexplode — no row expansion, no
    * aggregate, no re-attach join. The previous shape (crossJoin
    * against a (tables·bits)-row plane table + hash-agg on (vec_id,
    * tbl) + join back to the vectors) materialized tables·bits rows
    * PER VECTOR each carrying the 64-float embedding — ~200× row
    * blow-up and two extra exchanges at scale, and the signature
    * build dominated ann_lsh's warm cost (it's what rep2 rebuilds).
    * Same planes, same fold order, same sign test — so bucket codes,
    * candidates, and the oracle-checked dedup_embed_ann output are
    * unchanged (LshSignatureSpec asserts code equality against the
    * vec_dot composable form).
    *
    * The index row deliberately does NOT carry the embedding: the
    * bucket join shuffles on (tbl, bucket), and a 16-byte code row
    * exchanges ~60× cheaper than one dragging the 64-float array —
    * candidates re-attach vectors afterwards ([[lshCandidates]]).
    *
    * Disk-backed since r17 ([[graft.Cache.diskBacked]], clustered by
    * vec_id): the index is an on-disk artifact built once per
    * process — a released cache re-OPENS it instead of re-running
    * the signature pass, which is what a deployment's indexing-job /
    * query-job split does. vec_id bucketing (not (tbl, bucket)) is
    * the measured choice: it keeps each query vector's probe rows in
    * ONE partition, so the top-k window's map-side WindowGroupLimit
    * still collapses candidates before the exchange (a (tbl,bucket)
    * layout scattered v1 and re-inflated that shuffle 28k → 126k
    * records), and at wide-path scale the sigs ⋈ vecs attach is
    * co-keyed on vec_id. */
  private[operators] def lshBuckets(s: SparkSession, d: String): DataFrame =
    Cache.diskBacked(s, d, s"sim.lsh.${indexKey(s, d)}",
      "embeddings.parquet", Seq("vec_id")) {
      signatures(s, d, vecs(s, d))
    }

  /** (vec_id, tbl, bucket) signature rows of `v`, a subset of `d`'s
    * vectors — the one body behind the unsharded index
    * ([[lshBuckets]]) and its shards ([[lshBucketsShard]]). */
  private def signatures(s: SparkSession, d: String,
      v: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val bits = indexBits(s, d)
    val flat: Seq[Double] = hyperplanes(nPlanes = LshTables * bits,
      dim = 64).flatMap(_._2)
    v.select(col("vec_id"),
      posexplode(GraftFunctions.lshSignature(
        col("embedding"), flat, LshTables, bits))
        .as(Seq("tbl", "bucket")))
  }

  /** Members of shard `shard` of `shards`: pmod(vec_id, shards). */
  private def inShard(shard: Int, shards: Int): Column =
    pmod(col("vec_id"), lit(shards)) === shard

  /** Multi-probe bucket list: the vector's own bucket plus every
    * 1-bit flip — probing Hamming-1 neighbors lifts per-table hit
    * probability from p^b to p^b + b·p^(b-1)(1-p). Probing is the
    * LESS efficient way to spend candidate budget (hit-per-candidate
    * ratio vs own-bucket is (1+b(1-p)/p)/(b+1) < 1), so tables probe
    * own-bucket by default and Hamming-1 only on the first `nH1`
    * tables where extra recall is needed. */
  private def probeBuckets(bits: Int): Column =
    array((lit(0L) +: (0 until bits).map(i => lit(1L << i))).map(m =>
      col("bucket").bitwiseXOR(m)): _*)

  /** Vector-attach strategy bound for [[lshCandidates]]: up to this
    * many vectors (64-float rows, ~150 MB at the bound) the scoring
    * joins BROADCAST the vector frame explicitly. Measured necessity
    * at n = 200k (the 100x ScaleFixture point): the frame's scan
    * estimate (~51 MB) crosses the planner's 10 MB auto-broadcast
    * threshold, so the unhinted attach silently fell back to
    * sort-merge — which sorts the ~n·1750 directed candidate rows
    * and then SHUFFLES every candidate dragging two 64-float arrays
    * (~0.5 kB/row, ~100 GB at 200k) into the second join's exchange.
    * That filled the box's disk where the explicit-broadcast plan
    * moves only narrow rows. Above the bound, [[lshCandidates]]
    * switches to the wide-bucket-join plan (embeddings ride the
    * bucket exchange — linear in n), so neither path ever shuffles
    * an array per CANDIDATE.
    *
    * Bound sizing (raised 500k → 4M in r17 for the third embeddings
    * decade; made HEAP-DERIVED in r18 per the r17 advice): a vector
    * row is ~300 B (64 floats + key + norm), so the broadcast hash
    * relation is ~n·300 B·~1.3 overhead ≈ n·400 B — ~160 MB at 500k,
    * ~1.6 GB at the 4M cap. One copy per EXECUTOR (not per task),
    * which any deployment running ANN over ≥2M vectors has the
    * headroom for — it is the same "replicate the vectors, stream
    * the candidates" layout an in-RAM ANN service uses, and the r17
    * 2M-vector measurement showed the alternative is far worse: the
    * wide path's probe-side exchange carries n·probes·300 B of
    * arrays (~97 GB at 2M with Hamming-1 probing), two orders past
    * the vector set itself.
    *
    * The bound is the smaller of a MEMORY budget and a DESIGN cap,
    * and the memory constant is MEASURED, not estimated (the r17
    * advice's scenario — the fixed 4M figure had only ever been run
    * at 2M — turned out real in both directions): a 2M-row attach
    * COMPLETES at a 16 GiB heap (the r17 scaling run) and DIES at an
    * 8 GiB heap ("Not enough memory to build and broadcast",
    * ShardProbe r18 — the relation build transiently holds rows +
    * hash table alongside the cached signature blocks). So the
    * budget is maxMemory/6400 rows (≈ 2.5M at 16 GiB — above the
    * measured pass; ≈ 1.25M at 8 GiB — below the measured failure),
    * and never more than 4M rows regardless of heap, because past
    * ~1.6 GB-per-executor of replicated vectors the right
    * architecture is index SHARDING (queries replicate, index
    * partitions by vec_id — [[annTopK]]'s sharded route, whose
    * per-shard attach is n/S rows and fits where the unsharded 2M
    * attach dies). Under the bound a too-small heap now backs off to the
    * wide path instead of OOMing.
    *
    * Derivation point (r18 advice, fixed r19): the bound is computed
    * AT CALL TIME from the SESSION, not frozen at class-init from
    * whichever JVM loaded the class. The broadcast hash relation
    * lives in EXECUTOR heap, so in any non-local master the budget
    * comes from `spark.executor.memory` (the conf that sizes the JVM
    * that actually builds the relation); the measured
    * `Runtime.maxMemory()` path remains for local masters, where
    * driver and executors share one JVM and the conf is ignored by
    * Spark itself. Sessions created with different memory settings
    * in one JVM now get their own bound. */
  private[operators] def attachBroadcastMaxRows(s: SparkSession): Long = {
    val master = s.sparkContext.master
    val heapBytes =
      if (master == "local" || master.startsWith("local["))
        Runtime.getRuntime.maxMemory()
      else s.sparkContext.getConf
        .getSizeAsBytes("spark.executor.memory", "1g")
    boundForHeap(heapBytes)
  }

  /** min(4M design cap, heap/6400 measured budget) — see
    * [[attachBroadcastMaxRows]]'s doc for both constants' provenance. */
  private[operators] def boundForHeap(heapBytes: Long): Long =
    math.min(4000000L, heapBytes / 6400L)

  /** Single-box shard-count cap for [[annTopK]]'s sharded route: each
    * shard is meant to be an executor group, and past 16 groups a
    * single box is the wrong tool regardless of heap. The dispatcher
    * FAILS FAST past this (r18 advice) instead of silently capping —
    * a capped S would put > bound rows in every shard's member-side
    * broadcast, reintroducing exactly the OOM the bound prevents. */
  private[operators] val MaxShards: Int = 16

  /** Directed scored LSH candidate pairs (v1 → v2, v1 ≠ v2, cos
    * rounded to 4dp) from the shared bucket index: own-bucket join on
    * every table, Hamming-1 multi-probe on the first `nH1` tables.
    * Pairs colliding in several tables appear once per collision —
    * callers rank with dense_rank (ann) or dedup after the cheap
    * filter (dedup), so no wide candidate `distinct()` exchange is
    * ever needed.
    *
    * Exchange discipline (round 9, hardened round 15): the bucket
    * join runs over NARROW (vec_id, tbl, bucket) rows and the
    * embeddings attach AFTERWARDS via two EXPLICITLY broadcast joins
    * — n ≤ [[AttachBroadcastMaxRows]] makes the pack bounded, and
    * leaving the choice to the planner's 10 MB scan estimate is what
    * let the n = 200k run silently sort-merge ~100 GB of
    * array-carrying candidate rows (see the bound's doc). Past the
    * bound (attachMaxRows, parameterized so specs can force it) the
    * embeddings ride the bucket join itself on BOTH sides: probe and
    * index rows carry their array through the (tbl, bucket)
    * exchange — bytes linear in n·probes, not in candidates — and
    * cos is computed inside the join projection, so only narrow
    * (v1, v2, cos) rows ever leave the stage. Both paths produce
    * identical values (SimilaritySpec pins equality). */
  private[operators] def lshCandidates(s: SparkSession, d: String,
      nH1: Int, attachMaxRows: Long = -1L): DataFrame = {
    val attachBound =
      if (attachMaxRows >= 0) attachMaxRows else attachBroadcastMaxRows(s)
    val sigs = lshBuckets(s, d)
    val bits = indexBits(s, d)
    val v = vecs(s, d)
    val n = EngineConf.parquetRowCount(s, s"$d/embeddings.parquet")
    def cosOf(ea: Column, na: Column, eb: Column, nb: Column): Column =
      round(vecDot(ea, eb) / sqrt(na * nb), 4)
    if (n <= attachBound) {
      val probes = sigs.select(col("vec_id").as("v1"), col("tbl"),
        explode(when(col("tbl") < nH1, probeBuckets(bits))
          .otherwise(array(col("bucket")))).as("bucket"))
      val index = sigs.select(col("vec_id").as("v2"),
        col("tbl"), col("bucket"))
      probes.join(index, Seq("tbl", "bucket"))
        .filter(col("v1") =!= col("v2"))
        .select("v1", "v2")
        .join(broadcast(v.select(col("vec_id").as("v1"),
          col("embedding").as("ea"), col("nsq").as("na"))), "v1")
        .join(broadcast(v.select(col("vec_id").as("v2"),
          col("embedding").as("eb"), col("nsq").as("nb"))), "v2")
        .select(col("v1"), col("v2"),
          cosOf(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
    } else {
      val wide = sigs.join(
        v.select(col("vec_id"), col("embedding"), col("nsq")), "vec_id")
      val probes = wide.select(col("vec_id").as("v1"),
        col("embedding").as("ea"), col("nsq").as("na"), col("tbl"),
        explode(when(col("tbl") < nH1, probeBuckets(bits))
          .otherwise(array(col("bucket")))).as("bucket"))
      val index = wide.select(col("vec_id").as("v2"),
        col("embedding").as("eb"), col("nsq").as("nb"),
        col("tbl"), col("bucket"))
      probes.join(index, Seq("tbl", "bucket"))
        .filter(col("v1") =!= col("v2"))
        .select(col("v1"), col("v2"),
          cosOf(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
    }
  }

  val queries: Map[String, Q] = Map(
    // Global top-20 most-similar pairs (v1 < v2), brute force over the
    // shared persisted half-pair set.
    "similarity_knn" -> ((s, d) =>
      halfPairs(s, d)
        .orderBy(col("cos").desc, col("v1"), col("v2"))
        .limit(20)),

    // Per-query top-5 neighbors with rank, brute force. Each unordered
    // pair is scored ONCE (the persisted half set) and mirrored with a
    // cheap narrow-row projection — the mirror reads the cache, it
    // does NOT recompute the O(n²) join.
    "similarity_topk_per_query" -> ((s, d) => {
      val half = halfPairs(s, d)
      val full = half.unionAll(half.select(
        col("v2").as("v1"), col("v1").as("v2"), col("cos")))
      full
        .withColumn("rk", row_number().over(byCos))
        .filter(col("rk") <= 5)
        .select("v1", "rk", "v2", "cos")
        .orderBy("v1", "rk")
    }),

    // ANN: multi-table random-hyperplane LSH over the SHARED bucket
    // index (one build serves ann_lsh and dedup_embed_ann) → per-table
    // bucket join → exact cosine on candidates → top-3 per query.
    // No-oracle (approximate by construction); SimilaritySpec asserts
    // recall@3 ≥ 0.9 vs the brute-force twin AND bounds candidate
    // volume. Index cardinality comes from parquet footer stats
    // (EngineConf), not a scan job.
    //
    // Ranking trick: candidates are NOT distinct'ed (a pair colliding
    // in two tables appears twice). dense_rank over (cos desc, v2)
    // gives duplicates the same rank — identical ranking to
    // row_number over the distinct pairs — so the only exchange the
    // wide candidate set pays is the window shuffle of narrow
    // (v1, v2, cos) rows; dedup happens after rk ≤ 3 on ~3n rows.
    "ann_lsh" -> ((s, d) => annTopK(s, d, AnnH1Tables)),

    // ANN via IVF: coarse-quantize into cells (Lloyd iterations from
    // deterministic seeds, index persisted), probe each query's
    // nearest cells, exact cosine inside probed cells, top-3.
    // No-oracle (approximate); SimilaritySpec asserts recall ≥ 0.9
    // AND the probed fraction. Constants measured on the fixtures
    // (isotropic — the adversarial case; see class doc).
    "ann_ivf" -> ((s, d) => {
      val n = EngineConf.parquetRowCount(s, s"$d/embeddings.parquet")
      val k = ivfCells(n)
      ivfTopK(s, d, k, nprobe = ivfNprobe(k))
    })
  )

  /** IVF cell count: ~sqrt(2n) cells (occupancy ~sqrt(n/2)) — more,
    * smaller cells than the classic sqrt(n) so a FIXED probed
    * fraction scans fewer vectors per query. */
  private[operators] def ivfCells(n: Long): Int =
    math.max(4, math.sqrt(2.0 * n).ceil.toInt)

  /** Probed-cell budget: the fraction of cells scanned per query —
    * the IVF cost knob (work/query ≈ IvfProbeFraction · n). Measured
    * as the smallest fraction with recall@3 ≥ 0.9 (with margin) at
    * every fixture SF. SimilaritySpec pins BOTH recall and this
    * bound.
    *
    * Honesty, with the measured grid: on THIS isotropic fixture recall
    * is ≈ linear in the probed fraction almost independent of cell
    * count or Lloyd iterations (k=64, 3 iters at sf0.1: f=0.25→0.71,
    * 0.35→0.82, 0.5→0.90, 0.7→0.97; 1 vs 3 iters moves recall by
    * ≤0.03) — random vectors have no cluster structure for the
    * quantizer to exploit, so a small nprobe CANNOT reach 0.9 here.
    * On clustered real embeddings the same code reaches it at
    * f ≈ 0.1. Hyperplane LSH (ann_lsh) beats IVF on this data —
    * which is exactly what the theory predicts for the isotropic
    * case. */
  private[operators] val IvfProbeFraction = 0.6
  /** One Lloyd iteration: the measured grid shows extra iterations move
    * recall ≤0.03 on this fixture (no cluster structure to converge
    * to) while each one adds a full assign+means pass to the index
    * build — measured recall at f=0.6 stays ≥0.93 at every SF. */
  private val IvfLloydIters = 1
  private[operators] def ivfNprobe(k: Int): Int =
    math.max(2, math.ceil(k * IvfProbeFraction).toInt)

  /** Narrow (vec_id, pcell, prk) ranking of every vector
    * against the FINAL centroids, persisted as the probe plan.
    * prk = 1 IS the cell assignment (nearest centroid, ties to the
    * lowest cell — the same tie-break `nearest`'s
    * max_by(struct(cos, -cell)) applies), and prk <= nprobe are the
    * probed cells, so ONE broadcast + map-side rank serves both
    * sides of the probe join. Round 9 replaced a second full
    * `nearest` pass and an array-dragging window exchange; round 14
    * removes the LAST exchange here: the per-vector rank ran as a
    * window over the vec × cell cross product — n·k narrow rows
    * hash-shuffled and sorted (measured 3.1 MB / 132k records at
    * sf0.1, the whole build's shuffle) for an ordering that is
    * map-LOCAL, because the broadcast cross join already lands every
    * vector's k cell rows in one task. The k centroids now ship as
    * ONE packed array row (k = O(√n) — the same bound that makes the
    * centroid frame broadcastable) and each vector ranks its cells
    * inside a sorted-struct HOF: struct(-pcos, pcell) ascending ==
    * (pcos desc, pcell) — the window's exact ordering, exchange-free.
    * VecDot evaluates interpreted inside the lambda (HOFs don't
    * codegen); that per-element constant trades against a full n·k
    * shuffle + sort, and the ranking is built once per index.
    *
    * NaN corner (zero-norm embedding or degenerate zero centroid →
    * 0/0 cosine): Spark orders double NaN as LARGEST, so the old
    * window's (pcos desc) and `nearest`'s max_by(struct(cos, -cell))
    * both rank a NaN cosine FIRST — but plain negation would flip it
    * to last in the ascending struct sort. nanvl pins the ordering
    * key to -Infinity for NaN, preserving the max_by convention
    * (prk = 1 still lands on the NaN cell). The cosine itself is not
    * persisted: the probe/member joins read prk and pcell only.
    *
    * Disk-backed since r17 ([[graft.Cache.diskBacked]], clustered by
    * vec_id): a released cache re-opens the table instead of
    * re-running the Lloyd + ranking build (the r16-measured ~2 s of
    * ann_ivf's warm 2.57 s). vec_id bucketing keeps a vector's
    * probed-cell rows in one partition, so the candidate join's
    * output stays v1-local through the broadcast member side and the
    * top-k window's map-side WindowGroupLimit keeps collapsing
    * candidates before the exchange (a pcell layout scattered v1 and
    * re-inflated that shuffle to the full candidate set — measured
    * 28k → 126k records); it also co-keys ivfIndex's vec attach.
    * The artifact is O(n·k) rows; a 100-TB deployment persists only
    * prk ≤ nprobe (the probed fraction) — full k per vector is kept
    * here because the artifact is keyed by k alone and [[ivfTopK]]
    * takes nprobe per call (SimilaritySpec's clustered fixture probes
    * 0.15 of its cells). */
  private def ivfRanked(s: SparkSession, d: String, k: Int): DataFrame =
    Cache.diskBacked(s, d, s"sim.ivf.ranked.$k.$IvfLloydIters",
      "embeddings.parquet", Seq("vec_id")) {
      val packed = ivfMeans(s, d, k)
        .agg(collect_list(struct(col("cell"), col("centroid"),
          col("cnsq"))).as("cents"))
      val rankedArr = sort_array(transform(col("cents"), c =>
        struct(nanvl(-(vecDot(col("embedding"), c.getField("centroid"))
          / sqrt(col("nsq") * c.getField("cnsq"))),
          lit(Double.NegativeInfinity)).as("negcos"),
          c.getField("cell").as("pcell"))))
      vecs(s, d).crossJoin(broadcast(packed))
        .select(col("vec_id"), posexplode(rankedArr))
        .select(col("vec_id"), col("col.pcell").as("pcell"),
          (col("pos") + 1).as("prk"))
    }

  /** The ann_ivf pipeline over `k` cells, probing `nprobe` per query.
    *
    * Exchange discipline (round 9, same as [[lshCandidates]]): the
    * pcell probe join runs NARROW on BOTH sides — (v1, pcell) ×
    * (v2, pcell), 16-byte rows — and the embeddings re-attach
    * AFTERWARDS with two unhinted joins against the vector frame,
    * whose parquet-scan estimate the static planner can see (so they
    * plan as broadcasts at fixture sizes without a hint, and as
    * co-partitioned hash joins on the candidate keys at scale). The
    * previous shape joined array-carrying rows on pcell: the planner,
    * blind behind a filter-through-join lineage, fell back to
    * sort-merge and paid sorts + exchanges over ~1 KB rows. */
  private[operators] def ivfTopK(s: SparkSession, d: String, k: Int,
      nprobe: Int): DataFrame = {
    val ranked = ivfRanked(s, d, k)
    val v = vecs(s, d)
    val probes = ranked.filter(col("prk") <= nprobe)
      .select(col("vec_id").as("v1"), col("pcell"))
    val members = ranked.filter(col("prk") === 1)
      .select(col("vec_id").as("v2"), col("pcell"))
    // No candidate dedup needed (unlike ann_lsh): cells PARTITION
    // the collection, so a (v1, v2) pair arises from exactly one
    // probed cell — skipping dropDuplicates saves a full exchange
    // over the candidate set.
    probes.join(members, Seq("pcell"))
      .filter(col("v1") =!= col("v2"))
      .select("v1", "v2")
      .join(v.select(col("vec_id").as("v1"), col("embedding").as("ea"),
        col("nsq").as("na")), "v1")
      .join(v.select(col("vec_id").as("v2"), col("embedding").as("eb"),
        col("nsq").as("nb")), "v2")
      .withColumn("cos", round(
        vecDot(col("ea"), col("eb")) / sqrt(col("na") * col("nb")), 4))
      .select("v1", "v2", "cos")
      .withColumn("rk", row_number().over(byCos))
      .filter(col("rk") <= 3)
      .select("v1", "rk", "v2", "cos")
      .orderBy("v1", "rk")
  }

  /** The ann_lsh pipeline, Hamming-1 probing the first `nH1` tables.
    *
    * Scale dispatch (r18): under `attachMaxRows` vectors this is the
    * narrow candidate path + one global top-k window; past it the
    * query routes to the SHARDED form — S = ceil(n / bound) per-shard
    * top-k jobs, each its own [[graft.Cache.diskBacked]] artifact
    * (construction of each artifact is an eager, self-contained write
    * job, so shard broadcasts never coexist — the materialization
    * seam the 2M probe showed the one-query composed form lacks), and
    * the query plan itself is just a union of k-rows-per-query
    * artifact scans re-ranked. Exactness is ShardSpec's pinned
    * property (shards partition members ⇒ global top-k ⊆ per-shard
    * union); the dispatcher is spec-pinned equal to the unsharded
    * form by forcing a small bound at fixture scale. Shard count
    * needed past [[MaxShards]] is a FAIL-FAST (r18 advice): capping
    * S silently would hand every shard's member-side broadcast more
    * than the bound's rows — the exact OOM the bound exists to
    * prevent — so the dispatcher raises a clear past-single-box-scale
    * error at PLAN time instead of dying mid-job. */
  private[operators] def annTopK(s: SparkSession, d: String, nH1: Int,
      attachMaxRows: Long = -1L): DataFrame = {
    val attachBound =
      if (attachMaxRows >= 0) attachMaxRows else attachBroadcastMaxRows(s)
    val n = EngineConf.parquetRowCount(s, s"$d/embeddings.parquet")
    val candidates = if (n <= attachBound)
      lshCandidates(s, d, nH1, attachBound)
    else {
      val bound = math.max(attachBound, 1L)
      val needed = (n + bound - 1) / bound
      if (needed > MaxShards)
        throw new IllegalStateException(
          s"annTopK: $n vectors need $needed shards of <= $bound rows " +
            s"each, past the $MaxShards-shard single-box cap " +
            s"(~${MaxShards * bound} rows at this executor heap). This " +
            "corpus is past single-box scale: run shardTopKArtifact " +
            "builds as independent jobs on separate executor groups, " +
            "or raise spark.executor.memory to lift the attach bound.")
      val shards = needed.toInt
      (0 until shards)
        .map(i => shardTopKArtifact(s, d, i, shards, nH1))
        .reduce(_ unionAll _)
    }
    candidates
      .withColumn("rk", dense_rank().over(byCos))
      .filter(col("rk") <= 3)
      .dropDuplicates("v1", "v2")
      .select("v1", "rk", "v2", "cos")
      .orderBy("v1", "rk")
  }

  /** Per-query ranking: highest cosine first, ties by v2. */
  private def byCos: WindowSpec =
    Window.partitionBy("v1").orderBy(col("cos").desc, col("v2"))

  /** One shard's top-k as a disk-backed artifact (v1-clustered — the
    * re-rank's window key): building it is the shard's indexing JOB;
    * every later query (and every other process) scans k narrow rows
    * per query vector. */
  private def shardTopKArtifact(s: SparkSession, d: String,
      shard: Int, shards: Int, nH1: Int): DataFrame =
    Cache.diskBacked(s, d,
      s"sim.lsh.topk.${indexKey(s, d)}.$nH1.s$shard.of$shards",
      "embeddings.parquet", Seq("v1")) {
      shardTopK(s, d, shard, shards, nH1)
    }

  /** One SHARD of the LSH bucket index: the signature rows of the
    * vectors with pmod(vec_id, shards) == shard, as its own
    * [[graft.Cache.diskBacked]] artifact (vec_id-clustered like the
    * unsharded index — the artifact layer's bucketing already is the
    * shard key, so sharding adds no new physical layout concept). */
  private[operators] def lshBucketsShard(s: SparkSession, d: String,
      shard: Int, shards: Int): DataFrame =
    Cache.diskBacked(s, d, s"sim.lsh.${indexKey(s, d)}.s$shard.of$shards",
      "embeddings.parquet", Seq("vec_id")) {
      signatures(s, d, vecs(s, d).filter(inShard(shard, shards)))
    }

  /** ONE shard's top-k (v1, v2, cos) — the past-[[attachBroadcastMaxRows]]
    * design ("queries replicate, index partitions"): in a deployment
    * this is an independent per-shard JOB (its broadcasts live only
    * for its duration), and [[annTopK]] re-ranks the union of the
    * shards' artifacts.
    *
    *  - the INDEX partitions by vec_id into per-shard diskBacked
    *    artifacts ([[lshBucketsShard]]); the member-side vector
    *    attach broadcasts only n/S rows — back under the memory
    *    bound, the bound this design buys;
    *  - QUERIES replicate: every query probes each shard's bucket
    *    index and takes a per-shard top-k, so only k·S narrow rows
    *    per query ever cross shard boundaries;
    *  - the global re-rank of the union is EXACT relative to the
    *    unsharded query: shards partition the members, so every
    *    candidate pair lives in exactly one shard, and the global
    *    top-k is a subset of the per-shard top-k union (k per shard
    *    retained ≥ k globally needed). ShardSpec pins
    *    sharded == unsharded output row-for-row through [[annTopK]],
    *    at 2 and 3 shards.
    *
    * The query side is a plain vec_id join: annTopK only shards past
    * the attach bound, where the full query set must not broadcast
    * (the corpus self-join is the stress shape; a deployment's query
    * batch is small and the planner broadcasts it on its own). The
    * per-shard H1 probe work is S× the unsharded probe work — the
    * real, stated price of "queries replicate". */
  private def shardTopK(s: SparkSession, d: String,
      shard: Int, shards: Int, nH1: Int): DataFrame = {
    val v = vecs(s, d)
    val bits = indexBits(s, d)
    def cosCol: Column = round(
      vecDot(col("ea"), col("eb")) / sqrt(col("na") * col("nb")), 4)
    val probes = (0 until shards)
      .map(j => lshBucketsShard(s, d, j, shards))
      .reduce(_ unionAll _)
      .select(col("vec_id").as("v1"), col("tbl"),
        explode(when(col("tbl") < nH1, probeBuckets(bits))
          .otherwise(array(col("bucket")))).as("bucket"))
    val index = lshBucketsShard(s, d, shard, shards)
      .select(col("vec_id").as("v2"), col("tbl"), col("bucket"))
    probes.join(index, Seq("tbl", "bucket"))
      .filter(col("v1") =!= col("v2"))
      .select("v1", "v2")
      .join(v.select(col("vec_id").as("v1"),
        col("embedding").as("ea"), col("nsq").as("na")), "v1")
      .join(broadcast(v.filter(inShard(shard, shards))
        .select(col("vec_id").as("v2"),
          col("embedding").as("eb"), col("nsq").as("nb"))), "v2")
      .select(col("v1"), col("v2"), cosCol.as("cos"))
      .withColumn("rk", dense_rank().over(byCos))
      .filter(col("rk") <= 3)
      .select("v1", "v2", "cos")
  }

  /** IVF index halves for the specs: (assignments with columns
    * vec_id/cell/embedding/nsq, centroid means with
    * cell/centroid/cnsq). Assignments derive from [[ivfRanked]]'s
    * prk = 1 rows — the declared query and the audited index share
    * one ranking pass. */
  def ivfIndex(s: SparkSession, d: String, k: Int): (DataFrame, DataFrame) = {
    val assigned = ivfRanked(s, d, k)
      .filter(col("prk") === 1)
      .select(col("vec_id"), col("pcell").as("cell"))
      .join(vecs(s, d), "vec_id")
      .select("vec_id", "cell", "embedding", "nsq")
    (assigned, ivfMeans(s, d, k))
  }

  /** Centroid means: deterministic seeds (k lowest vec_ids), then
    * [[IvfLloydIters]] Lloyd iterations (assign to nearest centroid
    * by cosine, recompute element-wise mean). Only the FINAL means
    * are persisted — intermediate iterations exist once in the build
    * lineage and are never re-read. */
  private def ivfMeans(s: SparkSession, d: String, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val v = vecs(s, d)
    // Narrow assign-aggregate: group on the key alone (hash-agg over
    // longs), then pull the vector back with an UNHINTED join —
    // grouping on the embedding array itself made every partial-agg
    // row carry 64 floats through the exchange, and a broadcast
    // re-attach would ship the whole n-row vector table (not
    // broadcastable at scale). Both sides hash on vec_id: one
    // co-partitioned shuffle each at scale, planner-chosen broadcast
    // at fixture sizes.
    def nearest(cents: DataFrame): DataFrame =
      v.crossJoin(broadcast(cents))
        .withColumn("cos",
          vecDot(col("embedding"), col("centroid"))
            / sqrt(col("nsq") * col("cnsq")))
        .groupBy("vec_id")
        .agg(max_by(col("cell"),
          struct(col("cos"), -col("cell"))).as("cell"))
        .join(v, "vec_id")
    // Element-wise mean in ONE exchange: collect the cell's vectors
    // and fold them with zip_with (cells hold ~sqrt(n) members, so
    // the per-group list is small by construction) — the posexplode
    // form paid two exchanges (cell,pos re-shuffle + re-assembly)
    // per Lloyd iteration for the same result.
    def meansOf(assigned: DataFrame): DataFrame = assigned
      .groupBy("cell")
      .agg(expr("aggregate(collect_list(embedding)," +
        " array_repeat(CAST(0 AS DOUBLE), 64)," +
        " (acc, x) -> zip_with(acc, x, (a, b) -> a + CAST(b AS DOUBLE)))")
        .as("sumvec"),
        count(lit(1)).as("cnt"))
      .select(col("cell"),
        expr("transform(sumvec, a -> a / cnt)").as("centroid"))
      .withColumn("cnsq", vecDot(col("centroid"), col("centroid")))
    val seeds = v.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("embedding"))
      .withColumn("cell",
        (row_number().over(Window.orderBy("vec_id")) - 1))
      .select(col("cell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("centroid"))
      .withColumn("cnsq", vecDot(col("centroid"), col("centroid")))
    Cache.cached(s, d, s"sim.ivf.means.$k.$IvfLloydIters") {
      (1 to IvfLloydIters).foldLeft(seeds)((cents, _) =>
        meansOf(nearest(cents)))
    }
  }

  val oracles: Map[String, String] = Map(
    "similarity_knn" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, v1, v2 LIMIT 20""".stripMargin,

    "similarity_topk_per_query" ->
      """SELECT v1, CAST(rk AS INTEGER) AS rk, v2, cos FROM (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 4) AS cos,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY round(list_cosine_similarity(
        |        CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rk
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |) t WHERE rk <= 5 ORDER BY v1, rk""".stripMargin
  )
}
