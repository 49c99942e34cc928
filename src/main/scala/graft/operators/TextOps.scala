package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Category I (text half) — text-analysis operators over `documents`
  * (SURVEY.md §2.1.I + the training-data-pipeline mandate).
  *
  * All tokenization is whitespace-split over lowercase word-salad
  * (FIXTURES.md); every query ends in a provably-total ORDER BY.
  *
  * Scale notes: explode(words) multiplies rows by ~60 but keeps them
  * narrow; every aggregation is partial+final on (doc|term) keys, so
  * the shape is a classic map-side-combinable wordcount that scales
  * linearly with corpus size. tf-idf joins term-level df (vocabulary-
  * bound) to doc-level tf unhinted on the term key — planner-chosen
  * broadcast at fixture sizes, co-partitioned shuffle at scale.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to")

  val queries: Map[String, Q] = Map(
    // Term frequency across the corpus.
    "text_wordcount" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))),

    // Bigram counts via an ordered zip of adjacent tokens (no
    // self-join: transform over the word array stays row-local).
    "text_ngrams" -> ((s, d) =>
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        .select(explode(expr(
          "transform(slice(ws, 1, size(ws) - 1)," +
            " (w, i) -> concat(w, ' ', element_at(ws, i + 2)))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))),

    // tf-idf per (doc, term): tf * ln(N / df), bounded output.
    "text_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // df = docs containing the term. Since the r19 optimization
      // round this dedups PER DOC, ROW-LOCALLY (array_distinct over
      // the doc's own token array) and counts plain rows — the
      // countDistinct(doc_id)-over-all-token-instances form shuffled
      // the full token volume through a distinct expansion, and as a
      // second consumer of `toks` it re-ran the corpus explode as a
      // duplicated lineage anyway. One row per (doc, term) enters the
      // partial agg, which collapses to ≤ vocabulary rows per map
      // partition before the only exchange.
      val df = docs
        .select(explode(array_distinct(split(col("text"), " "))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // The df side is VOCABULARY-sized — sublinear in the corpus but
      // far past broadcast range at 100 TB (Heaps' law puts a web
      // corpus's vocabulary in the 10^8 range), so the join is left
      // unhinted: both sides key on the term, the planner broadcasts
      // at fixture sizes and degrades to a co-partitioned shuffle
      // beyond. Only the 1-row corpus count is hint-broadcast.
      tf.join(df, "w")
        .crossJoin(broadcast(n))
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("w").as("term"),
          col("tf"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
            .as("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }),

    // Corpus stats per (lang, source): doc counts, char sums, vocab.
    // avg_chars is the raw mean, deliberately NOT rounded: both
    // engines divide the integer sum by the count in double, while
    // round() diverges on exact .xx5 means (Spark rounds the decimal
    // string, DuckDB the binary double: 10921 / 40 = 273.025 gives
    // 273.03 vs 273.02).
    "text_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          avg("n_chars").as("avg_chars"))
      val vocab = docs
        .select(col("lang"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "source")
        .agg(countDistinct("w").as("vocab"))
      base.join(vocab, Seq("lang", "source"))
        .orderBy("lang", "source")
    }),

    // Per-doc quality signals: token count, word length, stopword
    // ratio, and a CASE-bucketed quality band.
    "text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_words", size(col("ws")))
        .withColumn("avg_wlen",
          round(length(regexp_replace(col("text"), " ", ""))
            .cast("double") / col("n_words"), 4))
        .withColumn("stop_ratio",
          round(size(expr(s"filter(ws, w -> w IN (${
            stopwords.map("'" + _ + "'").mkString(",")}))"))
            .cast("double") / col("n_words"), 4))
        .withColumn("quality",
          when(col("n_words") < 15, "short")
            .when(col("stop_ratio") > 0.25, "stoppy")
            .when(col("avg_wlen") >= 4.5, "wordy")
            .otherwise("ok"))
        .select("doc_id", "n_words", "avg_wlen", "stop_ratio", "quality")
        .orderBy("doc_id")),

    // Token counting: whitespace tokens vs regex (BPE-ish) tokens vs
    // long tokens — the per-doc token accounting a training pipeline
    // budgets with.
    "text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).as("re_tokens"),
          size(expr("filter(split(text, ' '), w -> length(w) >= 6)"))
            .as("long_tokens"),
          length(col("text")).as("chars"))
        .orderBy("doc_id")),

    // Deterministic document fingerprint: rolling polynomial hash over
    // the character stream (mod 1e9+7) — content-addressable id usable
    // for exact-dedup at scale without shipping full texts.
    "text_fingerprint" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.rollingFingerprint(col("text"))
            .as("fp"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // Training-shard packing: contiguous-fill documents into
    // fixed-token-budget bins (4096 whitespace tokens), partitioned
    // by lang — the op that turns a filtered corpus into
    // fixed-budget training shards. The running prefix sum is the
    // TWO-PHASE distributed form (see [[packBins]]) so no task ever
    // sorts a whole language's corpus; a doc larger than the budget
    // simply owns its bins (contiguous fill, the standard shard
    // layout).
    "text_pack_bins" -> ((s, d) =>
      packBins(Tables.documents(s, d)
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
        .select("lang", "doc_id", "toks"),
        persistIntra =
          df => graft.Cache.cached(s, d, "text.packIntra")(df))),

    // End-to-end corpus preparation — the LLM-training-data pipeline
    // as ONE declared composite: exact-dedup survivors (min doc_id
    // per text) → quality gate (≥ 15 whitespace tokens, the "short"
    // band of text_quality) → contiguous 4096-token shard packing per
    // lang (text_pack_bins' layout over the filtered corpus). Every
    // stage is deterministic integer logic, so the whole pipeline is
    // oracle-checkable end to end. Shape at scale: the dedup stage is
    // the dedup_exact_fingerprint narrow-shuffle form — the wide
    // shuffle carries only (fp, doc_id, lang, toks), never full
    // texts; full texts re-group only for the tiny fp-collision set
    // (reached via broadcast joins). Packing is the two-phase
    // [[packBins]] prefix sum. The oracle stays the straightforward
    // group-by-text survivor SQL: the fingerprint split is an
    // execution strategy, not a semantics change.
    "pipeline_corpus_prep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      val survivors = Dedup.fingerprintSurvivors(s, d, "pipeline.fpGroups",
        docs, Seq("lang", "toks"))
      // The survivor set feeds BOTH packBins references (row prefix +
      // bucket offsets). Persist it via [[graft.Cache]] — AQE's stage
      // cache does not collapse the two lineages (verified: two
      // distinct 481-row ShuffleQueryStages at sf0.01), so without
      // this the whole dedup subtree executes twice. With it, dedup
      // runs once and only narrow (doc_id, lang, toks) triples are
      // ever re-read.
      packBins(graft.Cache.cached(s, d, "pipeline.corpusKept")(
        survivors.select("doc_id", "lang", "toks")
          .filter(col("toks") >= 15)),
        persistIntra =
          df => graft.Cache.cached(s, d, "pipeline.packIntra")(df))
    }),

    // Edit distance along the per-lang doc_id chain: levenshtein
    // between each doc and the next doc of its language — the
    // character-level near-dup verify primitive (candidate pairs from
    // any blocking scheme would feed the same expression; the chain
    // gives a deterministic, linear-size pair set). INTEGER outputs;
    // levenshtein is exactly defined, so no cross-engine float
    // hazard. Row-local O(len²) DP per pair — embarrassingly
    // parallel once the pair set exists.
    "text_edit_distance" -> ((s, d) =>
      editDistanceChain(Tables.documents(s, d))),

    // Gopher-style repetition quality signals: per-doc duplicate
    // n-gram fractions (1 − distinct/total for words, bigrams,
    // trigrams). Everything is ROW-LOCAL array math — build the gram
    // arrays with `transform`, count with `array_distinct`/`size` —
    // so the op is a pure map over the corpus: zero shuffles except
    // the final presentation sort, perfectly linear at 100 TB. The
    // oracle reconstructs the same grams relationally (unnest + lead
    // windows + per-doc aggregation) — an independent formulation of
    // the same counts. Docs under 3 tokens are gated out (both
    // sides): they have no trigrams, and 0/0 is engine-divergent
    // (Spark null vs IEEE NaN).
    "text_repetition" -> ((s, d) =>
      repetitionMetrics(Tables.documents(s, d))),

    // Benchmark decontamination: flag training docs sharing any
    // 5-word shingle with a held-out "benchmark" subset (deterministic
    // membership: doc_id % 97 == 0 — in a real pipeline this is the
    // eval-set corpus). Shape at scale: shingle sets are distinct per
    // doc (bounded by doc length); the benchmark side is SMALL by
    // construction (eval sets are thousands of docs, not billions) so
    // the overlap join is an explicit broadcast — the train side
    // streams through map-side, no shuffle of the corpus. Per-doc
    // totals reuse the (doc_id, shingle) frame. Docs under 5 tokens
    // have no shingles and are gated out on both sides.
    // The distinct (doc_id, shingle) frame feeds THREE consumers
    // (benchmark side, per-doc totals, overlap hits); built un-persisted
    // it recomputes the split+explode+distinct shuffle per consumer, so
    // it goes through [[graft.Cache]] like the dedup shingle matrix
    // (Bench releases the "text." group right after this query).
    "text_contamination" -> ((s, d) =>
      contaminationFrom(graft.Cache.cached(s, d, "text.shingles5")(
        shingles5(Tables.documents(s, d))))),

    // Data-mixing weights: per (lang, source) domain, its token share
    // of the corpus and the resampling weight that would flatten the
    // mixture to uniform (weight = target share / actual share) — the
    // op that turns corpus stats into sampling rates for training-mix
    // control. One partial+final agg on the domain key; the totals
    // frame is ONE row, joined back by explicit broadcast. All
    // divisions are long→double IEEE ops, round 4dp.
    "pipeline_mixture_weights" -> ((s, d) =>
      mixtureFrame(Tables.documents(s, d))
        .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
          round(col("share_raw"), 4).as("share"),
          round(col("weight_raw"), 4).as("weight"))
        .orderBy("lang", "source")),

    // Inverted-index build, scale-bounded: per term, document
    // frequency over the FULL corpus plus a bounded postings sample
    // (the 10 lowest doc_ids). The sample comes from a row_number
    // window — per-term state is capped at 10 rows before any
    // collect, so no task ever materializes a stop-word's full
    // postings list (the collect_list-then-slice form would); the
    // planner strengthens this further by compiling rn ≤ 10 into
    // WindowGroupLimit nodes on BOTH sides of the window exchange
    // (per-partition top-10 pre-filter before the sort — PlanSpec
    // pins it). The (term, doc) dedup key contains doc_id, so the
    // dedup is per-doc and array_distinct does it INSIDE the map
    // task (no exchange — the .distinct() this replaces shuffled the
    // full token volume once before the term-keyed shuffles the df
    // agg and the window each still need). The join of the two
    // term-keyed results is left unhinted (vocabulary-sized sides —
    // planner broadcasts at fixture scale only).
    "text_postings" -> ((s, d) => {
      val td = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("term"))
      val dfreq = td.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy("doc_id")
      val sampled = td
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy("term")
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("postings_sample"))
      dfreq.join(sampled, "term")
        .select(col("term"), col("df"), col("postings_sample"))
        .orderBy("term")
    }),

    // The Gopher/C4-style quality gate as ONE declared composite:
    // every rule is evaluated per doc (token-count bounds, mean word
    // length band, stopword floor, repetition ceiling), the keep flag
    // is their conjunction, and drop_reason names the FIRST failing
    // rule — the audit trail a curation pipeline ships alongside the
    // kept corpus. Pure row-local map (one presentation sort). The
    // float compares are SAFE without rounding: both engines divide
    // the same exact integers and compare the same literal — it's
    // only round() that diverges on ties (see TextOpsSpec's margin
    // pin), so no ratio here is rounded.
    "pipeline_quality_filter" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("nw", size(col("ws")))
        .withColumn("tri", expr(
          "transform(slice(ws, 1, greatest(size(ws) - 2, 0))," +
            " (w, i) -> concat(w, ' ', element_at(ws, i + 2)," +
            " ' ', element_at(ws, i + 3)))"))
        .withColumn("awl", length(regexp_replace(col("text"), " ", ""))
          .cast("double") / col("nw"))
        .withColumn("stop_r", size(expr(s"filter(ws, w -> w IN (${
          stopwords.map("'" + _ + "'").mkString(",")}))"))
          .cast("double") / col("nw"))
        .withColumn("rep_r", when(size(col("tri")) > 0,
          lit(1.0) - size(array_distinct(col("tri"))).cast("double")
            / size(col("tri"))).otherwise(lit(0.0)))
        .withColumn("r_short", (col("nw") < 15).cast("int"))
        .withColumn("r_wlen",
          (col("awl") < 3.0 || col("awl") > 10.0).cast("int"))
        .withColumn("r_stop", (col("stop_r") < 0.03).cast("int"))
        .withColumn("r_rep", (col("rep_r") > 0.3).cast("int"))
        .withColumn("keep", (col("r_short") + col("r_wlen")
          + col("r_stop") + col("r_rep") === 0).cast("int"))
        .withColumn("drop_reason",
          when(col("r_short") === 1, "too_short")
            .when(col("r_wlen") === 1, "word_length")
            .when(col("r_stop") === 1, "low_stopwords")
            .when(col("r_rep") === 1, "repetitive")
            .otherwise("kept"))
        .select("doc_id", "r_short", "r_wlen", "r_stop", "r_rep",
          "keep", "drop_reason")
        .orderBy("doc_id")),

    // Corpus-health statistic: per-language Zipf fit — least-squares
    // slope/intercept of ln(frequency) against ln(rank) over the
    // top-1000 terms, plus the fit correlation. A natural corpus
    // follows slope ≈ −1; template/boilerplate floods flatten it —
    // the vocabulary-level quality gate. Scale shape: (lang, term)
    // counts are the wordcount aggregate; the rank window partitions
    // by lang and the rk ≤ 1000 cap bounds the fit frame per
    // language BEFORE the regression aggregate (which reuses the
    // window's partitioning). Rounds follow the proven agg_corr
    // pattern: 4dp on the ~unit-scale corr, 2dp on slope/intercept.
    // The top-k is TWO-PHASE so no task ever sorts a whole
    // language's vocabulary (the low-cardinality-key ceiling the
    // round-4 verdict flagged in window_distinct_users): terms first
    // rank within (lang, hash-bucket) sub-partitions and only each
    // bucket's top-1000 survive — exact, since a language's true
    // top-1000 term is top-1000 in ANY subset containing it — then
    // the final per-lang rank sorts ≤ 16·1000 survivors instead of
    // the vocabulary.
    "text_zipf" -> ((s, d) =>
      zipfFit(Tables.documents(s, d))
        .select(col("lang"), col("n_terms"),
          round(col("slope_raw"), 2).as("zipf_slope"),
          round(col("intercept_raw"), 2).as("zipf_intercept"),
          round(col("corr_raw"), 4).as("fit_corr"))
        .orderBy("lang")),

    // Shard MANIFEST — the artifact a training pipeline actually
    // ships alongside its packed shards: per (lang, bin), the doc-id
    // range, token total, and an ORDER-INDEPENDENT content checksum
    // (bit_xor of the per-doc rolling fingerprints — XOR needs no
    // overflow care, unlike a modular sum where Spark's wrapping
    // BIGINT and DuckDB's HUGEINT promotion would diverge). Composes
    // the two-phase [[packAssign]] with the shared fingerprint
    // definition site; the doc-keyed fp join adds one narrow
    // exchange.
    "pipeline_shard_manifest" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      // fp rides packAssign as a PASSENGER column (r19 optimization
      // round): the separate fps frame + doc_id join re-scanned the
      // corpus a third time — the before plan shows 3 documents scans
      // (plans/r19/pipeline_shard_manifest_before.txt, captured from
      // the audit dump). The offsets subtree prunes fp, so
      // rollingFingerprint is evaluated exactly once, map-side in the
      // single pack scan.
      val assign = packAssign(docs
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
        .select(col("lang"), col("doc_id"), col("toks"),
          graft.functions.GraftFunctions.rollingFingerprint(col("text"))
            .as("fp")),
        persistIntra =
          df => graft.Cache.cached(s, d, "pipeline.smIntra")(df))
      assign
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"),
          sum("toks").as("bin_tokens"),
          expr("bit_xor(fp)").as("fp_xor"))
        .orderBy("lang", "bin")
    }),

    // Keyword extraction: top-3 terms per document ranked by
    // (tf DESC, df ASC, term ASC) — frequent-in-doc, rare-in-corpus,
    // with a FULLY INTEGER ordering key (a tf·idf score would put a
    // cross-engine ln() in the sort key — libm last-ulp differences
    // could flip near-ties; text_tfidf carries the float score as an
    // OUTPUT, here it would decide the ranking). Same unhinted
    // term-keyed tf⋈df join as text_tfidf (df is vocabulary-sized —
    // broadcast at fixture scale, co-partitioned beyond); the per-doc
    // window partitions by doc_id, so rank state is 3 rows per doc
    // and parallelism scales with the corpus.
    "text_keywords" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df derived independently of tf since the r19 optimization
      // round (same rewrite as text_tfidf — see its comment): the
      // tf.groupBy(term) form made df a second consumer of the tf
      // lineage, and the plan re-scanned the corpus and re-ran the
      // whole explode + (doc, term) aggregate for it
      // (plans/r19/text_keywords_before.txt shows two documents
      // scans and three exchanges feeding the join). Same value:
      // rows of tf per term == docs containing the term ==
      // array_distinct rows per term.
      val df = Tables.documents(s, d)
        .select(explode(array_distinct(split(col("text"), " ")))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = W.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(df, "term")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rn"))
        .orderBy("doc_id", "rn")
    }),

    // Character-trigram profile per language — the char-level
    // statistic the word-level family lacks (char n-gram profiles
    // are what real language-ID models train on; text_langid's
    // marker-word heuristic is the word-level stand-in). Top-10
    // trigrams per lang by count, (n DESC, gram) tiebreak — integer
    // ordering. The top-k is the text_zipf TWO-PHASE shape: rank
    // within (lang, hash-bucket) first, so no task sorts a whole
    // language's trigram vocabulary. Trigram extraction is the NATIVE
    // codegen'd char_ngrams expression (one byte-walk + direct
    // slices; the transform(sequence(...)) HOF it replaced re-scanned
    // the string per gram — O(L²) — and is kept as the executable
    // spec in GraftFunctions.charNgramsHof / CharNgramsSpec).
    "text_char_ngrams" -> ((s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val W = org.apache.spark.sql.expressions.Window
      val wBucket = W.partitionBy("lang", "bkt")
        .orderBy(col("n").desc, col("g"))
      val wLang = W.partitionBy("lang").orderBy(col("n").desc, col("g"))
      Tables.documents(s, d)
        .filter(length(col("text")) >= 3)
        .select(col("lang"), explode(
          graft.functions.GraftFunctions.charNgrams(col("text"), 3)).as("g"))
        .groupBy("lang", "g").agg(count(lit(1)).as("n"))
        .withColumn("bkt", pmod(xxhash64(col("g")), lit(16L)))
        .withColumn("brk", row_number().over(wBucket))
        .filter(col("brk") <= 10)
        .withColumn("rk", row_number().over(wLang))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("g").as("gram"), col("n"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // Language-ID by marker-token voting: a broadcast profile table of
    // (marker word, lang, weight) joined against exploded tokens,
    // argmax per doc. No-oracle: the heuristic's profile table is
    // engine-internal (and this corpus shares one vocabulary across
    // langs — see LangIdSpec for a real multilingual fixture test).
    "text_langid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val profiles = s.createDataFrame(graft.functions.LangId.profileRows)
        .toDF("w", "cand_lang", "weight")
      val scored = toks.join(broadcast(profiles), "w")
        .groupBy("doc_id", "cand_lang")
        .agg(sum("weight").as("score"))
      val best = scored
        .groupBy("doc_id")
        .agg(max_by(col("cand_lang"),
          struct(col("score"), col("cand_lang"))).as("pred_lang"),
          max("score").as("score"))
      docs.select("doc_id", "lang")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("pred_lang"), lit("und")).as("pred_lang"))
        .orderBy("doc_id")
    })
  )

  /** pipeline_mixture_weights' body up to the UNROUNDED ratios
    * (share_raw = domain tokens / corpus tokens; weight_raw =
    * uniform-domain tokens / actual tokens, the two-step IEEE
    * division the query rounds). Split out so TextOpsSpec's 4-dp
    * tie-margin sweep can reconstruct the exact pre-round doubles —
    * a rounded value cannot reveal its own tie. */
  private[operators] def mixtureFrame(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Totals are a PROVABLY-BOUNDED global window over the domain
    // aggregate (|langs|·|sources| rows) — the separate agg +
    // crossJoin(broadcast) form made `dom` a two-consumer lineage and
    // re-ran the corpus aggregate for the 1-row total (r19
    // optimization round; same class as events_seasonality's total).
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    docs
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
      .withColumn("total_tokens", sum("tokens").over(wAll))
      .withColumn("n_domains", count(lit(1)).over(wAll))
      .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
        (col("tokens").cast("double") / col("total_tokens"))
          .as("share_raw"),
        ((col("total_tokens").cast("double") / col("n_domains"))
          / col("tokens")).as("weight_raw"))
  }

  /** text_zipf's body up to the UNROUNDED regression aggregates
    * (slope/intercept rounded 2dp by the query, corr 4dp). Split out
    * for the same tie-margin sweep reason as [[mixtureFrame]]. */
  private[operators] def zipfFit(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wBucket = W.partitionBy("lang", "bkt")
      .orderBy(col("n").desc, col("w"))
    val wLang = W.partitionBy("lang").orderBy(col("n").desc, col("w"))
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
      .withColumn("bkt", pmod(xxhash64(col("w")), lit(16L)))
      .withColumn("brk", row_number().over(wBucket))
      .filter(col("brk") <= 1000)
      .withColumn("rk", row_number().over(wLang))
      .filter(col("rk") <= 1000)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_terms"),
        expr("regr_slope(ln(n), ln(rk))").as("slope_raw"),
        expr("regr_intercept(ln(n), ln(rk))").as("intercept_raw"),
        expr("corr(ln(n), ln(rk))").as("corr_raw"))
  }

  /** The shard-packing core shared by text_pack_bins and
    * pipeline_corpus_prep: exclusive per-lang running token prefix
    * ordered by doc_id → bin = prefix div budget → per-(lang, bin)
    * shard stats.
    *
    * The prefix sum is TWO-PHASE (the window_distinct_users pattern,
    * ported verbatim): a single per-lang window would cap parallelism
    * at the number of languages — one task sorts the dominant
    * language's whole corpus at 100 TB. Instead (1) an intra-bucket
    * exclusive running sum partitions by (lang, doc_id-range bucket),
    * so parallelism scales with data, not languages; (2) per-bucket
    * token totals (a langs × buckets frame, corpus_size/bucketSize
    * rows) get an EXCLUSIVE running offset per lang; (3) a broadcast
    * join adds the offset back. Buckets are doc_id-monotonic
    * (`doc_id div bucketSize` — integer `div`, exact at any id range,
    * the editDistanceChain hazard note), so offset + intra-bucket
    * prefix = the global per-lang prefix, row for row. The offsets
    * frame shrinks by the bucket factor; pick bucketSize ~ √n at
    * scale so both the serial offset window and the broadcast stay
    * ~√n-sized. The bin key is `div` too: floor(prefix / budget)
    * goes through a double and is exact only below 2^53.
    *
    * The bucket totals are derived from the POST-window frame as
    * max(intra + toks) — the last row's inclusive sum (toks ≥ 0 ⇒
    * monotone) — not by re-aggregating `kept`. This matters when
    * `kept` is an expensive lineage (pipeline_corpus_prep's dedup):
    * both join sides then share the IDENTICAL (lang, bkt) exchange
    * subtree, so ReuseExchange reads one shuffle instead of
    * recomputing the upstream twice. A plain sum(toks) re-agg would
    * let column pruning drop the Window from the offsets branch and
    * fork the lineage again (observed: 11 exchanges vs 7).
    *
    * `kept` needs columns (lang, doc_id, toks); bucketSize is a
    * parameter so the spec can prove bucketed == naive at several
    * block factors.
    */
  /** The per-document bin ASSIGNMENT (lang, doc_id, toks, bin) —
    * [[packBins]]' body up to the shard aggregate, split out so
    * pipeline_shard_manifest can join per-doc metadata (fingerprints)
    * onto the same assignment. */
  /** Two-phase pack assignment. `persistIntra` (r19 optimization
    * round) lets declared call sites persist the phase-1 frame via
    * [[graft.Cache]]: the offsets branch and the final join BOTH read
    * `withIntra`, and an un-persisted two-consumer lineage re-runs
    * the entire input scan + intra window per consumer (the round-8
    * ReuseExchange finding; plans/r19/pipeline_shard_manifest_before
    * .txt shows the duplicate). Default identity keeps the helper
    * pure for specs. Passenger columns on `kept` beyond (lang,
    * doc_id, toks) ride through to the output unchanged — the
    * offsets subtree prunes them, so they are computed once. */
  private[operators] def packAssign(
      kept: org.apache.spark.sql.DataFrame,
      bucketSize: Long = 1024L,
      budget: Long = 4096L,
      persistIntra: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = identity)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = kept.withColumn("bkt", expr(s"doc_id div $bucketSize"))
    val wIntra = Window.partitionBy("lang", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOffset = Window.partitionBy("lang").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withIntra = persistIntra(bucketed
      .withColumn("intra", sum("toks").over(wIntra) - col("toks")))
    val offsets = withIntra.groupBy("lang", "bkt")
      .agg(max(col("intra") + col("toks")).as("bkt_total"))
      .withColumn("offset",
        coalesce(sum("bkt_total").over(wOffset), lit(0L)))
      .select("lang", "bkt", "offset")
    withIntra
      .join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("prefix", col("offset") + col("intra"))
      .withColumn("bin", expr(s"prefix div $budget"))
      .drop("bkt", "intra", "offset", "prefix")
  }

  private[operators] def packBins(
      kept: org.apache.spark.sql.DataFrame,
      bucketSize: Long = 1024L,
      budget: Long = 4096L,
      persistIntra: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = identity)
      : org.apache.spark.sql.DataFrame =
    packAssign(kept, bucketSize, budget, persistIntra)
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("bin_tokens"),
        min("doc_id").as("first_doc"))
      .orderBy("lang", "bin")

  /** The text_edit_distance pair chain, RANGE-BLOCKED so no single
    * task ever sorts a whole language (the naive `lead` over a
    * per-lang window serializes the dominant language — most of the
    * corpus at 100 TB). doc_ids bucket into fixed ranges; `lead`
    * runs within (lang, block) — parallelism scales with data — and
    * the cross-block pairs come back via one NARROW join: each
    * block's first and last doc (2 rows per non-empty block) chain
    * per lang in a tiny boundary frame, whose adjacent same-lang,
    * different-block rows are exactly the pairs the block split cut.
    * The boundary window is per-lang but over ~2·n/blockSize rows —
    * serial work shrinks by the block factor instead of growing with
    * the corpus. Package-visible (+ blockSize param) so the spec can
    * prove multi-block agreement with the naive single-window form.
    */
  private[operators] def editDistanceChain(
      docs: org.apache.spark.sql.DataFrame,
      blockSize: Long = 64L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `div` (integer division) — floor(doc_id / blockSize) goes
    // through a double and is exact only below 2^53; block keys must
    // stay exact at any id range or adjacency reconstruction breaks.
    val blocked = docs.withColumn("blk", expr(s"doc_id div $blockSize"))
    val wBlk = Window.partitionBy("lang", "blk").orderBy("doc_id")
    val intra = blocked
      .withColumn("next_id", lead("doc_id", 1).over(wBlk))
      .withColumn("next_text", lead("text", 1).over(wBlk))
      .filter(col("next_id").isNotNull)
      .select("doc_id", "text", "next_id", "next_text", "lang")
    // Block edge docs: rn 1 (first) and n (last) per (lang, block).
    val wAsc = Window.partitionBy("lang", "blk").orderBy(col("doc_id"))
    val wDesc = Window.partitionBy("lang", "blk")
      .orderBy(col("doc_id").desc)
    val edge = blocked
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .filter(col("rn_a") === 1 || col("rn_d") === 1)
      .select("doc_id", "text", "lang", "blk")
    // Adjacent edge docs from DIFFERENT blocks = the cut pairs: the
    // docs between a block's last and the next block's first don't
    // exist, so the two are adjacent in the full per-lang order too.
    val wEdge = Window.partitionBy("lang").orderBy("doc_id")
    val cross = edge
      .withColumn("next_id", lead("doc_id", 1).over(wEdge))
      .withColumn("next_text", lead("text", 1).over(wEdge))
      .withColumn("next_blk", lead("blk", 1).over(wEdge))
      .filter(col("next_id").isNotNull && col("blk") =!= col("next_blk"))
      .select("doc_id", "text", "next_id", "next_text", "lang")
    intra.unionByName(cross)
      .select(col("doc_id"), col("next_id"), col("lang"),
        levenshtein(col("text"), col("next_text")).as("edit_dist"),
        (length(col("next_text")) - length(col("text")))
          .as("len_delta"))
      .orderBy("doc_id")
  }

  /** text_repetition's body, package-visible so the spec can feed
    * crafted documents with hand-computable duplicate fractions. */
  private[operators] def repetitionMetrics(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .withColumn("bi", expr(
        "transform(slice(ws, 1, size(ws) - 1)," +
          " (w, i) -> concat(w, ' ', element_at(ws, i + 2)))"))
      .withColumn("tri", expr(
        "transform(slice(ws, 1, size(ws) - 2)," +
          " (w, i) -> concat(w, ' ', element_at(ws, i + 2)," +
          " ' ', element_at(ws, i + 3)))"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        round(lit(1.0) - size(array_distinct(col("ws")))
          .cast("double") / size(col("ws")), 4).as("dup_word_frac"),
        round(lit(1.0) - size(array_distinct(col("bi")))
          .cast("double") / size(col("bi")), 4).as("dup_bigram_frac"),
        round(lit(1.0) - size(array_distinct(col("tri")))
          .cast("double") / size(col("tri")), 4).as("dup_trigram_frac"))
      .orderBy("doc_id")

  /** Distinct 5-word shingles per doc — text_contamination's shared
    * midpoint (docs under 5 tokens contribute nothing).
    *
    * The distinct is PER-DOC (doc_id rides in every row), so it
    * needs no exchange: `array_distinct` dedups inside the per-doc
    * shingle array before the explode. The `.distinct()` this
    * replaces (through round 13) hash-shuffled every (doc_id,
    * 5-word-string) pair — measured 5.7 MB / 270k records at sf0.1,
    * ~4x the corpus text and the single biggest shuffle in the text
    * family; this form's remaining shuffles are the narrow per-doc
    * count aggregates and the rare matched rows
    * (ShuffleVolumeSpec pins the ceiling).
    *
    * HASH-NARROWED (r20, guide §2.3 "narrower types"): each shingle
    * is a 64-bit xxhash64 over its five words (word boundaries
    * preserved — the multi-arg form chains per argument, so "ab"+"c"
    * and "a"+"bc" differ), never a materialized 5-word string. The
    * per-doc array_distinct, the cached frame, the broadcast
    * bench-side hashmap and the countDistinct all operate on longs
    * instead of ~30-byte strings — the same discipline dedup's
    * shingle base adopted in r14. Overlap semantics are unchanged
    * unless two DIFFERENT 5-grams collide in 64 bits (~n²/2⁶⁵;
    * ~4e-9 at the sf0.1 shingle count), the accepted tradeoff the
    * dedup family already documents. */
  private[operators] def shingles5(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(slice(ws, 1, size(ws) - 4)," +
          " (w, i) -> xxhash64(w, element_at(ws, i + 2)," +
          " element_at(ws, i + 3), element_at(ws, i + 4)," +
          " element_at(ws, i + 5))))")).as("sh"))

  /** text_contamination's body (benchmark membership: doc_id %
    * benchMod == 0), package-visible for fixture-level spec proofs. */
  private[operators] def contaminationReport(
      docs: org.apache.spark.sql.DataFrame,
      benchMod: Int = 97): org.apache.spark.sql.DataFrame =
    contaminationFrom(shingles5(docs), benchMod)

  /** The report over an already-built (doc_id, sh) frame. */
  private[operators] def contaminationFrom(
      sh: org.apache.spark.sql.DataFrame,
      benchMod: Int = 97): org.apache.spark.sql.DataFrame = {
    val bench = sh.filter(col("doc_id") % benchMod === 0)
      .select(col("sh"), col("doc_id").as("bench_id"))
    val train = sh.filter(col("doc_id") % benchMod =!= 0)
    val totals = train.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = train.join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(countDistinct("sh").as("n_hit"),
        countDistinct("bench_id").as("n_bench_docs"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_shingles"), 4).as("contamination"),
        (coalesce(col("n_hit"), lit(0L)) > 0).cast("int").as("flagged"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "text_wordcount" ->
      """SELECT w AS word, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |      FROM documents) t
        |GROUP BY w ORDER BY n DESC, word""".stripMargin,

    "text_ngrams" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT w || ' ' || lead(w, 1) OVER
        |    (PARTITION BY doc_id ORDER BY pos) AS bigram
        |  FROM (SELECT doc_id,
        |          unnest(string_split(text, ' ')) AS w,
        |          generate_subscripts(string_split(text, ' '), 1) AS pos
        |        FROM documents) t
        |) b WHERE bigram IS NOT NULL
        |GROUP BY bigram ORDER BY n DESC, bigram""".stripMargin,

    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |)
        |SELECT tf.doc_id, tf.w AS term, tf.tf,
        |  round(tf.tf * ln((SELECT count(*) FROM documents)
        |    * 1.0 / df.df), 4) AS tfidf
        |FROM tf JOIN df ON tf.w = df.w
        |WHERE tf.doc_id < 50
        |ORDER BY doc_id, tfidf DESC, term""".stripMargin,

    "text_stats" ->
      """WITH base AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    avg(n_chars) AS avg_chars
        |  FROM documents GROUP BY 1, 2
        |), vocab AS (
        |  SELECT lang, source, count(DISTINCT w) AS vocab
        |  FROM (SELECT lang, source,
        |          unnest(string_split(text, ' ')) AS w FROM documents) t
        |  GROUP BY 1, 2
        |)
        |SELECT base.lang, base.source, n_docs, total_chars, avg_chars,
        |  vocab
        |FROM base JOIN vocab USING (lang, source)
        |ORDER BY lang, source""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |  round(length(replace(text, ' ', ''))
        |    * 1.0 / len(string_split(text, ' ')), 4) AS avg_wlen,
        |  round(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'a', 'of', 'and', 'to')))
        |    * 1.0 / len(string_split(text, ' ')), 4) AS stop_ratio,
        |  CASE
        |    WHEN len(string_split(text, ' ')) < 15 THEN 'short'
        |    WHEN round(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the', 'a', 'of', 'and', 'to')))
        |      * 1.0 / len(string_split(text, ' ')), 4) > 0.25
        |      THEN 'stoppy'
        |    WHEN round(length(replace(text, ' ', ''))
        |      * 1.0 / len(string_split(text, ' ')), 4) >= 4.5 THEN 'wordy'
        |    ELSE 'ok'
        |  END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER)
        |    AS re_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    w -> length(w) >= 6)) AS INTEGER) AS long_tokens,
        |  CAST(length(text) AS INTEGER) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_pack_bins" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |), p AS (
        |  SELECT lang, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id) - toks
        |      AS prefix
        |  FROM t
        |)
        |SELECT lang, CAST(prefix // 4096 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc
        |FROM p GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "pipeline_shard_manifest" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(string_split(text, ''),
        |          x -> CAST(ascii(x) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |  FROM documents
        |), p AS (
        |  SELECT lang, doc_id, toks, fp,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id) - toks
        |      AS prefix
        |  FROM t
        |)
        |SELECT lang, CAST(prefix // 4096 AS BIGINT) AS bin,
        |  count(*) AS n_docs, min(doc_id) AS first_doc,
        |  max(doc_id) AS last_doc,
        |  CAST(sum(toks) AS BIGINT) AS bin_tokens,
        |  CAST(bit_xor(fp) AS BIGINT) AS fp_xor
        |FROM p GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pipeline_corpus_prep" ->
      """WITH surv AS (
        |  SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang,
        |    text
        |  FROM documents GROUP BY text
        |), kept AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM surv
        |  WHERE len(string_split(text, ' ')) >= 15
        |), p AS (
        |  SELECT lang, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id) - toks
        |      AS prefix
        |  FROM kept
        |)
        |SELECT lang, CAST(prefix // 4096 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc
        |FROM p GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "pipeline_quality_filter" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS nw,
        |    length(replace(text, ' ', '')) * 1.0
        |      / len(string_split(text, ' ')) AS awl,
        |    len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
        |      / len(string_split(text, ' ')) AS stop_r,
        |    CASE WHEN n_tri > 0
        |      THEN 1.0 - n_tri_distinct * 1.0 / n_tri ELSE 0.0
        |    END AS rep_r
        |  FROM (
        |    SELECT doc_id, text,
        |      count(tri) AS n_tri, count(DISTINCT tri) AS n_tri_distinct
        |    FROM (
        |      SELECT doc_id, text,
        |        w || ' ' || lead(w, 1) OVER win || ' ' ||
        |          lead(w, 2) OVER win AS tri
        |      FROM (SELECT doc_id, text,
        |              unnest(string_split(text, ' ')) AS w,
        |              generate_subscripts(string_split(text, ' '), 1)
        |                AS pos
        |            FROM documents) u
        |      WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |    ) g GROUP BY doc_id, text
        |  ) c
        |), flags AS (
        |  SELECT doc_id,
        |    CAST(nw < 15 AS INTEGER) AS r_short,
        |    CAST(awl < 3.0 OR awl > 10.0 AS INTEGER) AS r_wlen,
        |    CAST(stop_r < 0.03 AS INTEGER) AS r_stop,
        |    CAST(rep_r > 0.3 AS INTEGER) AS r_rep
        |  FROM base
        |)
        |SELECT doc_id, r_short, r_wlen, r_stop, r_rep,
        |  CAST(r_short + r_wlen + r_stop + r_rep = 0 AS INTEGER) AS keep,
        |  CASE WHEN r_short = 1 THEN 'too_short'
        |    WHEN r_wlen = 1 THEN 'word_length'
        |    WHEN r_stop = 1 THEN 'low_stopwords'
        |    WHEN r_rep = 1 THEN 'repetitive'
        |    ELSE 'kept' END AS drop_reason
        |FROM flags ORDER BY doc_id""".stripMargin,

    "text_zipf" ->
      """WITH wc AS (
        |  SELECT lang, w, count(*) AS n FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents
        |  ) t GROUP BY 1, 2
        |), ranked AS (
        |  SELECT lang, n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n DESC, w) AS rk
        |  FROM wc
        |)
        |SELECT lang, count(*) AS n_terms,
        |  round(regr_slope(ln(n), ln(rk)), 2) AS zipf_slope,
        |  round(regr_intercept(ln(n), ln(rk)), 2) AS zipf_intercept,
        |  round(corr(ln(n), ln(rk)), 4) AS fit_corr
        |FROM ranked WHERE rk <= 1000
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "pipeline_mixture_weights" ->
      """WITH dom AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |    count(*) AS n_domains
        |  FROM dom
        |)
        |SELECT lang, source, n_docs, tokens,
        |  round(tokens * 1.0 / total_tokens, 4) AS share,
        |  round((total_tokens * 1.0 / n_domains) / tokens, 4) AS weight
        |FROM dom CROSS JOIN tot
        |ORDER BY lang, source""".stripMargin,

    "text_postings" ->
      """WITH td AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS term,
        |    doc_id
        |  FROM documents
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM td GROUP BY 1
        |), ranked AS (
        |  SELECT term, doc_id,
        |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |  FROM td
        |), sampled AS (
        |  SELECT term,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |      AS postings_sample
        |  FROM ranked WHERE rn <= 10 GROUP BY term
        |)
        |SELECT term, df, postings_sample
        |FROM dfreq JOIN sampled USING (term)
        |ORDER BY term""".stripMargin,

    // Independent formulation: relational gram streams (unnest + lead
    // windows) aggregated per doc, vs Spark's row-local array math.
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3
        |), g AS (
        |  SELECT doc_id, w,
        |    w || ' ' || lead(w, 1) OVER win AS bi,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
        |      AS tri
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |)
        |SELECT doc_id,
        |  CAST(count(w) AS INTEGER) AS n_words,
        |  round(1.0 - count(DISTINCT w) * 1.0 / count(w), 4)
        |    AS dup_word_frac,
        |  round(1.0 - count(DISTINCT bi) * 1.0 / count(bi), 4)
        |    AS dup_bigram_frac,
        |  round(1.0 - count(DISTINCT tri) * 1.0 / count(tri), 4)
        |    AS dup_trigram_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Compares materialized 5-gram strings, while the engine compares
    // their xxhash64 values (shingles5). The two agree unless two
    // different 5-grams collide in 64 bits; such a collision would
    // show up here as a hash-match gate failure (fail-loud), not as
    // silently wrong rows.
    "text_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE len(string_split(text, ' ')) >= 5
        |), sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
        |        || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
        |        AS sh
        |    FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |  ) t WHERE sh IS NOT NULL
        |), bench AS (
        |  SELECT sh, doc_id AS bench_id FROM sh WHERE doc_id % 97 = 0
        |), train AS (
        |  SELECT * FROM sh WHERE doc_id % 97 <> 0
        |), totals AS (
        |  SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1
        |), hits AS (
        |  SELECT t.doc_id, count(DISTINCT t.sh) AS n_hit,
        |    count(DISTINCT b.bench_id) AS n_bench_docs
        |  FROM train t JOIN bench b USING (sh) GROUP BY 1
        |)
        |SELECT totals.doc_id, n_shingles,
        |  coalesce(n_hit, 0) AS n_hit,
        |  coalesce(n_bench_docs, 0) AS n_bench_docs,
        |  round(coalesce(n_hit, 0) * 1.0 / n_shingles, 4) AS contamination,
        |  CAST(coalesce(n_hit, 0) > 0 AS INTEGER) AS flagged
        |FROM totals LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "text_edit_distance" ->
      """SELECT doc_id, next_id, lang,
        |  CAST(levenshtein(text, next_text) AS INTEGER) AS edit_dist,
        |  CAST(length(next_text) - length(text) AS INTEGER) AS len_delta
        |FROM (
        |  SELECT doc_id, lang, text,
        |    lead(doc_id, 1) OVER win AS next_id,
        |    lead(text, 1) OVER win AS next_text
        |  FROM documents
        |  WINDOW win AS (PARTITION BY lang ORDER BY doc_id)
        |) t WHERE next_id IS NOT NULL ORDER BY doc_id""".stripMargin,

    "text_char_ngrams" ->
      """WITH g AS (
        |  SELECT lang, unnest(list_transform(
        |    range(1, length(text) - 1),
        |    i -> substring(text, CAST(i AS INT), 3))) AS g
        |  FROM documents WHERE length(text) >= 3
        |), c AS (
        |  SELECT lang, g, count(*) AS n FROM g GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, g, n, row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, g) AS rk
        |  FROM c
        |)
        |SELECT lang, g AS gram, n, CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,

    "text_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df, tf.term) AS rn
        |  FROM tf JOIN df USING (term)
        |)
        |SELECT doc_id, term, tf, df, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin
  )
}
