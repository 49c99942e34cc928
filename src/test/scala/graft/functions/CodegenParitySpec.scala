package graft.functions

import graft.{RowNorm, SparkEntry, SparkSpec}

/** Codegen/interpreted parity for the native expression kernels
  * (round 14).
  *
  * Every custom Catalyst `Expression` here ships BOTH a `doGenCode`
  * and an `eval` path (SimHash64, LshSignature, CharNgrams,
  * FingerprintHash, RayCast, VecDot, MinHash3). On a real cluster the
  * engine does not get to choose which one runs: whole-stage codegen
  * falls back to interpreted evaluation whenever a generated method
  * blows the JIT/classfile budget, a plan is too wide, or compilation
  * fails — silently, per stage, per executor. If the two paths ever
  * disagree, the SAME query returns different results depending on
  * plan width and fallback luck: the worst kind of at-scale bug,
  * invisible at toy scale where codegen always succeeds.
  *
  * VecDotSpec pins parity for one kernel at the unit level; this
  * spec pins it for every kernel THROUGH the declared queries that
  * use them, by running each query under the two forced execution
  * modes Spark's own test suite uses:
  *
  *  - CODEGEN_ONLY + whole-stage on  (generated paths must run)
  *  - NO_CODEGEN   + whole-stage off (interpreted `eval` must run)
  *
  * and requiring identical output at the oracle's 9-digit bar.
  * `spark.sql.codegen.factoryMode` is the runtime conf controlling
  * expression-object generation (MutableProjection/Predicate/
  * Ordering factories); CODEGEN_ONLY additionally fails loud if any
  * expression in the plan CANNOT codegen — so a green run is also
  * proof the kernels really do generate code rather than silently
  * riding CodegenFallback.
  */
class CodegenParitySpec extends SparkSpec {

  private def norm = RowNorm.norm _

  private val modes = Seq(
    "codegen-only" -> Seq(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[T](kv: Seq[(String, String)])(body: => T): T = {
    val conf = spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // Query → SF exercising each kernel with rows > 0 (dedup_* needs
  // sf0.1, the only SF with planted duplicates; everything else is
  // fine at the toy SF). Coverage: SimHash64 (dedup_simhash),
  // LshSignature (ann_lsh; dedup_embed_ann drives the dedup H1
  // variant), CharNgrams (text_char_ngrams), FingerprintHash
  // (text_fingerprint), RayCast (geo_zone_polygon), VecDot
  // (similarity_knn + the verify stages of the embed dedups).
  // MinHash3 is pinned in DedupSpec instead, under the same two
  // modes: dedup_minhash reads the on-disk pair artifact, so a second
  // query pass would not run the kernel again.
  private val targets = Seq(
    "text_char_ngrams" -> SparkSpec.sf0001,
    "text_fingerprint" -> SparkSpec.sf0001,
    "geo_zone_polygon" -> SparkSpec.sf0001,
    "ann_lsh" -> SparkSpec.sf0001,
    "similarity_knn" -> SparkSpec.sf0001,
    "dedup_simhash" -> SparkSpec.sf01,
    "dedup_embed_ann" -> SparkSpec.sf01)

  targets.foreach { case (name, sf) =>
    test(s"$name: codegen-only and interpreted modes agree") {
      def pass(kv: Seq[(String, String)]): Seq[String] = {
        graft.Cache.clear(spark)
        withConfs(kv)(
          SparkEntry.queries(name)(spark, sf).collect().map(norm).toSeq)
      }
      val results = modes.map { case (label, kv) => label -> pass(kv) }
      val (refLabel, ref) = results.head
      assert(ref.nonEmpty, s"$name empty at $sf — parity test is vacuous")
      results.tail.foreach { case (label, got) =>
        val diffs = ref.zip(got).zipWithIndex.collect {
          case ((x, y), i) if x != y => s"row $i:\n  $refLabel=$x\n  $label=$y"
        }
        assert(ref.length == got.length,
          s"$name: ${ref.length} rows under $refLabel vs ${got.length} " +
            s"under $label")
        assert(diffs.isEmpty,
          s"$name: $refLabel vs $label diverge (first 3):\n" +
            diffs.take(3).mkString("\n"))
      }
    }
  }
}
