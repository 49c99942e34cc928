package graft.functions

import graft.functions.expressions.VecDot
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Registration of graft's native Catalyst expressions.
  *
  * Two paths:
  *  - `GraftExtensions` for `spark.sql.extensions=graft.functions.
  *    GraftExtensions` at session build (the clean cluster deployment);
  *  - `ensureRegistered(spark)` for imperative, idempotent
  *    registration on an already-built session (Verify/Bench/tests,
  *    or a driver-owned session handed to `SparkEntry.entry`).
  */
object GraftFunctions {

  /** Every native function as (SQL name, expression class, builder):
    * the one list both registration paths read. */
  private[functions] val natives
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("vec_dot", classOf[VecDot], es => VecDot(es(0), es(1))),
      ("fingerprint_hash", classOf[expressions.FingerprintHash],
        es => expressions.FingerprintHash(es(0))),
      ("ray_cast", classOf[expressions.RayCast],
        es => expressions.RayCast(es(0), es(1), es(2))),
      ("char_ngrams", classOf[expressions.CharNgrams],
        es => expressions.CharNgrams(es(0), es(1))),
      ("lsh_signature", classOf[expressions.LshSignature],
        es => expressions.LshSignature(es(0), es(1), es(2))),
      ("simhash64", classOf[expressions.SimHash64],
        es => expressions.SimHash64(es(0))),
      ("minhash3", classOf[expressions.MinHash3],
        es => expressions.MinHash3(es(0), es(1))))

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    natives.foreach { case (name, _, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Column-level native dot product (see [[VecDot]] for semantics).
    * Requires one of the registration paths above on the session. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Rolling polynomial fingerprint over the character stream:
    * acc := (acc·31 + ascii(c)) mod 1e9+7, seeded at 7 — the
    * content-addressable doc id `text_fingerprint` declares and
    * `dedup_exact_fingerprint` groups on. ONE definition site so the
    * two queries (and their DuckDB oracles' list_reduce mirror)
    * cannot drift. Dispatches to the native codegen'd
    * [[expressions.FingerprintHash]] (one string decode + primitive
    * fold, vs the HOF form's per-character UTF8String array);
    * requires a registration path on the session. */
  def rollingFingerprint(text: Column): Column =
    call_function("fingerprint_hash", text)

  /** The composable-`functions._` form of [[rollingFingerprint]] —
    * kept as the executable SPEC of the fold's semantics (the
    * equivalence spec asserts bit-equality over the corpus and
    * non-ASCII/empty edge strings). */
  private[graft] def rollingFingerprintHof(text: Column): Column = {
    import org.apache.spark.sql.functions.{aggregate, ascii, lit, split}
    aggregate(split(text, ""), lit(7L),
      (acc, c) => (acc * lit(31L) + ascii(c)) % lit(1000000007L))
  }

  /** Native character n-gram array (see
    * [[expressions.CharNgrams]]): every contiguous n-char substring
    * of `text`, in order. One byte-stream walk + direct slices inside
    * codegen, replacing the O(L²) `transform(sequence(...))` HOF on
    * the corpus trigram path; requires a registration path on the
    * session. */
  def charNgrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("char_ngrams", text, lit(n))
  }

  /** The composable-`functions._` form of [[charNgrams]] — kept as
    * the executable SPEC of the gram semantics (the equivalence spec
    * asserts element-wise equality over the corpus and
    * non-ASCII/short edge strings). Only defined on inputs with
    * length(text) >= n: below that, `sequence(1, length - n + 1)`
    * counts DOWN and the twin diverges by design (callers filter
    * first; the native form returns an empty array). */
  private[graft] def charNgramsHof(text: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{length, lit, sequence, transform}
    transform(sequence(lit(1), length(text) - (n - 1)),
      i => text.substr(i, lit(n)))
  }

  /** All hyperplane-LSH table codes of a vector in one codegen'd
    * pass (see [[expressions.LshSignature]]): `planes` is the
    * flattened tables×bits×dim coefficient matrix. Requires a
    * registration path on the session. */
  def lshSignature(embedding: Column, planes: Seq[Double],
      tables: Int, bits: Int): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function("lsh_signature", embedding, typedLit(planes),
      typedLit(Seq(tables, bits)))
  }

  /** One-pass 64-bit tf-weighted SimHash over whitespace tokens (see
    * [[expressions.SimHash64]]); the explode + twin-aggregate
    * composable form stays as the executable spec
    * (operators.Dedup.simhash, equality asserted in DedupSpec).
    * Requires a registration path on the session. */
  def simHash64(text: Column): Column =
    call_function("simhash64", text)

  /** One-pass MinHash signature over 3-word shingles: `n` running
    * minima of Spark's `hash(shingle, i)` (see
    * [[expressions.MinHash3]]); NULL below 3 tokens. The explode +
    * `min(hash(sh, lit(i)))` aggregate stays as the executable spec
    * (operators.Dedup.minhash, equality asserted in DedupSpec).
    * Requires a registration path on the session. */
  def minHash3(text: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("minhash3", text, lit(n))
  }
}

/** Session-extension registration: add to `spark.sql.extensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.natives.foreach { case (name, cls, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), b))
    }
}
