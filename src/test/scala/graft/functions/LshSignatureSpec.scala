package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LshSignature (native all-tables signature pass) vs the composable
  * per-plane vec_dot fold — code-identical on every vector, since the
  * shared LSH index (ann_lsh + the oracle-checked dedup_embed_ann)
  * rides the bucket codes. */
class LshSignatureSpec extends SparkSpec {

  private val tables = 4
  private val bits = 5

  test("native signature == per-plane vec_dot fold on sf0.01 vectors") {
    GraftFunctions.ensureRegistered(spark)
    val planes = graft.operators.Similarity.hyperplanes(
      nPlanes = tables * bits, dim = 64)
    val flat = planes.flatMap(_._2)
    // composable form: per-table sum of sign-tested vec_dots
    val foldCols = (0 until tables).map { t =>
      (0 until bits).map { b =>
        when(GraftFunctions.vecDot(col("embedding"),
          typedLit(planes(t * bits + b)._2)) >= 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val mism = graft.Tables.embeddings(spark, SparkSpec.sf001)
      .select(
        GraftFunctions.lshSignature(col("embedding"), flat,
          tables, bits).as("native"),
        array(foldCols: _*).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mism == 0L, s"$mism signature vectors diverge")
  }

  test("the declared index config produces identical codes natively") {
    GraftFunctions.ensureRegistered(spark)
    // spot-pin the full 32-table config on a handful of vectors: the
    // driver-side replay computes the same dots in plain Scala
    val t32 = 32 // Similarity.LshTables (private)
    val n = graft.EngineConf.parquetRowCount(
      spark, s"${SparkSpec.sf001}/embeddings.parquet")
    // Similarity.lshBits (private): occupancy-16 bit count
    val b = math.min(48, math.max(4,
      (math.log(n / 16.0) / math.log(2)).ceil.toInt))
    val planes = graft.operators.Similarity.hyperplanes(
      nPlanes = t32 * b, dim = 64)
    val flat = planes.flatMap(_._2)
    val rows = graft.Tables.embeddings(spark, SparkSpec.sf001)
      .orderBy("vec_id").limit(5)
      .select(col("embedding"),
        GraftFunctions.lshSignature(col("embedding"), flat, t32, b)
          .as("sig"))
      .collect()
    rows.foreach { r =>
      val emb = r.getSeq[Float](0)
      val sig = r.getSeq[Long](1)
      assert(sig.length == t32)
      for (t <- 0 until t32) {
        var code = 0L
        for (bi <- 0 until b) {
          val coefs = planes(t * b + bi)._2
          var acc = 0.0
          for (k <- emb.indices) acc += emb(k).toDouble * coefs(k)
          if (acc >= 0) code |= (1L << bi)
        }
        assert(sig(t) == code, s"table $t code diverges")
      }
    }
  }

  test("native participates in whole-stage codegen") {
    GraftFunctions.ensureRegistered(spark)
    val flat = graft.operators.Similarity.hyperplanes(
      nPlanes = tables * bits, dim = 64).flatMap(_._2)
    val p = graft.Tables.embeddings(spark, SparkSpec.sf0001)
      .select(GraftFunctions.lshSignature(col("embedding"), flat,
        tables, bits).as("sig"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("* Project") && p.contains("codegen id"),
      s"lsh_signature projection fell out of whole-stage codegen:\n$p")
  }
}
