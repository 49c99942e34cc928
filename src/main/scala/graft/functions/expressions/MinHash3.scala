package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of a text's 3-word shingles in ONE pass over the
  * UTF-8 bytes: element i of the `array<int>` result is
  * `min over shingles sh of hash(sh, i)`, with `hash` Spark's own
  * Murmur3 (seed 42), for i in 0 until n.
  *
  * Why a custom Catalyst expression (the [[SimHash64]] rationale):
  * the composable form explodes every shingle into a row and folds n
  * `min(hash(sh, lit(i)))` accumulators back to one row per document
  * — a shuffled aggregate for what is a PER-ROW computation. Here the
  * tokenizer walks the byte stream in place (0x20 never occurs inside
  * a multi-byte UTF-8 sequence), each shingle is the contiguous byte
  * slice from its first token's start to its third token's end (the
  * separators are single spaces, so that slice IS `concat(w1, ' ',
  * w2, ' ', w3)`), and its bytes are hashed ONCE: `hash(sh, i)` is
  * `Murmur3_x86_32.hashInt(i, hashUnsafeBytes(sh, 42))`, so the n
  * functions fold from one string hash.
  *
  * Semantics are IDENTICAL to the composable form
  * (operators.Dedup.minhash, spec-asserted over the corpus + edge
  * strings): Spark's `split(text, ' ')` keeps empty tokens, so the
  * tokenizer emits one token per separator gap including empty ones;
  * a text of fewer than 3 tokens has no shingle and yields NULL,
  * which is where the composable form yields no row. */
case class MinHash3(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = left.dataType.isInstanceOf[StringType] &&
      right.dataType == IntegerType && right.foldable
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "minhash3 needs (string text, foldable int n), got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  // n is foldable by contract: evaluate once, share across the stage.
  @transient private lazy val n: Int = {
    val v = right.eval(null).asInstanceOf[Int]
    require(v >= 1, s"minhash3 n must be >= 1, got $v")
    v
  }

  override protected def nullSafeEval(text: Any, nAny: Any): Any =
    MinHash3.compute(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, _) => {
      s"""
         |${ev.value} =
         |  graft.functions.expressions.MinHash3.compute($text, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinHash3 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "minhash3"
}

object MinHash3 {
  private val Seed = 42

  /** One-pass MinHash kernel (null below 3 tokens); static so
    * generated code can call it. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    val mins = Array.fill(n)(Int.MaxValue)
    // Start offsets of the last three tokens, as a ring.
    val starts = new Array[Int](3)
    var tokens = 0
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == 0x20) {
        starts(tokens % 3) = start
        tokens += 1
        if (tokens >= 3) {
          val from = starts((tokens - 3) % 3)
          val h0 = Murmur3_x86_32.hashUnsafeBytes(base, off + from,
            i - from, Seed)
          var f = 0
          while (f < n) {
            val h = Murmur3_x86_32.hashInt(f, h0)
            if (h < mins(f)) mins(f) = h
            f += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    if (tokens < 3) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
