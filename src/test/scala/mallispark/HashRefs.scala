package mallispark

import org.apache.spark.sql.{Column, MallisparkBridge}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Reference formulations the portable hash kernels are checked
  * against. None runs in the engine: `ShingleMinHash` and
  * `SimHashPortable` compute the same values in one pass, and the specs
  * assert the bit-parity. */
object HashRefs {

  /** Pack per-bit votes (array of 32 longs) into a 32-bit key: bit i set
    * iff votes[i] > 0 — the Column formulation `SimHashPortable` is
    * asserted bit-identical to. */
  def packBits(votes: Column): Column =
    F.aggregate(
      F.zip_with(votes, F.sequence(F.lit(0), F.lit(31)), (v, i) =>
        F.when(v > 0,
          F.pow(F.lit(2.0), i.cast(DoubleType)).cast(LongType))
          .otherwise(F.lit(0L))),
      F.lit(0L), (acc, x) => acc + x)

  /** Per-bit ±1 vote sums folded over an array of base hashes. Bit
    * extraction via floor(h / 2^i) % 2. */
  def voteBits(hs: Column): Column =
    F.aggregate(
      hs,
      F.array_repeat(F.lit(0L), 32),
      (acc, h) =>
        F.zip_with(acc, F.sequence(F.lit(0), F.lit(31)), (a, i) =>
          a + F.when(
            F.floor(h.cast(DoubleType) /
              F.pow(F.lit(2.0), i.cast(DoubleType))).cast(LongType) % 2 === 1,
            1L).otherwise(-1L)))
}

/** k per-seed affine-MinHash minima over an array of base hashes —
  * BIT-IDENTICAL to the Column formulation
  * `array_min(transform(hs, h → (h·(2s+1) + 99991·s) mod P))` repeated
  * for s = 0..k-1, but in ONE generated loop instead of k interpreted
  * higher-order-function passes. Over
  * `transform(array_distinct(shingles(text, n)), h32)` it is the
  * reference `ShingleMinHash` is asserted bit-identical to. Base hashes
  * are < 2^32 and multipliers < 2^10, so products never overflow a
  * signed 64-bit long (P = 2^61 - 1). */
case class AffineMinHash(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0 && k <= 512, s"k out of range: $k")

  private val P = mallispark.text.Dedup.MinhashP

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"affine_minhash needs array<bigint>, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "affine_minhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var s = 0
        while (s < k) {
          val m = (h * (2L * s + 1L) + 99991L * s) % P
          if (m < mins(s)) mins(s) = m
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val m = ctx.freshName("m")
      val gad = classOf[GenericArrayData].getName
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = $c.getLong($i);
         |    for (int $s = 0; $s < $k; $s++) {
         |      long $m = ($h * (2L * $s + 1L) + 99991L * $s) % ${P}L;
         |      if ($m < $mins[$s]) $mins[$s] = $m;
         |    }
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AffineMinHash {
  /** Column wrapper. */
  def apply(hs: Column, k: Int): Column =
    MallisparkBridge.column(
      new AffineMinHash(MallisparkBridge.expression(hs), k))
}
