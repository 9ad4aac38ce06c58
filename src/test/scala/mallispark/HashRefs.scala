package mallispark

import org.apache.spark.sql.{Column, DataFrame, MallisparkBridge}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import mallispark.text.{Similarity, TextOps}

/** Reference formulations the engine's kernels and operators are checked
  * against. None runs in the engine: `ShingleMinHash`, `SimHashPortable`,
  * `CosineSim` and `HyperplaneBuckets` compute the same values in one
  * pass, `Dedup.ngramJaccardWithinBuckets` finds the same pairs through
  * LSH buckets, and the specs assert the parity. */
object HashRefs {

  /** Cosine of two array<float/double> columns as Column higher-order
    * functions (summed in DOUBLE, left-to-right) — the formulation the
    * `CosineSim` kernel is asserted bit-identical to. */
  def cosineColumns(a: Column, b: Column): Column = {
    val dot = F.aggregate(
      F.zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      F.lit(0.0), (acc, x) => acc + x)
    val na = F.sqrt(F.aggregate(a, F.lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
    val nb = F.sqrt(F.aggregate(b, F.lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
    dot / (na * nb)
  }

  /** Random-hyperplane LSH bucket for one table: `planes` sign bits of
    * round(dot(v, r_p), 4) ≥ 0, r_p ∈ {±1}^d from `Similarity.planeSigns`,
    * packed into one BIGINT — the per-table formulation the
    * `HyperplaneBuckets` kernel is asserted bit-identical to. */
  def lshBucket(vec: Column, planes: Int, dims: Int,
                table: Int = 0): Column = {
    val signs = Similarity.planeSigns(table, planes, dims)
    signs.zipWithIndex.map { case (sv, p) =>
      val arr = F.array(sv.map(F.lit): _*)
      val dot = F.aggregate(
        F.zip_with(vec, arr, (x, s) => x.cast(DoubleType) * s),
        F.lit(0.0), (acc, x) => acc + x)
      F.when(F.round(dot, 4) >= 0, F.lit(1L << p)).otherwise(F.lit(0L))
    }.reduce(_ + _)
  }

  /** Exact n-gram (word) Jaccard for ALL pairs sharing a shingle:
    * distinct shingles exploded, self-joined on shingle, |A∩B| counted,
    * Jaccard = inter / (|A|+|B|-inter). Returns pairs with
    * jaccard ≥ threshold (id_a < id_b) as (id_a, id_b, inter, sz_a, sz_b,
    * jaccard). The self-join is O(Σ df²) over shingle buckets — the
    * exact answer the LSH-gated path must recall, at test scale only. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxShingleDf: Int = 0): DataFrame = {
    val sh = shingleSet(df, id, text, n, maxShingleDf)
    val sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        F.col("a.shingle") === F.col("b.shingle") &&
          F.col("a.doc") < F.col("b.doc"))
      .groupBy(F.col("a.doc").as("id_a"), F.col("b.doc").as("id_b"))
      .agg(F.count(F.lit(1)).as("inter"))
    jaccardFilter(pairs, sizes, threshold)
  }

  /** Distinct shingles exploded per doc, optionally frequency-capped:
    * shingles appearing in more than `maxShingleDf` docs are dropped, so
    * Jaccard is defined over the discriminative shingle space (the cap
    * `ngramJaccardWithinBuckets` and the DuckDB oracle apply). */
  private def shingleSet(df: DataFrame, id: String, text: String, n: Int,
                         maxShingleDf: Int): DataFrame = {
    val sh = df.select(F.col(id).as("doc"),
        F.explode_outer(F.array_distinct(TextOps.shingles(F.col(text), n)))
          .as("shingle"))
      .where(F.col("shingle").isNotNull)
    if (maxShingleDf <= 0) sh
    else {
      val hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).as("df"))
        .where(F.col("df") > maxShingleDf).select("shingle")
      sh.join(F.broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  private def jaccardFilter(pairs: DataFrame, sizes: DataFrame,
                            threshold: Double): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        F.col("inter").cast(DoubleType) /
          (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
      .where(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")

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
