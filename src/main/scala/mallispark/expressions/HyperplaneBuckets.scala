package mallispark.expressions

import org.apache.spark.sql.{Column, MallisparkBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All `tables` hyperplane-LSH buckets of an embedding in one pass —
  * BIT-IDENTICAL per table to the Column formulation the specs keep as
  * its reference (one `aggregate(zip_with(vec, signs))` per plane): the
  * dot product accumulates left-to-right in element order (the same FP
  * operation sequence), the sign is taken on
  * `round(dot, 4)` with the same HALF_UP rounding Spark's `round` uses,
  * and bit p of table t's bucket is set iff the rounded dot ≥ 0. The
  * DuckDB oracle (literal sign lists in SQL) is untouched.
  *
  * Replaces tables × planes interpreted `zip_with`/`aggregate` lambda
  * chains per row with one flat loop over the sign matrix. */
case class HyperplaneBuckets(child: Expression, planes: Int, tables: Int,
                             dims: Int)
    extends UnaryExpression with ScalaBodyCodegen {

  require(planes > 0 && planes <= 62 && tables > 0 && tables <= 64 &&
    dims > 0 && dims <= 4096)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_buckets needs array<float|double>, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  // lazy: child.dataType is only valid after analysis resolves the child
  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** signs(t)(p)(i), identical constants to Similarity.planeSigns. */
  @transient private lazy val signs: Array[Array[Array[Double]]] =
    Array.tabulate(tables)(t =>
      mallispark.text.Similarity.planeSigns(t, planes, dims)
        .map(_.toArray).toArray)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // Column parity for malformed vectors: zip_with pads a length mismatch
    // with nulls and a null element null-propagates the product, so the dot
    // is NULL for every plane and `when(round(dot,4) >= 0, ...)` falls to
    // its otherwise(0) — bucket 0 in every table. Replicate exactly.
    val n = arr.numElements()
    var chk = 0
    var malformed = n != dims
    while (!malformed && chk < n) {
      if (arr.isNullAt(chk)) malformed = true
      chk += 1
    }
    if (malformed) return new GenericArrayData(new Array[Long](tables))
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val sv = signs(t)(p)
        var dot = 0.0
        var i = 0
        while (i < n) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          dot = dot + x * sv(i)
          i += 1
        }
        // Spark round(x, 4): BigDecimal HALF_UP — replicate exactly
        val rounded = java.math.BigDecimal.valueOf(dot)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        if (rounded >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBuckets {
  def apply(vec: Column, planes: Int, tables: Int, dims: Int): Column =
    MallisparkBridge.column(new HyperplaneBuckets(
      MallisparkBridge.expression(vec), planes, tables, dims))
}
