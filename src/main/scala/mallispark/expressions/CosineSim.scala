package mallispark.expressions

import org.apache.spark.sql.{Column, MallisparkBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen cosine similarity between two float/double array columns —
  * BIT-IDENTICAL to the Column reference formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_) / (sqrt(Σa²)·sqrt(Σb²))`,
  * kept as the specs' reference and asserted equal there) and to the
  * DuckDB `list_sum(list_transform(...))` mirror: one left-to-right
  * double accumulation per term, same IEEE op order. The higher-order-function form never enters whole-stage
  * codegen (interpreted lambda per element); this kernel is a tight
  * generated loop — the hot path of every similarity operator
  * (brute-force top-k, LSH/IVF refinement, embedding near-dup) runs
  * millions of 64-dim cosines through it.
  *
  * Null if either array is null, lengths differ, or ANY element is
  * null (the HOF form yields null through zip_with padding / null
  * multiplication in the same cases, as does DuckDB list arithmetic —
  * the element check is generated only when the array type admits
  * nulls, so non-nullable schemas keep the unchecked tight loop). */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs array<float|double>, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def containsNulls(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    val aF = elemType(left) == FloatType
    val bF = elemType(right) == FloatType
    val checkNulls = containsNulls(left) || containsNulls(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val aGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val bGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    val nullCheck = containsNulls(left) || containsNulls(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val elemNullGuard =
        if (nullCheck)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
             |      ${ev.isNull} = true; break;
             |    }""".stripMargin
        else ""
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullGuard
         |    final double $x = (double) $a.$aGet($i);
         |    final double $y = (double) $b.$bGet($i);
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na)
         |      * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def apply(a: Column, b: Column): Column =
    MallisparkBridge.column(new CosineSim(
      MallisparkBridge.expression(a), MallisparkBridge.expression(b)))
}
