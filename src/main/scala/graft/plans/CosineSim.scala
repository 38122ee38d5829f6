package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine-similarity over two numeric arrays, with whole-stage
  * codegen (doGenCode): one fused loop accumulating dot product and
  * both norms — replaces the zip_with/aggregate composition (three
  * array traversals through HigherOrderFunction lambda dispatch) in
  * the ANN hot path.
  *
  * Math parity: accumulates left-to-right in doubles and returns
  * dot / (sqrt(na) * sqrt(nb)) — bit-identical to the
  * zip_with/aggregate composition it replaces (kept as the test-side
  * oracle `Oracles.cosineHof`), so oracle-checked
  * rankings are unchanged. Parity includes the edge cases: a NULL
  * element nulls the result, and arrays of UNEQUAL length return NULL
  * (zip_with pads the shorter side with NULLs, which nulls the HOF
  * sum).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  // can yield NULL even from non-null arrays (null elements), so the
  // codegen null slot must stay a real variable
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (va, vb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    // unequal lengths → NULL (zip_with parity: the padded side's
    // nulls would null the whole sum)
    if (va.numElements() != vb.numElements()) return null
    val n = va.numElements()
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // a null element nulls the whole result, matching the
      // zip_with/aggregate composition's NULL propagation
      if (va.isNullAt(i) || vb.isNullAt(i)) return null
      val x = if (lf) va.getFloat(i).toDouble else va.getDouble(i)
      val y = if (rf) vb.getFloat(i).toDouble else vb.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getL = if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      val getR = if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
        else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $x = $getL;
         |    double $y = $getR;
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot /
         |      (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
