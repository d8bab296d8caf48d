package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The CROSS-BLOCK companion of [[OuterMoments]] for the two-level
  * subspace reduce (PLANS.md embed_anisotropy, the d ≫ 64 swap): the
  * m×n rectangle [qa_i · qb_j, row-major] of quantized products
  * between two DISJOINT subspace slices of one embedding. Diagonal
  * blocks stay [[OuterMoments]] over the slice (which also carries
  * the raw first-moment components); S diagonal triangles plus the
  * S(S-1)/2 rectangles tile the full d-wide upper triangle exactly
  * once, so the merged two-level aggregation reproduces the
  * single-level sums term-for-term — only the per-task hash-agg key
  * space shrinks from d(d+1)/2·|labels| to one block's worth per
  * pass. Quantization (×10⁶ floor) and the loud multiplyExact /
  * null-component contracts are OuterMoments'. Where the swap pays is
  * measured in PLANS.md.
  */
case class CrossMoments(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cross_moments"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cross_moments expects two array<float|double>, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(a: Any, b: Any): Any =
    CrossMoments.compute(a.asInstanceOf[ArrayData], leftIsFloat,
      b.asInstanceOf[ArrayData], rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = CrossMoments.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helper.compute($a, $leftIsFloat, $b, $rightIsFloat);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CrossMoments = copy(left = newLeft, right = newRight)
}

object CrossMoments {

  private def quantize(arr: ArrayData, isFloat: Boolean,
      side: String): Array[Long] = {
    val n = arr.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"cross_moments: null $side component at index $i")
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      q(i) = math.floor(x * 1000000.0).toLong
      i += 1
    }
    q
  }

  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData,
      bFloat: Boolean): ArrayData = {
    val qa = quantize(a, aFloat, "left")
    val qb = quantize(b, bFloat, "right")
    val out = new Array[Long](qa.length * qb.length)
    var p = 0
    var i = 0
    while (i < qa.length) {
      val qi = qa(i)
      var j = 0
      while (j < qb.length) {
        out(p) = Math.multiplyExact(qi, qb(j))
        p += 1
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(a: Column, b: Column): Column =
    bridge.column(CrossMoments(bridge.expression(a), bridge.expression(b)))
}
