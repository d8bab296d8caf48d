package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Bucket index of a double against a fixed sorted array of DISTINCT
  * boundaries: the count of boundaries strictly below the value,
  * via binary search — the band assignment of
  * `graft.operators.BandedWindow.quantileBand`.
  *
  * Replaces `size(filter(typedLit(bounds), b => b < v))`, which
  * interprets a lambda over all |bounds| elements per row (~255
  * comparisons + an array scan); this is ~8 comparisons of straight
  * codegen per row against a shared double[] reference. Same
  * contract: strict `<`, so equal keys always share a bucket.
  */
case class SortedBucket(child: Expression, bounds: Array[Double])
    extends UnaryExpression {

  require(bounds.nonEmpty, "use lit(0) for an empty boundary set")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sorted_bucket"
  override def checkInputDataTypes() = {
    require(child.dataType == DoubleType, s"sorted_bucket needs DOUBLE, got ${child.dataType}")
    super.checkInputDataTypes()
  }

  /** Insertion point = #bounds < v (bounds are distinct, so a hit at
    * idx has exactly idx elements below it).
    */
  private def bucketOf(v: Double): Int = {
    val idx = java.util.Arrays.binarySearch(bounds, v)
    if (idx >= 0) idx else -idx - 1
  }

  protected override def nullSafeEval(input: Any): Any =
    bucketOf(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val arr = ctx.addReferenceObj("bounds", bounds, "double[]")
      val idx = ctx.freshName("idx")
      s"""
         |int $idx = java.util.Arrays.binarySearch($arr, $v);
         |${ev.value} = $idx >= 0 ? $idx : -$idx - 1;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SortedBucket =
    copy(child = newChild)
}

object SortedBucket {
  def apply(v: Column, bounds: Array[Double]): Column =
    bridge.column(SortedBucket(bridge.expression(v), bounds))
}
