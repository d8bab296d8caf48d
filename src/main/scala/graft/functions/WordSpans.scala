package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ALL overlapping word n-gram spans of a text column, in positional
  * order and NON-distinct — element `p` is tokens `p..p+n-1` joined by
  * one space (the positional sibling of [[WordShingles]], which
  * dedups). This is the unit of Lee et al. 2022-style exact-substring
  * duplicate marking, where the POSITION of each occurrence matters:
  * posexplode over this array gives the (doc, pos, span) relation the
  * corpus-wide first-occurrence window runs on.
  *
  * Native for the same reason as WordShingles: the equivalent
  * `transform(sequence(0, size-n), p -> concat_ws(' ', slice(...)))`
  * chain executes interpreted per span. This is one tokenize pass per
  * row, invoked from whole-stage codegen. Fewer than n tokens ⇒ empty
  * array.
  */
case class WordSpans(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_spans"

  protected override def nullSafeEval(input: Any): Any =
    WordSpans.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WordSpans.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordSpans =
    copy(child = newChild)
}

object WordSpans {

  /** Every overlapping n-gram of the [[Words]] tokens, in positional
    * order.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = Words.split(text.toString)
    val m = toks.size
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j + n <= m) {
      out(j) = UTF8String.fromString(Words.join(toks, j, j + n, sb))
      j += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, n: Int): Column =
    bridge.column(WordSpans(bridge.expression(text), n))
}
