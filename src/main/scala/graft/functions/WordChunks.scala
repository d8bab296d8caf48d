package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Consecutive non-overlapping `w`-word chunks of a text column (the
  * span-dedup / context-chunking primitive), as one native expression
  * instead of the equivalent
  * `transform(sequence(0, ceil(n/w)-1), i => array_join(slice(toks,
  * i*w+1, w), " "))` higher-order chain. Identical semantics
  * (whitespace tokens with empties dropped; chunks joined by one
  * space, in order, last chunk possibly short; no tokens ⇒ empty
  * array) — but one tokenize pass per row inside whole-stage codegen
  * instead of an interpreted lambda walk per chunk element (see
  * [[WordShingles]] for the measured HOF cost this family replaces).
  */
case class WordChunks(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "chunk width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_chunks"

  protected override def nullSafeEval(input: Any): Any =
    WordChunks.compute(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WordChunks.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

object WordChunks {

  def compute(text: UTF8String, w: Int): ArrayData = {
    val toks = Words.split(text.toString)
    val m = toks.size
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val nChunks = (m + w - 1) / w
    val out = new Array[Any](nChunks)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < nChunks) {
      out(j) = UTF8String.fromString(Words.join(toks, j * w, math.min(j * w + w, m), sb))
      j += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, w: Int): Column =
    bridge.column(WordChunks(bridge.expression(text), w))
}
