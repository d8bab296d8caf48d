package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a text column, as ONE native
  * expression instead of the equivalent
  * `array_distinct(transform(sequence(...), i => concat_ws(...)))`
  * higher-order chain. Semantics are identical to that chain
  * (whitespace tokens with empties dropped; n-grams joined by a single
  * space; first-occurrence-ordered distinct; fewer than n tokens ⇒
  * empty array) — but HOF lambdas execute interpreted (one
  * Expression-tree walk per element, no codegen CSE), which made
  * shingling the dominant cost of every dedup pipeline. The native
  * form is a single tokenize + hash-set pass per row, invoked from
  * whole-stage codegen.
  *
  * Engine-role analogue: reference users drop to whole-stage Scala for
  * hot custom logic (ScalaSparkCodeExecutor.java:210-231); the
  * engine's equivalent extension point is a first-class codegen'd
  * expression (like PolyHash / VectorDot).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  protected override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WordShingles.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  /** First-occurrence-distinct n-grams of the [[Words]] tokens. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = Words.split(text.toString)
    val m = toks.size
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]((m - n + 1) * 2)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j + n <= m) {
      seen.add(Words.join(toks, j, j + n, sb))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  def apply(text: Column, n: Int): Column =
    bridge.column(WordShingles(bridge.expression(text), n))
}
