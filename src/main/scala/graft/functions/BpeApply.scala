package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy BPE merge application over a whitespace-tokenized text with
  * a fixed, trained merge table — the encode-side hot path
  * (TextAnalysis.bpeEncode). Per word: bracketize every code point as
  * `B c E` (B=, E=), then apply each merge `(l, r)` in
  * training order as the plain left-to-right non-overlapping
  * replacement `BlE BrE → BlrE` (java.lang.String.replace semantics —
  * exactly what BPE's greedy merge does and exactly what the DuckDB
  * oracle replays); words re-join with single spaces.
  *
  * One native pass replaces an interpreted `transform` lambda running
  * a per-word regex bracketize + an N-deep replace chain — the same
  * HOF-interpretation trap [[WinnowKeys]] closed for winnowing. The
  * merge table is metadata (N = trained merges) baked into the
  * expression like [[ProfileHits]]' word list.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_apply"

  // immutable, shared across rows; materialized once per executor
  @transient private lazy val pairs: Array[(String, String)] = {
    val B = "\u0001"; val E = "\u0002"
    merges.map { case (l, r) => (B + l + E + B + r + E, B + l + r + E) }.toArray
  }

  protected override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      BpeApply.compute(input.asInstanceOf[UTF8String].toString, pairs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = BpeApply.getClass.getName.stripSuffix("$") + "$.MODULE$"
    // RAW erased type, not `scala.Tuple2<String, String>[]`: janino
    // has no generics, and the parameterized cast made the whole
    // projection fail codegen ("')' expected instead of '['") and run
    // INTERPRETED — the exact HOF-interpretation trap this expression
    // exists to close (CodegenSpec compiles it without fallback).
    val pairsRef = ctx.addReferenceObj("bpePairs", pairs, "scala.Tuple2[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"$helper.compute($c.toString(), $pairsRef));")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

object BpeApply {
  private val B = '\u0001'
  private val E = '\u0002'

  /** The [[Words]] split, each word merged, then the words re-joined. */
  def compute(s: String, pairs: Array[(String, String)]): String = {
    val words = Words.split(s)
    var i = 0
    while (i < words.size) {
      words.set(i, merge(words.get(i), pairs))
      i += 1
    }
    Words.join(words, 0, words.size, new java.lang.StringBuilder(s.length * 3))
  }

  /** Bracketize the word per code point, as `bpeTrain`'s `(.)` regex
    * does (a non-BMP character is one symbol, not two lone surrogates),
    * then run the merge chain.
    */
  private def merge(word: String, pairs: Array[(String, String)]): String = {
    val sb = new java.lang.StringBuilder(word.length * 3)
    var j = 0
    while (j < word.length) {
      val c = word.codePointAt(j)
      sb.append(B).appendCodePoint(c).append(E)
      j += Character.charCount(c)
    }
    var out = sb.toString
    var m = 0
    while (m < pairs.length) {
      // String.replace = left-to-right, non-overlapping, resume after
      // the replacement — greedy BPE application
      if (out.contains(pairs(m)._1)) out = out.replace(pairs(m)._1, pairs(m)._2)
      m += 1
    }
    out
  }

  /** Column API: bpe_apply(text) with a fixed merge table. */
  def apply(text: Column, merges: Seq[(String, String)]): Column =
    bridge.column(BpeApply(bridge.expression(text), merges))
}
