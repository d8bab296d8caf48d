package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Number of whitespace tokens of `child` that appear in a fixed word
  * set (duplicates counted) — the stopword-profile counter under the
  * language-ID heuristic, as one native tokenize pass instead of an
  * interpreted `size(filter(split(...), isInCollection(...)))` chain
  * per profile. The word set is a per-expression constant, compiled
  * into a shared HashSet at first evaluation.
  */
case class ProfileHits(child: Expression, words: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "profile_hits"

  @transient private lazy val wordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }

  protected override def nullSafeEval(input: Any): Any =
    ProfileHits.compute(input.asInstanceOf[UTF8String], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = ProfileHits.getClass.getName.stripSuffix("$") + "$.MODULE$"
    // ship the word set into the generated class as a reference
    val setRef = ctx.addReferenceObj("wordSet", wordSet,
      classOf[java.util.HashSet[String]].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ProfileHits =
    copy(child = newChild)
}

object ProfileHits {

  def compute(text: UTF8String, words: java.util.HashSet[String]): Int = {
    val toks = Words.split(text.toString)
    var hits = 0
    var i = 0
    while (i < toks.size) {
      if (words.contains(toks.get(i))) hits += 1
      i += 1
    }
    hits
  }

  def apply(text: Column, words: Seq[String]): Column =
    bridge.column(ProfileHits(bridge.expression(text), words))
}
