package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass whitespace-token statistics for a text column:
  * `struct(n_tokens, n_uniq, sum_len, max_len)` (lengths in Unicode
  * code points, matching Spark's `length()` and DuckDB's `length()`).
  * Native codegen'd expression for the same reason as WordShingles /
  * RepetitionStats: the equivalent
  * `aggregate(transform(filter(split(...))))` higher-order chains
  * execute interpreted per element and appear several times per
  * consumer after projection collapse — this is one tokenize pass,
  * scan speed at 100 TB.
  */
case class TokenStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("sum_len", IntegerType, nullable = false),
    StructField("max_len", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_stats"

  protected override def nullSafeEval(input: Any): Any =
    TokenStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TokenStats.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {

  def compute(text: UTF8String): InternalRow = {
    val toks = Words.split(text.toString)
    val uniq = new java.util.HashSet[String](toks)
    var sumLen = 0
    var maxLen = 0
    var i = 0
    while (i < toks.size) {
      val tok = toks.get(i)
      val len = tok.codePointCount(0, tok.length)
      sumLen += len
      if (len > maxLen) maxLen = len
      i += 1
    }
    InternalRow(toks.size, uniq.size, sumLen, maxLen)
  }

  def apply(text: Column): Column =
    bridge.column(TokenStats(bridge.expression(text)))
}
