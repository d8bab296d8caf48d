package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass repetition statistics for a text column (the integer
  * inputs of the Gopher §A1.1 repetition filters):
  * `struct(n_grams, top_cnt, dup_occ, n_tokens, n_distinct_tokens)`
  * where n-grams are word n-grams (non-distinct occurrence counts),
  * `top_cnt` is the most frequent n-gram's occurrence count and
  * `dup_occ` the total occurrences of n-grams appearing ≥ 2 times.
  *
  * Native codegen'd expression for the same reason as WordShingles:
  * the equivalent HOF formulation (sort + run-length scan, or
  * count-each-distinct) executes interpreted per element and needed a
  * repartition + lineage cut to even be parallel — this is a single
  * tokenize + hash-map pass per row, scan speed with no shuffle, so
  * the operator needs NO materialization crutch at any scale.
  */
case class RepetitionStats(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("top_cnt", IntegerType, nullable = false),
    StructField("dup_occ", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct_tokens", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"

  protected override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = RepetitionStats.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {

  def compute(text: UTF8String, n: Int): InternalRow = {
    val toks = Words.split(text.toString)
    val m = toks.size
    val distinctToks = new java.util.HashSet[String](toks)

    val counts = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j + n <= m) {
      counts.merge(Words.join(toks, j, j + n, sb), 1, (a, b) => a + b)
      j += 1
    }
    val nGrams = math.max(m - n + 1, 0)
    var top = 0
    var dup = 0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > top) top = c
      if (c >= 2) dup += c
    }
    InternalRow(nGrams, top, dup, m, distinctToks.size)
  }

  def apply(text: Column, n: Int): Column =
    bridge.column(RepetitionStats(bridge.expression(text), n))
}
