package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
  * 2003) as ONE native pass: tokenize, hash every positional k-gram
  * (identical bytes/semantics to [[PolyHash]] over the space-joined
  * gram), pack (hash asc, position desc) into
  * `hash · 2^20 + (2^20 − 1 − pos)`, take each w-window's minimum via
  * a monotonic deque (O(n) total, not O(n·w)), and emit the distinct
  * selected keys in first-selection order.
  *
  * Replaces an explode + ROWS-frame window formulation that shuffled
  * the entire corpus gram stream on the doc key (git history), and an
  * interpreted HOF formulation that was 10× slower than the window
  * (lambda-interpreted hashing per gram) — this pass keeps winnowing
  * inside whole-stage codegen at scan speed with zero shuffles.
  * Fewer than k tokens ⇒ empty array (caller filters or accepts no
  * fingerprints); fewer than w windows ⇒ the single clipped window.
  */
case class WinnowKeys(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_keys"

  protected override def nullSafeEval(input: Any): Any =
    WinnowKeys.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WinnowKeys.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.compute($c, $k, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowKeys =
    copy(child = newChild)
}

object WinnowKeys {
  private val PosCap = 1L << 20

  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    // Words.split, the tokenizer every native text expression shares
    val toks = Words.split(text.toString)
    val m = toks.size
    if (m < k) return new GenericArrayData(Array.empty[Any])
    val nGrams = m - k + 1
    // packed keys: PolyHash bytes of "tok_i tok_{i+1} … tok_{i+k-1}"
    val keys = new Array[Long](nGrams)
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g < nGrams) {
      val h = PolyHash.hashBytes(
        Words.join(toks, g, g + k, sb).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      keys(g) = h * PosCap + (PosCap - 1 - g)
      g += 1
    }
    // sliding-window minima via monotonic deque (indices, increasing
    // key values); window starts s = 0 .. max(nGrams - w, 0)
    val nWin = math.max(nGrams - w, 0) + 1
    val out = new java.util.LinkedHashSet[Long]()
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // deque slots [head, tail)
    var idx = 0
    while (idx < nGrams) {
      while (tail > head && keys(deque(tail - 1)) >= keys(idx)) tail -= 1
      deque(tail) = idx
      tail += 1
      val winStart = idx - w + 1
      while (deque(head) < winStart) head += 1
      // a window is complete at idx >= w-1; the clipped single window
      // (nGrams < w) completes at the last gram
      if (idx >= w - 1 || idx == nGrams - 1) {
        if (math.max(winStart, 0) < nWin) out.add(keys(deque(head)))
      }
      idx += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new GenericArrayData(arr)
  }

  /** Column API: winnow_keys(text, k, w). */
  def apply(text: Column, k: Int, w: Int): Column =
    bridge.column(WinnowKeys(bridge.expression(text), k, w))
}
