package graft.functions

/** The word kernel under the native text expressions: one tokenizer
  * and one n-gram joiner, so every expression splits and joins alike.
  *
  * The split is the contract of `TextAnalysis.tokens`
  * (`filter(split(text, " "), _ =!= "")`): a single space is the only
  * separator, empty tokens are dropped, and tabs, newlines and every
  * other character stay inside their token.
  */
private[graft] object Words {

  /** The tokens of `s`, in order. */
  def split(s: String): java.util.ArrayList[String] = {
    val toks = new java.util.ArrayList[String]()
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) toks.add(s.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    toks
  }

  /** `toks[from, until)` joined by one space. `sb` is the caller's
    * scratch builder, cleared here, so one builder serves every n-gram
    * of a row.
    */
  def join(toks: java.util.List[String], from: Int, until: Int,
      sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var k = from
    while (k < until) {
      if (k > from) sb.append(' ')
      sb.append(toks.get(k))
      k += 1
    }
    sb.toString
  }
}
