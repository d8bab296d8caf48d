package graft

/** Shared hand-rolled JSON rendering for the artifact writers
  * (Verify, ClusterVerify, FaultVerify, Curves and the rest). One copy,
  * so an escaping or locale fix reaches every artifact at once.
  */
private[graft] object Jsons {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round.
    */
  def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Locale-independent decimal rendering: the f-interpolator formats
    * with the JVM default locale, and a decimal-comma locale (de_DE)
    * would make the artifact invalid JSON (ADVICE r11).
    */
  def num(d: Double, decimals: Int = 2): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** Sorted, fully-escaped rendering of a session_conf map — one copy
    * for every artifact writer (Bench, Verify, Curves), because a conf
    * value containing a quote or backslash must not be able to
    * invalidate one artifact while the others escape it.
    */
  def conf(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"${jq(k)}:${jq(v)}" }
      .mkString("{", ",", "}")
}
