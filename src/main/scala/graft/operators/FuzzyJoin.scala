package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance similarity join (entity resolution / record linkage)
  * with COMPLETE deletion-neighborhood blocking — the FastSS scheme
  * (Bocek et al., 2007; popularized as SymSpell): every string emits
  * itself plus each single-character-deletion variant; two strings
  * within edit distance 1 (substitution, insertion, or deletion)
  * provably share at least one variant, so an equi-join on the variant
  * key surfaces EVERY true pair and `levenshtein` verification removes
  * the false ones. No all-pairs stage anywhere.
  *
  * Why not prefix/suffix pigeonhole blocking: on entity-name corpora
  * the shared boilerplate prefix ("Customer#…") puts every row in one
  * block — quadratic. Deletion variants of distinct strings collide
  * only when the strings genuinely differ by ≤2 edits around the
  * deleted position, so bucket sizes track the alphabet (~10 here),
  * not the corpus.
  *
  * Scale shape: one narrow projection emits ≤ len+1 variant rows per
  * distinct string (bounded by the key-length domain), one shuffle
  * equi-join on the variant, map-side `levenshtein` verify, distinct.
  * Exact duplicates should be collapsed to distinct strings upstream
  * (same discipline as Dedup.minhashLsh) so identical hot values cost
  * their output size, not a hot blocking bucket.
  */
object FuzzyJoin {

  /** All unordered pairs of rows whose `strCol` values are within
    * edit distance 1. Input columns: `idCol` (unique), `strCol`.
    * Output: (a_id, b_id, a_val, b_val, dist) with a_id < b_id.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("v"))
    // variant k = 0 keeps the string itself (covers exact matches and
    // pairs where the edit is an insertion in the OTHER string);
    // k = 1..len deletes character k. sequence() is 1 generate — the
    // variant list never materializes on the driver.
    val v = col("v")
    // The join key is xxhash64(variant), not the variant string: the
    // shuffle then carries a fixed 8-byte key instead of a name-length
    // string (~40% less shuffle volume at entity-name lengths). A hash
    // collision can only ADD candidate pairs, never lose one (two
    // ed≤1 strings still share a variant, hence a hash), and every
    // candidate is re-verified by `levenshtein` on the true values —
    // so the result set is bit-identical to string-keyed blocking.
    val variants = base.select(col("id"), v,
      explode(concat(array(xxhash64(v)),
        transform(sequence(lit(1), length(v)), k =>
          xxhash64(concat(v.substr(lit(1), k - 1), v.substr(k + 1, length(v)))))))
        .as("vh"))
    val a = variants.select(col("id").as("a_id"), col("v").as("a_val"), col("vh"))
    val b = variants.select(col("id").as("b_id"), col("v").as("b_val"), col("vh"))
    a.join(b.hint("shuffle_hash"), Seq("vh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_val"), col("b_val"),
        levenshtein(col("a_val"), col("b_val")).as("dist"))
      .filter(col("dist") <= 1)
      .distinct()
  }

  /** Sorted-neighborhood candidate pairing (Hernández & Stolfo,
    * SIGMOD'95 — the merge/purge record-linkage classic): sort all
    * records by a blocking key, slide a window of `w` records over the
    * sorted order, and verify every in-window pair with
    * `levenshtein ≤ maxDist`. Complements [[editDistance1Pairs]]:
    * deletion-neighborhood blocking is exact but only for d = 1; SNM
    * supports any distance with a fixed w·n candidate budget (recall
    * limited to what the sort order co-locates — the documented SNM
    * trade; multi-pass SNM re-runs with rotated keys).
    *
    * The global sort rank comes from the [[BandedWindow]] kernel, with
    * lexicographic prefix bands: a `bandChars`-char prefix of the sort
    * key is order-consistent with the full (key, id) order, and equal
    * keys can't straddle bands. Neighbor candidates materialize as an
    * equi-join on the rank (each row targets ranks rn+1..rn+w — one
    * generate, w rows), so the candidate stage is a plain shuffle
    * join: no all-pairs, no single-task global sort anywhere.
    */
  def snmPairs(df: DataFrame, idCol: String, keyCol: String, w: Int,
      maxDist: Int, bandChars: Int = 2): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(keyCol).as("k"))
    val ranked = BandedWindow.runningSum(base, substring(col("k"), 1, bandChars),
        Seq(col("k"), col("id")), lit(1), "rn", "n")
      .select("id", "k", "rn")
    val targets = ranked.select(col("id").as("a_id"), col("k").as("a_val"),
      explode(sequence(col("rn") + 1, col("rn") + lit(w.toLong))).as("rn"))
    targets.join(ranked.hint("shuffle_hash"), Seq("rn"))
      .select(col("a_id"), col("id").as("b_id"), col("a_val"),
        col("k").as("b_val"),
        levenshtein(col("a_val"), col("k")).as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
