package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}
import graft.operators.{FuzzyJoin, ZOrder}

/** Randomized algorithm-contract properties for the blocking/sketching
  * kernels the scale paths rest on. Fixture specs pin known answers;
  * these pin the MATHEMATICAL guarantee on seeded random inputs, where
  * a blocking scheme with a completeness hole would actually get
  * caught (small alphabets / shared pools force collisions and
  * near-misses):
  *
  *  - FastSS ed<=1 deletion-neighborhood blocking == brute-force
  *    Levenshtein (the exact completeness argument the r14 linear
  *    fuzzy_join_ed1 oracle relies on);
  *  - Hamming pigeonhole blocking (Manku WWW'07) == brute-force
  *    popcount over all pairs, for several maxHamming values;
  *  - winnowing (SIGMOD'03): every w-window of k-gram positions
  *    contains a selected fingerprint, and each fingerprint is the
  *    PolyHash of the gram at its position;
  *  - Misra-Gries heavy hitters: the exact freq·(k+1) > n set, end to
  *    end (a sketch false-negative would drop a row);
  *  - inverted-index n-gram Jaccard == brute-force set Jaccard;
  *  - prefix-filtered containment == full-index containment ==
  *    brute-force set containment;
  *  - Z-order interleave: Column and SQL forms equal the reference
  *    bit-interleave and stay injective.
  */
class AlgoPropertySpec extends SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0); d(0) = j
      for (i <- 1 to a.length) {
        val cur = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    d(a.length)
  }

  private def polyHash(s: String): Long =
    s.map(_.toLong).reduce((a, b) => (a * 31 + b) % 1000000007L)

  test("fastss ed<=1 blocking finds exactly the brute-force levenshtein " +
      "pairs on random mutated corpora") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val alpha = "abcd" // tiny alphabet: near-misses are common
      def word() = (1 to 3 + rnd.nextInt(8))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val bases = Seq.fill(25)(word())
      val mutated = bases.take(12).map { s =>
        rnd.nextInt(3) match {
          case 0 => // substitution
            val i = rnd.nextInt(s.length)
            s.updated(i, alpha(rnd.nextInt(alpha.length)))
          case 1 => // insertion
            val i = rnd.nextInt(s.length + 1)
            s.take(i) + alpha(rnd.nextInt(alpha.length)) + s.drop(i)
          case _ => // deletion
            val i = rnd.nextInt(s.length)
            s.take(i) + s.drop(i + 1)
        }
      }
      val rows = (bases ++ mutated).zipWithIndex
        .map { case (s, i) => (i.toLong, s) }
      val got = FuzzyJoin.editDistance1Pairs(
          rows.toDF("id", "name"), "id", "name")
        .select("a_id", "b_id", "dist")
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ai, as) <- rows; (bi, bs) <- rows if ai < bi
        d = lev(as, bs) if d <= 1
      } yield (ai, bi, d)).toSet
      assert(got == want, s"seed $seed: missed=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
      assert(want.nonEmpty, s"seed $seed generated no true pairs — vacuous")
    }
  }

  test("hamming pigeonhole blocking finds exactly the brute-force " +
      "popcount pairs for maxHamming 1..3 on clustered random signatures") {
    import spark.implicits._
    for (seed <- 1 to 3; maxH <- 1 to 3) {
      val rnd = new Random(seed * 100 + maxH)
      val centers = Seq.fill(6)(rnd.nextLong() & 0xFFFFFFFFL)
      // draws near a center (0-4 bit flips) force true positives and
      // just-over-the-bound negatives
      val sigs = (0 until 60).map { i =>
        var s = centers(rnd.nextInt(centers.size))
        (0 until rnd.nextInt(5)).foreach(_ => s ^= (1L << rnd.nextInt(32)))
        (i.toLong, s)
      }
      val got = Dedup.hammingPairs(sigs.toDF("id", "h"), "id", "h",
          bits = 32, maxHamming = maxH)
        .select("ia", "ib", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (a, i) <- sigs.zipWithIndex; (b, j) <- sigs.zipWithIndex if i < j
        d = java.lang.Long.bitCount(a._2 ^ b._2) if d <= maxH
      } yield (a._1, b._1, d)).toSet
      assert(got == want,
        s"seed $seed maxH $maxH: missed=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
      assert(want.nonEmpty, s"seed $seed maxH $maxH vacuous")
    }
  }

  test("winnowing selects a fingerprint in EVERY w-window and each " +
      "fingerprint is the PolyHash of the gram at its position") {
    import spark.implicits._
    val (k, w) = (3, 4)
    val rnd = new Random(7)
    val pool = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = (0 until 40).map { i =>
      val toks = Seq.fill(rnd.nextInt(16))(pool(rnd.nextInt(pool.size)))
      (i.toLong, toks)
    }
    val out = TextAnalysis.winnow(
        docs.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text"),
        "text", "doc_id", k, w)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    docs.foreach { case (id, toks) =>
      val g = toks.size - k + 1
      val sel = out.getOrElse(id, Set.empty)
      if (g <= 0) assert(sel.isEmpty, s"doc $id: fingerprints with < k tokens")
      else {
        // soundness: position in range, fp = PolyHash(space-joined gram)
        sel.foreach { case (pos, fp) =>
          assert(pos >= 0 && pos < g, s"doc $id: pos $pos out of [0,$g)")
          val gram = toks.slice(pos, pos + k).mkString(" ")
          assert(fp == polyHash(gram), s"doc $id pos $pos: fp mismatch")
        }
        // coverage: every w-window holds >= 1 selection (clipped single
        // window when g < w)
        val positions = sel.map(_._1)
        if (g <= w) assert(positions.nonEmpty, s"doc $id: nothing selected")
        else (0 to g - w).foreach { i =>
          assert(positions.exists(p => p >= i && p < i + w),
            s"doc $id: window [$i,${i + w}) uncovered; selected=$positions g=$g")
        }
      }
    }
  }

  test("misra-gries heavy hitters return exactly the freq*(k+1) > n set " +
      "on skewed random token streams") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val vocab = (0 until 40).map(i => s"t$i")
      // zipf-ish skew: token i drawn with weight ~ 1/(i+1)
      val weights = vocab.indices.map(i => 1.0 / (i + 1))
      val total = weights.sum
      def draw(): String = {
        var r = rnd.nextDouble() * total; var i = 0
        while (r > weights(i) && i < vocab.size - 1) { r -= weights(i); i += 1 }
        vocab(i)
      }
      val stream = Seq.fill(3000)(draw())
      val docs = stream.grouped(50).zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toSeq
      val k = 9
      val got = TextAnalysis.heavyHitters(docs.toDF("doc_id", "text"), "text", k)
        .select("w", "freq").as[(String, Long)].collect().toSet
      val freqs = stream.groupBy(identity).view.mapValues(_.size.toLong)
      val want = freqs.filter { case (_, f) => f * (k + 1) > stream.size }
        .toSet
      assert(got == want, s"seed $seed: missed=${(want -- got).take(3)} " +
        s"extra=${(got -- want).take(3)}")
      assert(want.nonEmpty, s"seed $seed vacuous")
    }
  }

  test("inverted-index n-gram jaccard == brute-force set jaccard on " +
      "random near-duplicate corpora") {
    import spark.implicits._
    val rnd = new Random(11)
    val pool = Vector("the", "cat", "sat", "on", "mat", "dog", "ran", "far")
    def doc() = Seq.fill(4 + rnd.nextInt(10))(pool(rnd.nextInt(pool.size)))
    val bases = Seq.fill(20)(doc())
    val nearDups = bases.take(8).map { t =>
      val i = rnd.nextInt(t.size)
      t.updated(i, pool(rnd.nextInt(pool.size)))
    }
    val docs = (bases ++ nearDups).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    def shingles(t: Seq[String]): Set[String] =
      if (t.size < 2) Set.empty
      else t.sliding(2).map(_.mkString(" ")).toSet
    val thr = 0.4
    val got = Dedup.ngramJaccardPairs(
        docs.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text"),
        "text", "doc_id", shingleN = 2, threshold = thr)
      .select("ia", "ib", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val want = (for {
      (ai, at) <- docs; (bi, bt) <- docs if ai < bi
      sa = shingles(at); sb = shingles(bt)
      if sa.nonEmpty && sb.nonEmpty
      shared = (sa & sb).size
      jac = shared.toDouble / (sa.size + sb.size - shared) if jac >= thr
    } yield (ai, bi) -> jac).toMap
    assert(got.keySet == want.keySet,
      s"missed=${(want.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- want.keySet).take(3)}")
    want.foreach { case (p, j) =>
      assert(math.abs(got(p) - j) < 1e-12, s"$p: ${got(p)} vs $j")
    }
    assert(want.nonEmpty, "vacuous")
  }

  /** The Bayardo prefix bound is LOSSLESS only if the per-doc prefix
    * length never rounds short: for common ≥ t·min(na,nb) the smaller
    * side must share one of its (m − ⌈t·m⌉ + 1) rarest shingles — so
    * the adversarial inputs here force INTEGRAL t·m (where a naive
    * ceil() could shorten the prefix by one) and dense shared pools
    * (where rarity ranks tie and the tie-break matters). Equality
    * against the full-index form on both pair sets AND both double
    * containment values is the property the r15 gate pair relies on;
    * the full-index form is itself checked against a brute-force
    * replay over distinct bigram sets (max(common/na, common/nb) ≥ t).
    */
  test("prefix-filtered containment == full-index containment on random " +
      "corpora incl. integral-threshold boundaries") {
    import spark.implicits._
    for ((seed, thr) <- Seq((3, 0.5), (7, 0.8), (13, 0.75))) {
      val rnd = new Random(seed)
      val pool = Vector("a", "b", "c", "d", "e", "f")
      // doc lengths chosen so t·(len−1) is often integral at these
      // thresholds (len−1 = shingle count before dedup): 3,5,9 words
      // give 2,4,8 bigrams — 0.5·2, 0.5·4, 0.75·8, 0.8·… hit integers
      def doc(n: Int) = Seq.fill(n)(pool(rnd.nextInt(pool.size)))
      val docs = (Seq.fill(14)(doc(3)) ++ Seq.fill(14)(doc(5)) ++
        Seq.fill(8)(doc(9))).zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }
      val df = docs.toDF("doc_id", "text")
      def collect(r: org.apache.spark.sql.DataFrame) =
        r.select("ia", "ib", "containment_a", "containment_b")
          .as[(Long, Long, Double, Double)].collect()
          .map { case (a, b, ca, cb) => (a, b) -> ((ca, cb)) }.toMap
      val full = collect(Dedup.containmentPairs(df, "text", "doc_id", 2, thr))
      val pref = collect(
        Dedup.containmentPairsPrefix(df, "text", "doc_id", 2, thr))
      assert(full.keySet == pref.keySet,
        s"seed=$seed thr=$thr missed=${(full.keySet -- pref.keySet).take(3)} " +
          s"extra=${(pref.keySet -- full.keySet).take(3)}")
      full.foreach { case (p, v) =>
        assert(pref(p) == v, s"seed=$seed thr=$thr $p: ${pref(p)} vs $v")
      }
      assert(full.nonEmpty, s"vacuous at seed=$seed thr=$thr")
      // third result: brute-force replay over distinct bigram sets
      def bigrams(t: String): Set[String] =
        t.split(" ").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSet
      val brute = (for {
        (ai, at) <- docs; (bi, bt) <- docs if ai < bi
        sa = bigrams(at); sb = bigrams(bt) if sa.nonEmpty && sb.nonEmpty
        common = (sa & sb).size.toDouble
        ca = common / sa.size; cb = common / sb.size
        if math.max(ca, cb) >= thr
      } yield (ai, bi) -> ((ca, cb))).toMap
      assert(full == brute,
        s"seed=$seed thr=$thr brute-force missed=${(brute.keySet -- full.keySet).take(3)} " +
          s"extra=${(full.keySet -- brute.keySet).take(3)} " +
          s"values=${brute.filter { case (p, v) => full.get(p).exists(_ != v) }.take(3)}")
    }
  }

  test("z-order interleave: Column and SQL forms equal the reference " +
      "bit-interleave and are injective") {
    import spark.implicits._
    val bits = 10
    val rnd = new Random(13)
    val pts = Seq.fill(400)((rnd.nextInt(1 << bits).toLong,
      rnd.nextInt(1 << bits).toLong)).distinct
    def ref(x: Long, y: Long): Long =
      (0 until bits).foldLeft(0L)((acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val rows = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.zkey(col("x"), col("y"), bits).as("zc"),
        expr(ZOrder.zkeySql("x", "y", bits)).cast("long").as("zs"))
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (x, y, zc, zs) =>
      val r = ref(x, y)
      assert(zc == r && zs == r, s"($x,$y): column=$zc sql=$zs ref=$r")
    }
    assert(rows.map(_._3).distinct.length == pts.length,
      "zkey collided on distinct points — not injective")
  }
}
