package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

/** Deterministic scale-curve slice generator (VERDICT r9 #2).
  *
  * TESTDATA.md's driver-generated parquet stops at sf0.1; measuring
  * growth EXPONENTS (not asserting them) needs larger slices with the
  * same distributional shape. This main regenerates the four tables
  * the heavy-tail operator family reads — documents, events, orders,
  * lineitem — at arbitrary multiples of the sf0.1 shape, from a pure
  * per-id splitmix64 hash keyed on seed 42 (the testdata seed
  * discipline: same seed → same bytes, any executor count).
  *
  * Distributions copied from the real sf0.1 tables (measured before
  * pinning, the video-scene-cut rule):
  *  - documents: 5000·m docs, 10–99 uniform tokens over the SAME
  *    31-word vocabulary, lang {en 40%, de/es/fr/zh 15%}, 20 sources;
  *    exact dups planted at the observed 8/5000 rate, near-dups
  *    (one-token substitution) at 0.5%;
  *  - events: 100000·m rows over the SAME fixed 30-day window
  *    (density grows, per-user count stays ~67 — the real generator's
  *    shape), 1500·m users, 5 equi-probable event types;
  *  - orders/lineitem: TPC-H ratios (150k·m orders over 15k·m
  *    customers; 600k·m lineitems with Binomial≈Poisson(4) lines per
  *    order, 20k·m parts, 1k·m suppliers).
  *
  * BOTH compared scales are generated by THIS code (a 1× slice and
  * the larger ones), so exponent ratios never mix two generators.
  *
  * Usage: ScaleGen <outBase> <m1,m2,...>  → writes <outBase>/scale<m>x/
  */
object ScaleGen {
  val Seed = 42L

  /** splitmix64 finalizer — a pure, spec-pinned 64-bit mix. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def h(tag: Long, id: Long, slot: Long): Long =
    mix(mix(Seed ^ tag) ^ mix(id * 1000003L + slot))
  private def mod(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
  private val EventTypes =
    IndexedSeq("click", "error", "purchase", "signup", "view")

  /** Base document text for id (pure function — dup planting below
    * recomputes the donor's text instead of carrying state). */
  private def baseText(id: Long): String = {
    val n = (10 + mod(h(1, id, 0), 90)).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(mod(h(1, id, 10 + i), Vocab.length).toInt))
      i += 1
    }
    sb.toString
  }

  // ---- Zipfian vocabulary regime (VERDICT r15 #2) -----------------
  // The dense 31-word vocabulary above is the prefix filter's WORST
  // case (every shingle has a huge df, so the rarity prefix barely
  // prunes — measured r15: candidate exponent 2.02, constant-only
  // win). Real corpora are Zipfian: token frequency ∝ 1/rank^s with
  // s ≈ 1, which is the regime Bayardo et al. (WWW'07) built prefix
  // filtering for — most tokens are rare, so the (1−t)·n+1 rarest
  // shingles of a doc have tiny df and the candidate stream collapses.
  // This generator draws tokens from a 10k-word power-law vocabulary
  // (s = 1.07, the canonical natural-language fit) with the SAME doc
  // count, length distribution, dup planting, and splitmix64
  // determinism as the dense docs — only the vocabulary shape moves,
  // so a dense-vs-zipf exponent gap is attributable to vocabulary
  // alone.
  // Two Zipfian sub-regimes, because the quadratic/sub-quadratic
  // question decomposes into two effects a fixed generator would
  // conflate:
  //  - "zipf":  FIXED 10k vocabulary at every scale. Isolates the
  //    frequency-shape effect (rare prefixes shrink the candidate
  //    CONSTANT); with a fixed vocabulary every token's df still grows
  //    ∝ N, so any posting-pair count remains asymptotically ∝ N² —
  //    the honest null hypothesis for the exponent.
  //  - "heaps": vocabulary GROWS with the corpus, V(m) = 10000·m^0.55
  //    (Heaps' law, β ≈ 0.5-0.6 on natural text — every real corpus
  //    does this). Rare-token dfs then stay bounded as the corpus
  //    grows, which is the mechanism that makes prefix-filter
  //    candidate growth genuinely sub-quadratic at 100 TB.
  val ZipfV = 10000
  val ZipfS = 1.07
  val HeapsBeta = 0.55
  def heapsVocab(m: Long): Int = (ZipfV * math.pow(m.toDouble, HeapsBeta)).toInt
  private val cumCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private def cumFor(v: Int): Array[Double] =
    cumCache.computeIfAbsent(v, { vv =>
      val c = new Array[Double](vv)
      var acc = 0.0
      var i = 0
      while (i < vv) { acc += 1.0 / math.pow(i + 1.0, ZipfS); c(i) = acc; i += 1 }
      val t = c(vv - 1)
      i = 0
      while (i < vv) { c(i) /= t; i += 1 }
      c
    })
  /** Rank drawn by inverse CDF over the cumulative weights. */
  private def zipfRank(x: Long, v: Int): Int = {
    val cum = cumFor(v)
    val u = (mod(x, 1000000000L) + 0.5) / 1e9
    var lo = 0
    var hi = v - 1
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (cum(m) < u) lo = m + 1 else hi = m
    }
    lo
  }
  private def zipfBaseText(id: Long, v: Int): String = {
    val n = (10 + mod(h(1, id, 0), 90)).toInt // same length draw as dense
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append("z").append(zipfRank(h(7, id, 10 + i), v))
      i += 1
    }
    sb.toString
  }
  def zipfDoc(id: Long, v: Int): Doc = {
    val text =
      if (id >= 625 && id % 625 == 624) zipfBaseText(id - 311, v) // exact dup
      else if (id >= 200 && id % 200 == 199) {                    // near dup
        val donor = zipfBaseText(id - 97, v).split(' ')
        val pos = mod(h(7, id, 1), donor.length).toInt
        var repl = "z" + zipfRank(h(7, id, 2), v)
        // same same-token guard as the dense near-dup (ADVICE r10)
        if (repl == donor(pos))
          repl = "z" + ((zipfRank(h(7, id, 2), v) + 1) % v)
        donor(pos) = repl
        donor.mkString(" ")
      } else zipfBaseText(id, v)
    Doc(id, text, Langs(mod(h(1, id, 3), Langs.length).toInt),
      "src" + mod(h(1, id, 4), 20), text.length.toLong)
  }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
      o_orderpriority: String)
  final case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)

  def doc(id: Long): Doc = {
    val text =
      if (id >= 625 && id % 625 == 624) baseText(id - 311) // exact dup
      else if (id >= 200 && id % 200 == 199) {             // near dup
        val donor = baseText(id - 97).split(' ')
        val pos = mod(h(1, id, 1), donor.length).toInt
        // replacement excludes the original token: a 1/|Vocab| draw of
        // the same word would silently turn the planted NEAR-dup into
        // an unplanned EXACT dup and drift the 8/5000 rate (ADVICE r10)
        val origIdx = Vocab.indexOf(donor(pos))
        donor(pos) = Vocab(
          ((origIdx + 1 + mod(h(1, id, 2), Vocab.length - 1)) % Vocab.length).toInt)
        donor.mkString(" ")
      } else baseText(id)
    Doc(id, text, Langs(mod(h(1, id, 3), Langs.length).toInt),
      "src" + mod(h(1, id, 4), 20), text.length.toLong)
  }

  private val T0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  private val WindowUs = 30L * 86400000000L

  def event(id: Long, m: Long): Event = {
    val us = T0 + mod(h(2, id, 0), WindowUs)
    val ts = new Timestamp(us / 1000)
    ts.setNanos(((us % 1000000) * 1000).toInt)
    // value ~ Exp(50), rounded to cents (matches avg 50 / max ~500)
    val u = (mod(h(2, id, 2), 999999L) + 1) / 1000000.0
    val value = math.floor(-50.0 * math.log(u) * 100) / 100
    Event(id, ts, mod(h(2, id, 1), 1500 * m),
      EventTypes(mod(h(2, id, 3), 5).toInt), value,
      s"""{"k": ${mod(h(2, id, 4), 100)}}""")
  }

  def order(id: Long, m: Long): Order = {
    val us = T0 - mod(h(3, id, 1), 8L * 365 * 86400000000L)
    Order(id, mod(h(3, id, 0), 15000 * m),
      IndexedSeq("O", "F", "P")(mod(h(3, id, 2), 3).toInt),
      math.floor(mod(h(3, id, 3), 40000000L) / 100.0) / 100.0,
      new Timestamp(us / 1000),
      IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")(mod(h(3, id, 4), 5).toInt))
  }

  def line(id: Long, m: Long): Line = {
    val us = T0 - mod(h(4, id, 6), 8L * 365 * 86400000000L)
    Line(mod(h(4, id, 0), 150000 * m), mod(h(4, id, 1), 20000 * m),
      mod(h(4, id, 2), 1000 * m), 1 + mod(h(4, id, 3), 7).toInt,
      1.0 + mod(h(4, id, 4), 50), mod(h(4, id, 5), 10000000L) / 100.0,
      mod(h(4, id, 7), 10) / 100.0, mod(h(4, id, 8), 8) / 100.0,
      IndexedSeq("A", "N", "R")(mod(h(4, id, 9), 3).toInt),
      IndexedSeq("O", "F")(mod(h(4, id, 10), 2).toInt),
      new Timestamp(us / 1000))
  }

  /** Base (pre-near-dup) embedding for id: 64 iid gaussians
    * (Box–Muller over the splitmix stream), L2-normalized — matches
    * the real table's measured shape (unit norm, per-dim mean ≈ 0,
    * std ≈ 1/√64, no meaningful label clustering). */
  private def baseVec(id: Long): Array[Float] = {
    val a = new Array[Double](64)
    var nrm = 0.0
    var i = 0
    while (i < 64) {
      val u1 = (mod(h(5, id, 10 + i), 999999L) + 1) / 1000000.0
      val u2 = mod(h(5, id, 100 + i), 1000000L) / 1000000.0
      a(i) = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      nrm += a(i) * a(i)
      i += 1
    }
    val s = 1.0 / math.sqrt(nrm)
    a.map(x => (x * s).toFloat)
  }

  def vec(id: Long): Vec = {
    val v =
      if (id >= 50 && id % 50 == 49) { // planted near-dup (cos ≈ 0.999)
        val donor = baseVec(id - 23)
        val noise = baseVec(id) // reuse the id's own gaussian as noise
        val mixed = donor.zip(noise).map { case (d, n) => d + 0.05f * n }
        val s = (1.0 / math.sqrt(mixed.map(x => x.toDouble * x).sum)).toFloat
        mixed.map(_ * s)
      } else baseVec(id)
    Vec(id, v, mod(h(5, id, 0), 10).toInt)
  }

  def generate(spark: SparkSession, outBase: String, m: Long,
      tables: Set[String]): Unit = {
    import spark.implicits._
    val dir = s"$outBase/scale${m}x"
    def want(t: String) = tables.isEmpty || tables.contains(t)
    if (want("documents"))
      spark.range(0, 5000 * m, 1, 32).map(i => doc(i))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Zipfian-vocabulary documents (VERDICT r15 #2): SAME file name so
    // gates/drivers read it transparently — callers keep the regimes
    // apart by outBase (e.g. target/zipfdata), never by mixing tables
    // in one dir. Deliberately NOT in the default (empty) table set.
    if (tables.contains("zipfdocs"))
      spark.range(0, 5000 * m, 1, 32).map(i => zipfDoc(i, ZipfV))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Heaps-law regime: vocabulary grows with the slice (see the
    // regime comment above) — V is a function of m by design, so the
    // 1× and 10× slices model SMALL AND LARGE CORPORA of one language,
    // not two different languages.
    if (tables.contains("heapsdocs")) {
      val v = heapsVocab(m)
      spark.range(0, 5000 * m, 1, 32).map(i => zipfDoc(i, v))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    if (want("events"))
      spark.range(0, 100000 * m, 1, 32).map(i => event(i, m))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    if (want("orders"))
      spark.range(0, 150000 * m, 1, 32).map(i => order(i, m))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    if (want("lineitem"))
      spark.range(0, 600000 * m, 1, 32).map(i => line(i, m))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    if (want("embeddings"))
      spark.range(0, 2000 * m, 1, 32).map(i => vec(i))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    println(s"[scalegen] wrote $dir")
  }

  def main(args: Array[String]): Unit = {
    val outBase = args(0)
    val ms = args(1).split(",").map(_.trim.toLong)
    val tables: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ms.foreach(m => generate(spark, outBase, m, tables))
    spark.stop()
  }
}
