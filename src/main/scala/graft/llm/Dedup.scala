package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.PolyHash

/** Deduplication operators for training-data pipelines (SURVEY.md
  * §2.11): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine. Every algorithm is expressed as shuffles on bounded keys
  * (hash buckets, shingles, LSH bands) — never an O(n²) cross join —
  * so the same plans hold at 100 TB. The brute-force forms live in
  * Similarity and are for oracles/tests only.
  */
object Dedup {

  // ---------------------------------------------------------------
  // Exact dedup: one hash-shuffle on md5(text); map-side partial agg.
  /** Per distinct content hash: the representative (min id) and the
    * duplicate count.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  // ---------------------------------------------------------------
  // Shingling
  /** Distinct word n-gram shingles of a text column (array column).
    * Native codegen'd expression (graft.functions.WordShingles) —
    * bit-identical to the HOF chain
    * `array_distinct(transform(sequence(...), concat_ws(...)))` it
    * replaces, but one tokenize pass per row instead of interpreted
    * per-element lambdas (shingling dominated every dedup pipeline).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(text, n)

  /** (doc_id, shingles array) pairs. */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), shingles(col(textCol), n).as("sh"))

  // ---------------------------------------------------------------
  // MinHash + LSH
  /** Deterministic MinHash parameters: numHashes pairs (a, b) for
    * h_i(x) = (a_i * x + b_i) mod P with P = 2^31 - 1. Derived from a
    * fixed splitmix64 stream — stable across runs and cluster nodes.
    */
  object MinHashParams {
    val P: Long = 2147483647L // 2^31 - 1 (prime)
    private def splitmix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def a(i: Int): Long = Math.floorMod(splitmix(2 * i), P - 1) + 1
    def b(i: Int): Long = Math.floorMod(splitmix(2 * i + 1), P)
  }

  /** MinHash signatures: one row per doc, `numHashes` min-values.
    * Plan: explode shingles (narrow), hash each once (codegen'd
    * PolyHash), then a single shuffle on doc_id with map-side partial
    * min for all hash functions at once.
    */
  def minhashSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    // hash each shingle ONCE in a projection — aggregate expressions
    // get no common-subexpression elimination, so folding PolyHash
    // into each of the 64 min()s would re-hash the string 64× per row
    val minCols = (0 until numHashes).map { i =>
      min((col("h") * MinHashParams.a(i) + MinHashParams.b(i)) % MinHashParams.P)
        .as(s"mh$i")
    }
    val exploded = sets.select(col("doc_id"), explode(col("sh")).as("sh"))
      .select(col("doc_id"), PolyHash(col("sh")).as("h")) // < 1e9+7 < P
    exploded.groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** LSH candidate pairs from banded signatures: `bands` bands of
    * `rowsPerBand` values; docs sharing any band bucket are candidates.
    * The shuffle key is (band index, exact band value) — collision-free
    * because the two sub-values are packed into one long.
    *
    * Hot-bucket bound: a bucket of m docs yields m²/2 candidate rows,
    * so one pathological bucket (a giant near-identical clique the
    * exact-dup collapse upstream didn't fold) can dominate the job.
    * Buckets larger than `maxBucketSize` therefore emit a star to the
    * bucket minimum instead of all pairs — O(m) rows. Cluster
    * connectivity through such a bucket is preserved via the star
    * center; only non-center pair *enumeration* inside the bucket
    * degrades, and the same pairs usually resurface in one of the
    * other `bands-1` (smaller) buckets. The default is far above
    * anything the gate data produces, so gate results are exact.
    */
  /** (band, bucket) structs for a signature column — collision-free
    * packing of an r=2 band into one long. Shared by the candidate
    * join and the bucket-size diagnostic so both see the same buckets.
    */
  private def bandBuckets(bands: Int, rowsPerBand: Int): Column = {
    require(rowsPerBand == 2, "band packing below assumes r=2")
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        (element_at(col("sig"), b * rowsPerBand + 1) * MinHashParams.P
          + element_at(col("sig"), b * rowsPerBand + 2)).as("bucket")))
  }

  /** Diagnostic for the [[lshCandidates]] star-path approximation:
    * (number of buckets over `maxBucketSize`, largest bucket seen).
    * Any nonzero first component means some non-center pairs inside
    * oversized buckets were NOT enumerated this run (they are found
    * only if another band also buckets them) — run this on the same
    * signatures to make that exactness loss observable instead of
    * silent. One small aggregation job (group sizes only, no pair
    * join).
    */
  def lshBucketStats(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int): (Long, Long) = {
    val sizes = sigs.select(explode(bandBuckets(bands, rowsPerBand)).as("bb"))
      .groupBy(col("bb.band"), col("bb.bucket")).agg(count(lit(1)).as("bsz"))
    val r = sizes.agg(
      coalesce(sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)), lit(0L)),
      coalesce(max("bsz"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = 4096): DataFrame = {
    val bandCols = bandBuckets(bands, rowsPerBand)
    // one shuffle on (band, bucket) computes both per-bucket size and
    // min; the self-join below then reuses the same partitioning
    val w = Window.partitionBy("band", "bucket")
    val banded = sigs.select(col("doc_id"), explode(bandCols).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bmin", min("doc_id").over(w))
    val small = banded.filter(col("bsz") <= maxBucketSize)
      .select("doc_id", "band", "bucket")
    val l = small.alias("l"); val r = small.alias("r")
    val allPairs = l.join(r,
      col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
        && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("ia"), col("r.doc_id").as("ib"))
    val starPairs = banded.filter(col("bsz") > maxBucketSize)
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("ia"), col("doc_id").as("ib"))
    allPairs.union(starPairs).distinct()
  }

  /** Exact Jaccard for given candidate pairs, by joining back the
    * shingle sets (arrays bounded by doc length, so executor-safe).
    */
  def verifyJaccard(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val a = sets.select(col("doc_id").as("ia"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("ib"), col("sh").as("sh_b"))
    pairs.join(a, "ia").join(b, "ib")
      .select(col("ia"), col("ib"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: collapse exact duplicates →
    * shingle → sign → band → candidate join → exact-Jaccard verify ≥
    * threshold → re-expand the collapsed duplicates.
    *
    * 64 hashes as 32 bands × 2 ⇒ P(candidate | j) = 1-(1-j²)^32:
    * ≥ 0.9999 at j = 0.5, so verified output matches the exact
    * all-pairs answer with overwhelming probability — at a fraction of
    * the cost (no O(n²) stage anywhere). One further approximation
    * rides along: LSH buckets larger than `maxBucketSize` enumerate a
    * star around the bucket minimum instead of all pairs (see
    * [[lshCandidates]]), so a non-center pair inside an oversized
    * bucket is found only if another band also buckets it. The default
    * cap (4096) is far above any bucket the gate data produces —
    * results there are exact — but corpora with huge near-identical
    * cliques that survive the exact-dup collapse trade those pairs for
    * boundedness; tune the cap via the parameter. [[lshBucketStats]]
    * on the same signatures counts the buckets that took the star path.
    *
    * The exact-dup collapse (md5 group → one representative) is what
    * production LLM dedup does first: a corpus with heavy byte-exact
    * duplication would otherwise put whole duplicate cliques into the
    * same LSH buckets in every band — m docs → m²/2 candidate rows ×
    * all 32 bands. After collapsing, the expensive pipeline runs once
    * per distinct text; pairs among duplicates are reconstructed
    * exactly afterwards (identical texts ⇒ identical shingle sets ⇒
    * Jaccard of an expanded pair is bit-identical to its
    * representatives' Jaccard; intra-group pairs are exactly 1.0 —
    * emitted only when shingles exist, matching the all-pairs
    * semantics where an empty-shingle Jaccard is undefined).
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxBucketSize: Int = 4096): DataFrame = {
    // exact-dup collapse: one representative (min id) per distinct
    // text. Two tuning dead-ends measured here and rejected:
    // materializing repDocs/sets via localCheckpoint (6.5 s → 18 s,
    // pathological under AQE — matching the earlier finding in
    // nearDupClusters' iteration loop), and lowering AQE's
    // minPartitionSize to parallelize the shingle HOF (regressed the
    // downstream join stages). The plan as-is shares work via AQE
    // exchange reuse.
    val hashed = df.select(col(idCol).as("doc_id"), col(textCol).as("txt"),
      md5(col(textCol)).as("ch"))
    val repDocs = hashed.groupBy("ch")
      .agg(min("doc_id").as("doc_id"), first("txt").as("txt"))
    val memb = hashed.select(col("ch"), col("doc_id"))
      .join(repDocs.select(col("ch"), col("doc_id").as("rep_id")), "ch")
      .select(col("doc_id"), col("rep_id"))

    val sets = shingleSets(repDocs, "txt", "doc_id", shingleN)
    val sigs = minhashSignatures(sets, 64)
    val cands = lshCandidates(sigs, bands = 32, rowsPerBand = 2, maxBucketSize)
    val repPairs = verifyJaccard(cands, sets)
      .filter(col("jaccard") >= threshold)

    // re-expand: (1) every rep-level pair fans out over both groups'
    // members; (2) within a multi-member group, all pairs at Jaccard
    // exactly 1.0 (identical texts), when the group has shingles at
    // all. Join keys are group representatives — bounded fan-out, no
    // all-pairs stage.
    val rp = repPairs.select(col("ia").as("ra"), col("ib").as("rb"), col("jaccard"))
    val cross = rp
      .join(memb.select(col("rep_id").as("ra"), col("doc_id").as("da")), "ra")
      .join(memb.select(col("rep_id").as("rb"), col("doc_id").as("db")), "rb")
      .select(least(col("da"), col("db")).as("ia"),
        greatest(col("da"), col("db")).as("ib"), col("jaccard"))
    val withSh = sets.filter(size(col("sh")) > 0)
      .select(col("doc_id").as("rep_id"))
    val ma = memb.join(withSh, "rep_id").select(col("rep_id"), col("doc_id").as("da"))
    val mb = memb.select(col("rep_id"), col("doc_id").as("db"))
    val intra = ma.join(mb, "rep_id")
      .filter(col("da") < col("db"))
      .select(col("da").as("ia"), col("db").as("ib"), lit(1.0).as("jaccard"))
    // sealPairs: the gate global-sorts this result, and range
    // partitioning executes its child twice (sample pass + shuffle
    // pass). One hash re-exchange of the OUTPUT-sized pair set
    // materializes the LSH/verify chain once.
    sealPairs(cross.union(intra))
  }

  // ---------------------------------------------------------------
  // Near-dup clustering: connected components over the pair graph →
  // (doc_id, cluster_id = min doc_id in component). This is the final
  // step of a production dedup pipeline (keep one representative per
  // component, drop the rest).
  //
  // Two paths, chosen by a BYTE budget on the driver:
  //  - below it, one collect + single-threaded union-find (the pair
  //    graph is orders of magnitude smaller than the corpus — only
  //    near-dup docs appear — so this is the common case and beats
  //    any multi-round distributed algorithm by a wide margin);
  //  - above it, large-star/small-star alternation (Kiveris et al.,
  //    "Connected Components in MapReduce and Beyond"): O(log n)
  //    rounds regardless of graph diameter, each round two
  //    grouped-min shuffles, never materializing a neighbor list.
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 50,
      driverBytesThreshold: Long = 256L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // cache: the pair pipeline (shingle→minhash→LSH→verify) feeds the
    // count probe AND the collect/loop — don't run it twice. coalesce
    // (r16): cached plans keep their physical partitioning (AQE
    // coalescing is off inside InMemoryRelation by default), so the
    // pair set — metadata-scale by construction — was materializing at
    // the 128-slot initial shuffle width and every downstream pass
    // paid ~129 near-empty tasks; capping at the session default
    // parallelism is a narrow merge, not a shuffle.
    val fwd = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .coalesce(spark.sparkContext.defaultParallelism).cache()

    // ~160 B of driver footprint per edge (two boxed HashMap entries
    // worst-case); 256 MB default ⇒ ~1.6M edges on the driver path
    val edgeCount = fwd.count()
    if (edgeCount * 160L <= driverBytesThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val collected = fwd.collect()
      fwd.unpersist()
      collected.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      val rows = parent.keys.toSeq.sorted.map(x => Row(x, find(x)))
      // bounded slice count (r16): the default slices the tiny result
      // into defaultParallelism near-empty partitions; ~50k rows per
      // slice keeps task counts proportional to the data
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, rows.size / 50000 + 1))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }

    // Large-star: every node's strictly-larger neighbors reconnect to
    // the minimum of its closed neighborhood. Expressed as a grouped
    // min + join — no neighbor-list aggregation, so a 10M-degree hub
    // node never builds a 10M-element array on one task.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(least(col("b"), col("a"))).as("m"))
      sym.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // Small-star: orient edges high→low; every node's lower neighbors
    // (and itself) reconnect to the minimum among them.
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = o.groupBy("a").agg(min("b").as("m"))
      o.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .distinct()
    }

    // Lineage discipline (r16, guide §3.3/§5): every round's edge set
    // is localCheckpoint(eager)-materialized, NOT cache()d. cache()
    // keeps the full logical plan — each round composes ~6 operators
    // over the previous round's PLAN, so the tree grows ~6× per round
    // and AQE re-plans the whole thing at every shuffle stage of every
    // job: measured at sf0.1 (256 edges!), round 2's convergence check
    // took 131 s and the final root extraction 249 s of pure
    // driver-side planning (413 s total). With per-round checkpoint
    // truncation the same query runs in ~13 s — the star rounds
    // compute on a plan of constant depth. The checkpointed edge set
    // is component-metadata-sized (near-dup pairs only), never the
    // corpus.
    // Durability trade (VERDICT r16 #9): localCheckpoint stores the
    // materialized rounds on executor-local block storage — losing an
    // executor mid-query loses the truncated lineage and fails the
    // job (Spark cannot recompute past the cut). Acceptable in this
    // single-JVM harness; a multi-node deployment that needs
    // executor-loss recoverability should set a reliable checkpoint
    // dir (sc.setCheckpointDir on HDFS/object store) and swap these
    // calls to .checkpoint(true) — same semantics, one extra
    // replicated write per round.
    // coalesce before every checkpoint (r16): the checkpointed RDD
    // keeps the plan's physical partition count (the 128-wide initial
    // shuffle), so each star round was paying ~129 near-empty tasks
    // per pass over a component-metadata-sized edge set. The width is
    // derived from the MEASURED edge count (~50k edges/partition,
    // capped at the session default parallelism) — edgeCount is
    // already in hand from the path-selection probe above, so a tiny
    // pair graph runs its rounds on a handful of tasks while a huge
    // one still uses the full width.
    val w = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      edgeCount / 50000L + 1L)).toInt
    var cur = fwd
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().coalesce(w).localCheckpoint(true)
    fwd.unpersist() // nothing below reads the pair pipeline again
    // convergence: a true set comparison, not a hash/sum signature —
    // both sides are distinct, so |next| = |cur| plus next∖cur = ∅
    // implies set equality. (A (count, Σa, Σb) triple was used here
    // before; it can in principle report a false fixpoint when two
    // edge moves cancel in the sums, and the sums of 64-bit ids can
    // overflow — either would silently mis-cluster at root extraction.)
    var prevCount = -1L
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val next = smallStar(largeStar(cur)).coalesce(w).localCheckpoint(true)
      val cnt = next.count()
      done = cnt == prevCount && next.exceptAll(cur).isEmpty
      cur = next
      prevCount = cnt
      i += 1
    }
    require(done || i < maxIter,
      s"nearDupClusters did not converge within $maxIter star rounds")
    // converged: star graphs — every non-root holds exactly its
    // (root = component min) edge
    val nonRoot = cur.groupBy("a").agg(min("b").as("cluster_id"))
      .select(col("a").as("doc_id"), col("cluster_id"))
    val roots = cur.select(col("b").as("doc_id")).distinct()
      .join(nonRoot.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    // one small row per near-dup doc, over the checkpointed star
    // forest — constant-depth plan, no cache to release
    nonRoot.union(roots)
  }

  /** End-to-end dedup: drop every document that shares a near-dup
    * cluster with a smaller doc_id. The pair graph is the union of
    * verified MinHash near-dup pairs and exact-hash duplicate pairs —
    * the latter so byte-identical documents *shorter than the shingle
    * width* (whose Jaccard is undefined: no shingles) are still
    * deduplicated. Returns the kept rows of `df`.
    *
    * Inherits [[minhashNearDups]]'s LSH bucket-cap approximation
    * (`maxBucketSize`); for clustering it is milder — a capped bucket
    * still contributes star candidates through the bucket minimum, so
    * connectivity (and hence which docs are dropped) survives the cap
    * whenever those star pairs pass the Jaccard verify — but a doc
    * whose only qualifying partners were non-center members of one
    * oversized bucket can escape the drop.
    */
  def dropNearDups(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxBucketSize: Int = 4096): DataFrame = {
    val near = minhashNearDups(df, textCol, idCol, shingleN, threshold, maxBucketSize)
      .select("ia", "ib")
    // exact duplicates as star edges to the group min: enough for
    // connectivity, O(group size) rows
    val exactPairs = exact(df, textCol, idCol)
      .select(col("content_hash"), col("keep_id"))
      .join(df.select(md5(col(textCol)).as("content_hash"), col(idCol).as("doc_id")),
        "content_hash")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("keep_id").as("ia"), col("doc_id").as("ib"))
    val clusters = nearDupClusters(near.union(exactPairs))
    val losers = clusters.filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Pins an inverted-index posting table to the session's full
    * shuffle width on its join key before an explosive self/probe
    * join (guide §2.5 input-skew family): the posting exchange is tiny
    * (8-byte hashes), so AQE's parallelism-first coalescing floors it
    * at a handful of `minPartitionSize` partitions, while the join
    * OUTPUT is ~100× the input (Σ df² pair enumeration) — the one
    * CPU-dense stage of the query would run on a few cores.
    * An explicit-count repartition on the join key replaces the
    * ENSURE_REQUIREMENTS exchange (same shuffle, pinned width), so it
    * adds no work at any scale; at 100 TB the posting exchange is
    * large enough that AQE would keep it wide anyway and the pinned
    * width equals what the operator sized `spark.sql.shuffle.partitions`
    * to. Cost: the pinned exchange opts out of AQE skew-splitting —
    * acceptable here because the skew-prone classic forms are
    * documented verification oracles whose scale siblings
    * (prefix/LSH) dodge the head-key skew structurally.
    */
  private[llm] def pinJoinWidth(inv: DataFrame, key: String): DataFrame =
    inv.repartition(graft.SessionConf.shuffleWidth(inv.sparkSession), col(key))

  // ---------------------------------------------------------------
  // The hashed-posting kernel: each shingle-set pair operator is one
  // inverted-index count join — postings on both sides, sharedCounts
  // between them — plus its own pair predicate and output projection.
  /** The inverted index of a shingle-set frame (`doc_id`, `sh`, …):
    * one row per (doc, distinct shingle) carrying the doc's set size
    * `n_sh` and the shingle's 8-byte hash `h` (same result as the
    * strings — 64-bit collisions negligible — at ~10× fewer shuffle
    * bytes), pinned on `h` ([[pinJoinWidth]]). Every other column of
    * `sets` passes through.
    */
  private[graft] def postings(sets: DataFrame): DataFrame = {
    val keep = sets.columns.toSeq.filter(_ != "sh").map(col)
    pinJoinWidth(
      sets.select(keep :+ size(col("sh")).as("n_sh") :+ explode(col("sh")).as("s"): _*)
        .select(keep :+ col("n_sh") :+ xxhash64(col("s")).as("h"): _*),
      "h")
  }

  /** Shared-key counts of every `l` × `r` doc pair that meets `pair`
    * (over `l.*`/`r.*`): the shuffle-hash equi-join on `h`, then a
    * map-side-combined groupBy, so per-pair work is a counter bump,
    * never an array intersection. Both sides carry doc_id, n_sh and h;
    * no pinning here — [[postings]] pins. Returns
    * (ia, ib, common, na, nb), `ia`/`na` from `l`.
    */
  private[llm] def sharedCounts(l: DataFrame, r: DataFrame, pair: Column): DataFrame =
    l.alias("l").join(r.hint("shuffle_hash").alias("r"),
        col("l.h") === col("r.h") && pair)
      .groupBy(col("l.doc_id").as("ia"), col("r.doc_id").as("ib"))
      .agg(count(lit(1)).as("common"),
        first(col("l.n_sh")).as("na"), first(col("r.n_sh")).as("nb"))

  /** Size-ratio prune for a [[sharedCounts]] pair predicate: J ≥ t
    * forces t ≤ |A|/|B| ≤ 1/t, so this is exact for Jaccard ≥ t (no
    * recall loss) and prunes inside the join.
    */
  private[llm] def jaccardSizeBound(t: Double): Column = {
    val tInv = lit(1.0 / t)
    col("r.n_sh") <= col("l.n_sh") * tInv && col("l.n_sh") <= col("r.n_sh") * tInv
  }

  /** Jaccard of a [[sharedCounts]] row: common / (na + nb − common). */
  private[llm] def jaccard: Column =
    col("common").cast("double") / (col("na") + col("nb") - col("common"))

  // ---------------------------------------------------------------
  // Exact n-gram Jaccard via inverted index (no LSH, no cross join):
  // explode shingles, self-join on the shingle (the inverted-index
  // bucket), count common shingles per pair, derive Jaccard.
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    // (A PPJoin-style rarest-prefix index LOSES on this workload: with
    // a ~1k-shingle vocabulary even the rare prefixes have high
    // document frequency, and the array-verify on the candidate flood
    // costs more than counting over the full index. On natural text
    // with a long-tail vocabulary, prefix filtering is the right scale
    // path; with dense vocabularies, MinHash-LSH (minhashNearDups) is.)
    val inv = postings(shingleSets(df, textCol, idCol, shingleN))
    sharedCounts(inv, inv,
        col("l.doc_id") < col("r.doc_id") && jaccardSizeBound(threshold))
      .select(col("ia"), col("ib"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Seals a pair-operator's output behind one hash re-exchange on the
    * pair key (guide §1.4/§7.2): the verified pair set is orders of
    * magnitude smaller than the stages that produce it, but a caller
    * that global-sorts (every oracle gate does) or range-writes the
    * result makes Spark execute the sort's child TWICE — once to
    * sample range bounds, once to write the sort exchange — re-running
    * the expensive verify/aggregation chain both times. The exchange
    * materializes the pair set once, so downstream sampling reads a
    * shuffle boundary instead of recomputing the chain. It is a real
    * exchange where the pair set does not already arrive hash-
    * partitioned on the pair key: [[minhashNearDups]] (a union of
    * joins) and [[containmentPairsPrefix]] (verify joins on the doc
    * keys). The [[sharedCounts]] operators need none — their pair
    * aggregation's exchange already partitions on the pair key, and
    * Spark's EnsureRequirements would drop a repartition there. Cost:
    * one shuffle of the OUTPUT-sized pair set, the smallest relation
    * in the pipeline; AQE coalesces it freely.
    */
  private def sealPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(col("ia"), col("ib"))

  // ---------------------------------------------------------------
  // Containment pairs — the asymmetric companion to Jaccard: how much
  // of doc A's shingle set lives inside B (and vice versa). Catches
  // what symmetric measures miss — a tweet quoted whole inside an
  // article has tiny Jaccard but containment 1.0 — and is the
  // decision input for substring-dedup policies (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better").
  /** Same inverted-index count join as [[ngramJaccardPairs]] (8-byte
    * shingle hashes, map-side pair counting), WITHOUT the size-ratio
    * prune — containment is exactly the measure where a tiny doc
    * matching a huge one must surface, so no ratio bound is sound.
    * Cost is the honest sum-of-df² of the index. NOTE: MinHash
    * banding is NOT a sound prefilter here (unlike Jaccard) — a tweet
    * contained whole in an article has containment 1.0 but Jaccard
    * ≈ |tweet|/|article| ≈ 0, exactly the signature-collision
    * probability LSH prunes away. The sub-quadratic path that IS
    * sound (and lossless) is [[containmentPairsPrefix]] below.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val inv = postings(shingleSets(df, textCol, idCol, shingleN))
    sharedCounts(inv, inv, col("l.doc_id") < col("r.doc_id"))
      .select(col("ia"), col("ib"),
        (col("common").cast("double") / col("na")).as("containment_a"),
        (col("common").cast("double") / col("nb")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
  }

  /** Exact containment pairs via LOSSLESS prefix filtering (the
    * AllPairs/PPJoin prefix bound, containment variant): for a pair
    * with common ≥ t·min(na,nb), the smaller doc must share at least
    * one of its (m − ⌈t·m⌉ + 1) globally-RAREST shingles with the
    * larger — if none of those land in the other set, common ≤
    * m − prefix < t·m. So only the rare prefix of the smaller side
    * probes the full inverted index ([[prefixProbe]]): candidate
    * volume is bounded by the document frequency of the ~(1−t)·m
    * rarest shingles per doc (tiny on the long-tail shingle
    * vocabularies of natural text at 100 TB), not by Σ df² over every
    * posting. Candidates are then verified exactly per pair
    * (hashed-set intersection, O(na+nb)), and the final filter is the
    * same double arithmetic as [[containmentPairs]] — the output is
    * bit-identical (LlmSpec "containmentPairsPrefix is bit-identical
    * to the full index join" and the AlgoPropertySpec prefix-filtered
    * containment property assert set and value equality). All stages
    * are bounded-key shuffles: shingle-hash df agg, per-doc rank
    * window, probe join, pair distinct, two doc-key verify joins.
    *
    * On a dense uniform vocabulary (the sf testdata) every shingle's
    * df is huge, so the rarity prefix shrinks probe volume only by a
    * near-constant factor while paying a df aggregation + join and a
    * per-doc rank window; the exponent advantage belongs to Zipfian
    * natural-text vocabularies (Bayardo et al., WWW'07), where head
    * shingles never enter anyone's prefix — so this path also dodges
    * the head-key skew of the classic form. Both forms are
    * oracle-gated (`dedup_containment`, `dedup_containment_prefix`,
    * same SQL). Measurements: docs/HISTORY.md "Inverted-index pair
    * kernel".
    */
  def containmentPairsPrefix(df: DataFrame, textCol: String,
      idCol: String, shingleN: Int, threshold: Double): DataFrame = {
    // hs sorted ascending: every use is order-independent — the
    // inverted index explodes it, n_sh is its size, and the verify
    // consumes it through the sorted-merge SortedIntersectCount kernel
    // below (one sort per DOC upfront vs a hash set per candidate
    // PAIR in a size(array_intersect(...)) verify).
    val sets = shingleSets(df, textCol, idCol, shingleN)
      .select(col("doc_id"),
        sort_array(expr("transform(sh, s -> xxhash64(s))")).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n_sh"))
    val inv = sets.select(col("doc_id"), col("n_sh"),
      explode(col("hs")).as("h"))
    val cand = prefixProbe(inv, threshold)
      .select(least(col("p.doc_id"), col("i.doc_id")).as("ia"),
        greatest(col("p.doc_id"), col("i.doc_id")).as("ib"))
      .distinct()
    val a = sets.select(col("doc_id").as("ia"), col("hs").as("hsa"),
      col("n_sh").as("na"))
    val b = sets.select(col("doc_id").as("ib"), col("hs").as("hsb"),
      col("n_sh").as("nb"))
    sealPairs(cand.join(a, "ia").join(b, "ib")
      .select(col("ia"), col("ib"),
        graft.functions.SortedIntersectCount(col("hsa"), col("hsb"))
          .as("common"),
        col("na"), col("nb"))
      .select(col("ia"), col("ib"),
        (col("common").cast("double") / col("na")).as("containment_a"),
        (col("common").cast("double") / col("nb")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= threshold))
  }

  /** The rare prefix of every doc's posting list for threshold `t`:
    * its (n_sh − ⌈t·n_sh⌉ + 1) globally-rarest hashes, as
    * (doc_id, n_sh, h) rows of `inv`.
    */
  private def rarePrefix(inv: DataFrame, t: Double): DataFrame = {
    val dfreq = inv.groupBy("h").agg(count(lit(1)).as("df_h"))
    // Rarest-first rank within each doc; deterministic tie-break on
    // the hash. ceil(t·n − 1e-9) instead of ceil(t·n): when t·n is
    // integral, float error must lengthen the prefix (lossless), never
    // shorten it — the exact verify re-applies the true bound.
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df_h"), col("h"))
    inv.join(dfreq, "h")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <=
        col("n_sh") - ceil(lit(t) * col("n_sh") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("n_sh"), col("h"))
  }

  /** The prefix-filter probe join: the [[rarePrefix]] of the
    * strictly-smaller side of each pair (lexicographic (n_sh, doc_id),
    * so exactly one side of every pair probes, ties included) joined
    * to the full posting table `inv` on `h`, both pinned. One row per
    * (prefix posting, matching posting) as `p.*`/`i.*` — the
    * candidate stream before the pair distinct.
    */
  private[graft] def prefixProbe(inv: DataFrame, t: Double): DataFrame =
    pinJoinWidth(rarePrefix(inv, t), "h").alias("p")
      .join(pinJoinWidth(inv, "h").hint("shuffle_hash").alias("i"),
        col("p.h") === col("i.h") &&
          (col("p.n_sh") < col("i.n_sh") ||
            (col("p.n_sh") === col("i.n_sh") &&
              col("p.doc_id") < col("i.doc_id"))))

  /** Substring-level near-dup pairs over WINNOWING fingerprints
    * (MOSS candidate pairing): docs sharing ≥ `minShared` distinct
    * selected k-gram hashes, with the shared count and the overlap
    * fraction vs the smaller fingerprint set. The winnowing guarantee
    * makes this the sound sub-quadratic path for substring dedup: any
    * common token run of length ≥ w + k − 1 is certain to land a
    * shared fingerprint, while the inverted index holds only the
    * ~2/(w+1) winnowed fraction of all k-grams — at 100 TB that is
    * the difference between indexing every shingle
    * ([[ngramJaccardPairs]]) and indexing a fixed-density sample with
    * a recall proof. Same [[sharedCounts]] kernel as the other
    * indexes, keyed by the fingerprint itself (unpinned); cost is the
    * winnowed index's sum-of-df², with hot boilerplate fingerprints
    * surfacing in the counts rather than hiding.
    */
  def winnowNearDups(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, minShared: Int): DataFrame = {
    val fpsets = TextAnalysis.winnow(df, textCol, idCol, k, w)
      .select(col("doc_id"), col("fp").as("h")).distinct()
    val sized = fpsets.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inv = fpsets.join(sized, "doc_id")
    sharedCounts(inv, inv, col("l.doc_id") < col("r.doc_id"))
      .filter(col("common") >= minShared)
      .select(col("ia"), col("ib"), col("common").as("n_shared"),
        (col("common").cast("double") / least(col("na"), col("nb")))
          .as("overlap_frac"))
  }

  // ---------------------------------------------------------------
  // SimHash: 30-bit signatures from token polynomial hashes.
  // One explode + one shuffle on doc_id; the 30 bit-sums are computed
  // as parallel aggregate expressions (single pass, codegen'd).
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashOver(df.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .withColumn("h", PolyHash(col("w"))))

  /** SimHash over DISTINCT word n-gram shingle features instead of
    * unigram tokens — the feature set Manku-style web dedup actually
    * hashes. On a small-vocabulary corpus unigram bit-sums collapse
    * (at sf0.1, 17.5k doc pairs share an IDENTICAL 30-bit unigram
    * signature; 3-gram shingles leave 37), so the pairing stage needs
    * the higher-entropy features to mean anything. Same one-explode /
    * one-doc-key-shuffle shape as [[simhash]]; the shingling is the
    * native codegen'd WordShingles.
    */
  def simhashShingles(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int): DataFrame =
    simhashOver(df.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), shingleN)).as("w"))
      .withColumn("h", PolyHash(col("w"))))

  private def simhashOver(tok: DataFrame): DataFrame = {
    val bits = 30 // PolyHash < 2^30, so higher bits carry no signal
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val agged = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup PAIRING via Hamming-block pigeonhole (Manku,
    * Jain & Das Sarma, WWW'07 §3 — "detecting near-duplicates for web
    * crawling", the production-scale companion to [[simhash]]): the
    * [[hammingPairs]] block join over the 30-bit signatures of
    * [[simhashShingles]] (n-gram features — see its note on why
    * unigram signatures have no pairing power). Bucket population is
    * bounded by block entropy; a skewed corpus (many docs sharing a
    * 10-bit block) concentrates a key exactly like a hot LSH band —
    * the same star-cap / diagnostics treatment ([[lshCandidates]],
    * [[lshBucketStats]]) applies; at Manku's scale the block count
    * (and tables) grows so each block widens and buckets thin
    * exponentially.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int, shingleN: Int = 3): DataFrame =
    hammingPairs(simhashShingles(df, textCol, idCol, shingleN), "doc_id",
      "simhash", bits = 30, maxHamming)

  /** Hamming-distance pairing of precomputed fixed-width signatures
    * via the pigeonhole (Manku WWW'07 §3), for ANY signature column
    * (SimHash, perceptual image hashes, audio fingerprints): split the
    * `bits`-wide signature into `maxHamming + 1` contiguous blocks
    * (widths as even as possible, each ≥ 1, covering every bit once),
    * equi-join on exact block agreement (two signatures within the
    * distance bound must agree on ≥ 1 block), verify with one
    * codegen'd popcount(xor), distinct (a close pair can agree on
    * several blocks). Scale shape: one ×(maxHamming+1) explode, one
    * shuffle on the (block, bits) key, shuffle-hash join, never
    * all-pairs. Input `sig` must carry one row per id.
    */
  def hammingPairs(sig: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks <= bits, s"need $nBlocks non-empty blocks out of $bits bits")
    val widths = (0 until nBlocks).map(h =>
      bits / nBlocks + (if (h < bits % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // unsigned shift so a set sign bit (bits = 64) can't smear across
    // the block extraction; the top block of a full 64-bit signature
    // needs no mask (and `(1L << 64) - 1` would be wrong anyway)
    val blockStructs = (0 until nBlocks).map { h =>
      val width = widths(h)
      val shifted = shiftrightunsigned(col("sg"), offsets(h))
      val bv =
        if (offsets(h) + width >= 64) shifted
        else shifted.bitwiseAND(lit((1L << width) - 1))
      struct(lit(h).as("blk"), bv.as("bv"))
    }
    val base = sig.select(col(idCol).as("sid"), col(hashCol).as("sg"))
    val ex = base.select(col("sid"), col("sg"),
        explode(array(blockStructs: _*)).as("b"))
      .select(col("sid"), col("sg"),
        col("b.blk").as("blk"), col("b.bv").as("bv"))
    val l = ex.alias("l")
    val r = ex.hint("shuffle_hash").alias("r")
    l.join(r, col("l.blk") === col("r.blk") && col("l.bv") === col("r.bv") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("ia"), col("r.sid").as("ib"),
        bit_count(col("l.sg").bitwiseXOR(col("r.sg")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---------------------------------------------------------------
  // Embedding near-dup: EXACT cosine-threshold self-join via triangle
  // blocking. Exact all-pairs comparison is inherently O(n²) FLOPs,
  // but the naive `a.join(b, ia < ib)` theta-join executes as a
  // BroadcastNestedLoopJoin — the entire corpus broadcast to every
  // task (driver OOM at scale). Triangle blocking instead hashes each
  // vector into one of `blocks` groups and materializes every block
  // PAIR (i ≤ j) as an ordinary equi-join key: replication factor
  // blocks+1, per-task working set 2n/blocks vectors, and the plan is
  // a plain shuffle join — no broadcast, no cross join, memory-bounded
  // regardless of corpus size. Same exact pair set, same bits.
  //
  // (At 100 TB nobody runs an exact all-pairs — the approximate scale
  // path is embeddingNearDupsLsh below, with recall traded per the
  // bits/probe parameters; this operator is the exact form, distributed
  // as well as exactness allows.)
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    val B = blocks
    val v = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.l2Norm(col("v")))
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(B)).cast("int"))
    // left replica stream: vector in block g serves block-pairs (g, j≥g)
    val left = v.withColumn("j", explode(sequence(col("g"), lit(B - 1))))
      .select(col("g").as("bi"), col("j").as("bj"),
        col("vec_id").as("la"), col("v").as("va"), col("nrm").as("na"))
    // right replica stream: vector in block g serves block-pairs (i≤g, g)
    val right = v.withColumn("i", explode(sequence(lit(0), col("g"))))
      .select(col("i").as("bi"), col("g").as("bj"),
        col("vec_id").as("lb"), col("v").as("vb"), col("nrm").as("nb"))
    // a cross-block pair (x∈i, y∈j) meets exactly once — in task
    // (i,j), x from the left stream, y from the right — whatever the
    // id order, so it is emitted id-normalized; an intra-block pair
    // meets twice in task (g,g) (both orientations), so la < lb keeps
    // one. Cosine is order-independent bit-for-bit (per-element
    // products commute; accumulation order is element index).
    left.join(right, Seq("bi", "bj"))
      .filter((col("bi") === col("bj") && col("la") < col("lb"))
        || col("bi") =!= col("bj"))
      .select(least(col("la"), col("lb")).as("ia"),
        greatest(col("la"), col("lb")).as("ib"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Approximate embedding near-dup — the true 100 TB path: random-
    * hyperplane signatures bucket the corpus; only pairs whose
    * signatures differ in ≤ `probeBits` bits are exact-cosine
    * verified. Candidate generation is a bucketed equi-join (the same
    * hyperplanes as Similarity.lshTopK), so cost scales with bucket
    * occupancy, not n². Precision is exact (verify step); recall for
    * a pair at angle θ is P(≤ probeBits of `bits` hyperplanes split
    * it), each bit splitting independently with probability θ/π —
    * near-duplicate angles (cos ≥ 0.9, θ ≤ 26°) keep recall ≥ ~99%
    * at the defaults; verify-threshold pairs near 90° are genuinely
    * down-weighted, which is the intended trade. The exact form above
    * is the oracle to calibrate against.
    */
  def embeddingNearDupsLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bits: Int = 8, probeBits: Int = 1): DataFrame = {
    require(probeBits >= 0 && probeBits <= 2, "probe set grows as C(bits, probeBits)")
    val v = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.l2Norm(col("v")))
      .withColumn("sig", Similarity.hyperplaneSig(col("v"), bits))
    // left probes its own bucket plus every bucket within Hamming
    // distance `probeBits`; right sits in its own bucket only — each
    // qualifying pair meets in the right member's bucket
    val flips: Seq[Column] = {
      val one = (0 until bits).map(h => lit(1L << h))
      val two = for (i <- 0 until bits; j <- (i + 1) until bits)
        yield lit((1L << i) | (1L << j))
      (if (probeBits >= 1) one else Nil) ++ (if (probeBits >= 2) two else Nil)
    }
    val probed = v.withColumn("bucket",
      explode(array((col("sig") +: flips.map(f => col("sig").bitwiseXOR(f))): _*)))
    val l = probed.select(col("bucket"), col("vec_id").as("la"),
      col("v").as("va"), col("nrm").as("na"))
    val r = v.select(col("sig").as("bucket"), col("vec_id").as("lb"),
      col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, Seq("bucket"))
      .filter(col("la") < col("lb"))
      .select(col("la").as("ia"), col("lb").as("ib"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct() // a pair can meet via several probed buckets
  }

  /** Deterministic high-cos evaluation corpus for the LSH recall gates
    * (VERDICT r15 #6): every `every`-th vector gains a planted
    * near-duplicate — the same vector with `shift` added to EVERY
    * coordinate, id offset by `idOffset` past the corpus range. For a
    * unit vector v, cos(v, v + shift·1) ≈ 1 − dim·shift²·(1 − s²/dim)/2
    * (s = Σvᵢ ~ N(0,1) on the iid-gaussian testdata), i.e. a tight,
    * base-independent near-dup angle — shift 0.02 on 64 dims lands at
    * cos ≈ 0.987 (θ ≈ 9°), squarely the regime hyperplane LSH is built
    * for, while un-planted pairs stay far below any high threshold
    * (max observed cos on the testdata ≈ 0.6). The arithmetic is one
    * float→double cast plus one double add per element, both exact to
    * mirror in SQL, so the derived corpus (and therefore the exact
    * pair set) is bit-reproducible in the DuckDB oracle.
    */
  def plantShiftedNearDups(df: DataFrame, vecCol: String, idCol: String,
      every: Int, shift: Double, idOffset: Long): DataFrame = {
    val base = df.select(col(idCol).cast("long").as(idCol),
      transform(col(vecCol), _.cast("double")).as(vecCol))
    val planted = base.filter(col(idCol) % every === 0)
      .select((col(idCol) + idOffset).as(idCol),
        transform(col(vecCol), _ + lit(shift)).as(vecCol))
    base.unionByName(planted)
  }

  /** Recall-verdict wrapper for an approximate PAIR operator — the
    * pair-set analog of [[Similarity.topKWithRecallVerdict]]: rows are
    * the EXACT pair set (SQL-reproducible, so the gate stays a full
    * hash compare) and `recall_ok` pins that the approximate path
    * recovered at least `minRecall` of them. The global window runs
    * over the exact operator's OUTPUT (near-dup pairs — already the
    * reduced result, not the corpus), the same metadata-scale frame as
    * the ANN verdict gates. The engine is bit-deterministic, so the
    * verdict is stable; `minRecall` is calibrated per config on the
    * uniform testdata (measured for embeddingNearDupsLsh bits=6
    * probeBits=2 at threshold 0.4: 0.73/0.68/0.63 at sf0.001/0.01/0.1,
    * re-measured r16 (ADVICE r15) so all sites quote one number —
    * mid-range because cos 0.4 pairs sit near 66°, far outside the
    * near-dup angles the hyperplane signatures are built for; the
    * high-recall-at-high-cos guarantee is asserted in LlmSpec).
    */
  def pairsWithRecallVerdict(exact: DataFrame, approx: DataFrame,
      minRecall: Double): DataFrame = {
    // distinct: a duplicate (ia, ib) in `approx` (e.g. a multi-bucket
    // LSH emitter without its own dedup) would multiply exact rows
    // through the left join AND inflate the recall numerator
    val hits = approx.select(col("ia"), col("ib")).distinct()
      .withColumn("hit", lit(1L))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    exact.join(hits, Seq("ia", "ib"), "left")
      .select(col("ia"), col("ib"), col("cos"),
        (sum(coalesce(col("hit"), lit(0L))).over(w) >=
          count(lit(1)).over(w) * minRecall).cast("int").as("recall_ok"))
  }

  // ---------------------------------------------------------------
  // Incremental (ingestion-time) dedup — the daily-batch shape: new
  // documents arrive, anything already in the served corpus (or
  // repeated within the batch) must not be ingested twice.
  /** Drops batch docs whose content hash exists in `existing`, then
    * keeps one representative (min id) per remaining in-batch
    * duplicate group.
    *
    * Scale shape: the existing corpus reduces to its DISTINCT HASH SET
    * first — one narrow projection + partial-agg'd distinct; hashes
    * only, the 100 TB of text is never moved — then one shuffle for
    * the left_anti join and one window on the same hash key (AQE
    * reuses the exchange). In steady state the hash set is computed
    * once, stored bucketed by hash, and reused across batches, making
    * the per-batch cost one bucketed anti-join of batch-size rows.
    */
  def incrementalDedup(batch: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val eh = existing.select(md5(col(textCol)).as("content_hash")).distinct()
    val w = Window.partitionBy("content_hash").orderBy(idCol)
    batch.withColumn("content_hash", md5(col(textCol)))
      .join(eh, Seq("content_hash"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Near-dup-aware incremental ingest — the fuzzy companion to
    * [[incrementalDedup]], completing the dedup matrix (exact / Bloom
    * / near-dup × batch / incremental): a new batch document is
    * admitted only if its n-gram Jaccard similarity stays below
    * `threshold` against BOTH the served corpus and every
    * lower-doc_id admitted batch document (so a batch of mutual
    * near-dups admits exactly its min-id representative — first-write
    * wins, the [[incrementalDedup]] contract).
    *
    * Admission policy (deterministic, one-shot — documented precisely
    * because chain cases diverge between policies): admitted iff NO
    * near-dup in the corpus AND no lower-id CORPUS-CLEAN batch peer is
    * a near-dup. In a within-batch chain A~B, B~C (A≁C) this admits A
    * and drops both B and C — conservative versus exact sequential
    * admission (which would re-admit C once B is dropped); exact
    * sequential semantics are inherently iterative — compose
    * [[nearDupClusters]] + keep-representatives for that policy.
    *
    * Scale shape: the [[ngramJaccardPairs]] 8-byte-hash inverted-index
    * count join ([[sharedCounts]]) with the size-ratio prune, run twice
    * with asymmetric sides — batch×existing (existing shingles are
    * index-only; the served text never moves) and batch×batch, each
    * planned once. Per-batch cost is
    * Σ df_batch·(df_existing + df_batch) per shingle — batch-sized,
    * never corpus². Output: every batch doc with its blocker counts
    * and the admit verdict.
    */
  def incrementalNearDedup(batch: DataFrame, existing: DataFrame,
      textCol: String, idCol: String, shingleN: Int,
      threshold: Double): DataFrame = {
    def inv(df: DataFrame) = postings(shingleSets(df, textCol, idCol, shingleN))
    val b = inv(batch)
    def nearDups(other: DataFrame, pair: Column) =
      sharedCounts(b, other, pair && jaccardSizeBound(threshold))
        .filter(jaccard >= threshold)
    // a batch doc blocked by the corpus can't itself block its batch
    // peers (it is not admitted), so peer-blocking only counts
    // lower-id peers that are THEMSELVES corpus-clean — see the
    // admission-policy contract in the doc comment. One frame carries
    // both counts, so the corpus join is planned once: a row per
    // corpus-blocked doc (keyed by itself, with its corpus count) and
    // a row per (doc, lower-id batch near-dup) keyed by the peer; the
    // window over the key hands each peer row its peer's corpus count.
    val corpusRows = nearDups(inv(existing), lit(true))
      .groupBy(col("ia").as("key")).agg(count(lit(1)).as("nc"))
      .select(col("key"), col("key").as("doc_id"), col("nc"), lit(false).as("peer"))
    val peerRows = nearDups(b, col("r.doc_id") < col("l.doc_id"))
      .select(col("ib").as("key"), col("ia").as("doc_id"), lit(0L).as("nc"),
        lit(true).as("peer"))
    val blockers = corpusRows.unionByName(peerRows)
      .withColumn("key_nc", sum(col("nc")).over(Window.partitionBy("key")))
      .groupBy("doc_id")
      .agg(sum(col("nc")).as("n_corpus_blockers"),
        count(when(col("peer") && col("key_nc") === 0, lit(1))).as("n_peer_blockers"))
    batch.select(col(idCol).as("doc_id"))
      .join(blockers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_blockers"), lit(0L)).as("n_corpus_blockers"),
        coalesce(col("n_peer_blockers"), lit(0L)).as("n_peer_blockers"),
        (coalesce(col("n_corpus_blockers"), lit(0L)) === 0
          && coalesce(col("n_peer_blockers"), lit(0L)) === 0)
          .cast("int").as("admitted"))
  }

  /** Corpus snapshot diff (corpus versioning / release auditing):
    * compare two corpus versions by document id and content
    * fingerprint — `added` (id only in v2), `removed` (only in v1),
    * `changed` (both, fingerprints differ), `unchanged`. The audit a
    * pipeline runs before re-training on a refreshed crawl: what
    * actually moved, and how much re-tokenization the delta costs.
    *
    * Scale shape: each side collapses to (id, fingerprint) — 16
    * bytes/doc — before the single full-outer sort-merge join on the
    * id; text never shuffles. Fingerprints are the codegen'd rolling
    * hash, so the diff runs at scan speed per side.
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    def fp(df: DataFrame, out: String) = df.select(col(idCol).as("doc_id"),
      graft.functions.PolyHash(col(textCol)).as(out))
    fp(v1, "fp_old").join(fp(v2, "fp_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("fp_old"), col("fp_new"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  // ---------------------------------------------------------------
  // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
  // the embedding level — k-means partitions the space, near-dup
  // candidates are compared ONLY within their cluster, cosine-near
  // groups collapse to one representative. The published recipe for
  // web-scale corpora where global all-pairs is impossible and even
  // LSH misses the "same meaning, different words" duplicates that
  // embeddings catch.
  /** Scale shape: `k` bounds every pairwise stage — the self-join is
    * an equi-join on the cluster id (never a cross join), so cost is
    * Σ per-cluster m², tuned by `k` exactly as in the paper (their
    * k=11k for 134M docs); the component step reuses
    * [[nearDupClusters]] (byte-budgeted union-find below, star rounds
    * above). Output: every vector with its k-means cell, its semantic
    * group representative (min id; itself for singletons), and the
    * keep verdict.
    */
  def semDeDup(corpus: DataFrame, k: Int, iters: Int, threshold: Double,
      dim: Int = 64, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val assigned = Similarity.kMeansAssign(corpus, k, iters, dim = dim,
      vecCol = vecCol, idCol = idCol)
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.l2Norm(col("v")))
      .join(assigned, "vec_id")
    val a = v.select(col("cluster"), col("vec_id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("cluster"), col("vec_id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("ia") < col("ib"))
      .filter(Similarity.dot(col("va"), col("vb"))
        / (col("na") * col("nb")) >= threshold)
      .select("ia", "ib")
    val groups = nearDupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"))
    assigned.join(groups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("group_id"), col("vec_id")).as("rep_id"),
        (coalesce(col("group_id"), col("vec_id")) === col("vec_id"))
          .as("is_kept"))
  }

  // ---------------------------------------------------------------
  // Bloom-prefiltered incremental dedup — same EXACT semantics as
  // [[incrementalDedup]], different scale shape: the corpus side never
  // shuffles at all.
  /** Exact ingestion-time dedup where the existing corpus is reduced
    * to a Bloom filter (Spark's native `BloomFilterAggregate`: one
    * corpus scan, per-partition filters OR-merged map-side — the rows
    * themselves never shuffle) that prefilters the batch via the
    * codegen'd `BloomFilterMightContain` predicate. Bloom has no false
    * negatives, so a non-hit hash is provably new; the (true dups +
    * fpp·|batch|) suspect hashes are verified exactly with two
    * broadcast probes — corpus semi-joined against the SMALL suspect
    * hash set, then the batch anti-joined against the confirmed hits
    * (a tiny broadcast; bloom-clean rows pass it trivially) — so the
    * output is bit-identical to the plain anti-join.
    *
    * Driver state is the filter itself (`numBits/8` bytes, sized by
    * `expectedItems`/`fpp` — bounded and caller-chosen, the same class
    * of metadata as AQE stats or the k-means centroid literals). At
    * corpus sizes where one filter is impractical (≫10⁹ docs),
    * partition the corpus and OR the per-shard filters, or fall back
    * to [[incrementalDedup]]'s bucketed hash-set join.
    */
  def bloomIncrementalDedup(batch: DataFrame, existing: DataFrame,
      textCol: String, idCol: String,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val w = Window.partitionBy("content_hash").orderBy(idCol)
    val firsts = batch.withColumn("content_hash", md5(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val numBits = math.max(64L, math.ceil(
      -expectedItems.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // both sides key the filter on xxhash64(md5(text)) — the same
    // value the batch probes with below
    val bloomAgg = new BloomFilterAggregate(
      bridge.expression(xxhash64(md5(col(textCol)))),
      Literal(expectedItems), Literal(numBits))
    val bloomBytes = existing
      .agg(bridge.column(bloomAgg.toAggregateExpression()).as("bloom"))
      .head.getAs[Array[Byte]](0)
    if (bloomBytes == null) return firsts // empty corpus: everything is new
    // suspect set = DISTINCT batch hashes the filter flags — no window
    // needed here, and confirmedDups ⊆ suspects means one anti-join of
    // the windowed batch finishes the job (bloom-clean rows can't
    // match it), so the windowed subtree is evaluated once
    val suspectHashes = batch.select(md5(col(textCol)).as("content_hash"))
      .distinct()
      .filter(bridge.column(new BloomFilterMightContain(
        Literal(bloomBytes), bridge.expression(xxhash64(col("content_hash"))))))
    val confirmedDups = existing.select(md5(col(textCol)).as("content_hash"))
      .join(broadcast(suspectHashes), Seq("content_hash"), "left_semi")
      .distinct()
    firsts.join(broadcast(confirmedDups), Seq("content_hash"), "left_anti")
  }

  // ---------------------------------------------------------------
  // Span-level (chunk) dedup — the C4-style pass that removes REPEATED
  // SPANS across the corpus while keeping the documents themselves:
  // boilerplate paragraphs, license headers, navigation text. Each doc
  // is cut into consecutive `chunkWords`-word chunks; a chunk that
  // already occurred anywhere earlier in the corpus (first occurrence
  // = smallest (doc_id, position)) is dropped; the survivors are
  // reassembled in document order.
  /** Scale shape: one narrow chunking pass, one shuffle on the chunk
    * key (window partitioned BY CHUNK — never global), one shuffle on
    * doc_id to reassemble. Per-group state is bounded by the number of
    * occurrences of one chunk / chunks of one doc — no driver state,
    * no cross join. First-occurrence-wins is deterministic: the
    * (doc_id, chunk_idx) order key is unique.
    */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
      chunkWords: Int = 10): DataFrame = {
    // chunking is a native codegen'd expression (one tokenize pass per
    // row) — the equivalent transform(sequence…slice…) HOF chain runs
    // interpreted per chunk element (see WordShingles for the family)
    val docs = df.select(col(idCol).as("doc_id"),
      graft.functions.WordChunks(col(textCol), chunkWords).as("chunks"))
    val exploded = docs.select(col("doc_id"), posexplode(col("chunks")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "chunk")
    val firstWin = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    val kept = exploded
      .withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("kept_text"))
    docs.select(col("doc_id"), size(col("chunks")).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  // ---------------------------------------------------------------
  // Exact-substring duplicate marking (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better", the ExactSubstr
  // direction): unlike [[chunkDedup]]'s disjoint chunks, EVERY
  // overlapping spanTokens-token span is a unit, so a duplicated
  // passage is caught at any alignment, not only on chunk boundaries.
  // (The paper builds a suffix array; the distributed equivalent of
  // its "find repeated length-≥L substrings" query is exactly this
  // positional span relation grouped corpus-wide.)
  /** Per document: total spans, spans whose text occurs at ≥ 2
    * (doc, pos) locations corpus-wide, how many of those this doc owns
    * as the canonical first occurrence (min (doc_id, pos) — the copy a
    * keep-first policy retains), and the duplicated fraction.
    *
    * Scale shape: one narrow scan (native [[graft.functions.WordSpans]]
    * — codegen'd tokenize, no interpreted HOF), one shuffle on the span
    * text (the dedup key; both windows share the exchange), one doc-key
    * shuffle to re-aggregate. No global window, no driver state. The
    * span string rides the shuffle (~spanTokens words) — a production
    * run at 100 TB would key on a 128-bit hash instead; the gate keys
    * on the text itself so hash collisions cannot diverge from the
    * oracle's string equality.
    */
  def exactSubstringSpans(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"),
      graft.functions.WordSpans(col(textCol), spanTokens).as("spans"))
    val ex = docs.select(col("doc_id"), posexplode(col("spans")))
      .withColumnRenamed("col", "span")
    val cntW = Window.partitionBy("span")
    val firstW = Window.partitionBy("span").orderBy("doc_id", "pos")
    val marked = ex
      .withColumn("cnt", count(lit(1)).over(cntW))
      .withColumn("rn", row_number().over(firstW))
    val agg = marked.groupBy("doc_id").agg(
      count(lit(1)).cast("int").as("n_spans"),
      sum(when(col("cnt") > 1, 1).otherwise(0)).cast("int").as("n_dup_spans"),
      sum(when(col("cnt") > 1 && col("rn") === 1, 1).otherwise(0))
        .cast("int").as("n_dup_primary"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0)).as("n_dup_spans"),
        coalesce(col("n_dup_primary"), lit(0)).as("n_dup_primary"))
      .withColumn("frac_dup",
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans"))
          .otherwise(lit(0.0)))
  }

  // ---------------------------------------------------------------
  // Boilerplate removal — the RefinedWeb/C4 line-dedup variant that
  // removes EVERY occurrence of a span whose distinct-document
  // frequency exceeds a threshold (nav text, license headers, cookie
  // banners), where [[chunkDedup]] keeps the first. Documents survive;
  // only their boilerplate spans are cut.
  /** Scale shape: one narrow chunking pass (native `WordChunks`), one
    * `(chunk, doc)` distinct + partial-agg'd count for the document
    * frequency (group state is one counter per chunk — a hot
    * boilerplate chunk never materializes its occurrence list, unlike
    * a collect_set-over-window formulation), one semi-join back on the
    * chunk key, one doc-key shuffle to reassemble. No global window,
    * no driver state.
    */
  def boilerplateRemoval(df: DataFrame, textCol: String, idCol: String,
      chunkWords: Int = 10, maxDocFreq: Int = 2): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"),
      graft.functions.WordChunks(col(textCol), chunkWords).as("chunks"))
    val exploded = docs.select(col("doc_id"), posexplode(col("chunks")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "chunk")
    val rare = exploded.select("chunk", "doc_id").distinct()
      .groupBy("chunk").agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") <= maxDocFreq)
    val kept = exploded.join(rare, Seq("chunk"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("kept_text"))
    docs.select(col("doc_id"), size(col("chunks")).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Cross-source n-gram overlap matrix: for every source pair, the
    * number of distinct `shingleN`-gram shingles they share and the
    * Jaccard over their shingle SETS — the corpus-level "which feeds
    * duplicate each other" planning view (crawl snapshots vs curated
    * dumps, mirrors, re-hosted corpora) that decides WHERE to spend
    * dedup effort before any per-document pass runs.
    *
    * EVERY pair of sources with a non-empty shingle set gets a row —
    * pairs sharing zero shingles appear as (n_shared=0, jaccard=0.0)
    * via an outer join against the src×src grid, so consumers can
    * distinguish "no overlap" from "pair absent" (ADVICE r8). Sources
    * whose every document is shorter than `shingleN` tokens have no
    * shingle set at all and are excluded from the matrix entirely.
    *
    * Scale shape: documents reduce to DISTINCT (source, shingle) rows
    * first — one shuffle, and the per-shingle posting list is bounded
    * by |sources| (not |docs|), so the shingle-key self-join fans out
    * at most |sources|²/2 per shingle and the output is ≤ |sources|²
    * rows — metadata-scale however big the corpus. Nothing pairwise
    * at document granularity; the zero-fill grid is the broadcast
    * ≤|sources|-row size frame crossed with itself.
    */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, srcCol: String,
      shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(srcCol).as("src"),
        explode(shingles(col(textCol), shingleN)).as("g"))
      .distinct()
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.alias("a")
      .join(sh.alias("b"),
        col("a.g") === col("b.g") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    val grid = sizes.select(col("src").as("src_a"), col("n_sh").as("na"))
      .crossJoin(broadcast(
        sizes.select(col("src").as("src_b"), col("n_sh").as("nb"))))
      .filter(col("src_a") < col("src_b"))
    val shared = grid.join(pairs, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
    shared.select(col("src_a"), col("src_b"), col("n_shared"),
        col("na"), col("nb"),
        (col("n_shared").cast("double")
          / (col("na") + col("nb") - col("n_shared"))).as("jaccard"))
  }
}
