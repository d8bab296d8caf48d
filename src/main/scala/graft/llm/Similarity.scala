package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding columns (SURVEY.md §2.11):
  * brute-force cosine top-k as the correctness baseline, IVF
  * (centroid-probe) as the scale path. Vector math is pure higher-order
  * Column expressions — sequential left-fold sums, so results are
  * bit-reproducible across engines (the DuckDB oracle replays the same
  * fold).
  */
object Similarity {

  /** Sequential-fold dot product of two numeric array columns (exact,
    * order-fixed — reproducible bits) as a native codegen'd loop
    * (graft.functions.VectorDot).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorDot(a, b)

  /** Library-caller contract for EVERY localCheckpoint in this file
    * (pqCodes' normalized-corpus and codes frames, mmrRerank's
    * candidate table and accumulator, embedAnisotropy's moments grid —
    * the genuinely MULTI-READER frames; the Lloyd loops themselves are
    * checkpoint-free since r11, see kMeansFit): a localCheckpoint is
    * EAGER (a job runs at call time, not at the first action) and
    * NON-RELIABLE (blocks live in executor storage — losing an
    * executor, e.g. under dynamic allocation, loses the lineage and
    * fails downstream jobs; on clusters that need resilience, swap in
    * `spark.sparkContext.setCheckpointDir` + `df.checkpoint()`).
    * A lost block fails the operator loudly, never corrupts it.
    * mmrRerank frees each superseded checkpoint as soon as its
    * successor has materialized (ADVICE r10).
    */

  /** The checkpoint RDD backing a just-localCheckpoint'd frame (its
    * LogicalRDD leaf). Freeing THIS handle is safe under concurrent
    * use of the SparkContext — unlike a getPersistentRDDs set-diff
    * around the checkpoint call, which would swallow any RDD another
    * thread persisted in the window and truncate that victim's
    * lineage unrecoverably (ADVICE r11).
    */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** L2 norm, same fold. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, na: Column, b: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Shared brute-force scorer behind [[bruteForceTopK]] and
    * [[hardNegatives]]: broadcast query side × corpus under `pairCond`,
    * exact cosine, per-query top-`k` (ties by neighbor id). One body so
    * a tie-break/norm fix — or the documented swap to the ivf/lsh
    * candidate generator — can never update one caller and miss the
    * other (the rollingReachExact discipline).
    */
  private def bruteForcePairs(queries: DataFrame, corpus: DataFrame, k: Int,
      qExtra: Seq[(String, String)], cExtra: Seq[(String, String)],
      pairCond: Column): DataFrame = {
    val q = queries.select((("vec_id" -> "q_vec_id") +: ("embedding" -> "qv") +:
        qExtra).map { case (a, b) => col(a).as(b) }: _*)
      .withColumn("qn", l2Norm(col("qv")))
    val c = corpus.select((("vec_id" -> "n_vec_id") +: ("embedding" -> "cv") +:
        cExtra).map { case (a, b) => col(a).as(b) }: _*)
      .withColumn("cn", l2Norm(col("cv")))
    val w = Window.partitionBy("q_vec_id").orderBy(col("cos").desc, col("n_vec_id"))
    broadcast(q).join(c, pairCond)
      .select(col("q_vec_id") +: (qExtra.map(e => col(e._2)) ++
        Seq(col("n_vec_id")) ++ cExtra.map(e => col(e._2)) :+
        cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cos")): _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Brute-force cosine top-k: every query against the whole corpus.
    * Correctness baseline / oracle; O(|Q|·|C|) — only sane when the
    * query side is small (broadcast it) or at test scale.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    bruteForcePairs(queries, corpus, k, Nil, Nil,
      col("q_vec_id") =!= col("n_vec_id"))
      .select("q_vec_id", "rank", "n_vec_id", "cos")

  /** IVF-style ANN, the 100 TB path: partition the corpus into cells
    * (here: deterministic centroids = exact per-label means, standing
    * in for k-means since labels ship with the data), then probe only
    * the `nprobe` nearest cells per query. The corpus scan per query
    * drops from O(|C|) to O(nprobe·|C|/cells); the cell assignment is
    * one broadcast join + argmin, no shuffle of the corpus.
    *
    * Centroid means use exact decimal sums so assignments are
    * reproducible run-to-run regardless of partial-agg order.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val dim = 64
    // exact per-label centroid means
    val comps = (0 until dim).map { i =>
      (sum(element_at(col("embedding"), i + 1).cast(DecimalType(28, 10)))
        .cast("double") / count(lit(1))).as(s"c$i")
    }
    val centroids = corpus.groupBy(col("label").as("cell"))
      .agg(comps.head, comps.tail: _*)
      .select(col("cell"), array((0 until dim).map(i => col(s"c$i")): _*).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))

    // assign corpus rows to their own label cell (stand-in for argmin
    // assignment; with labels present this IS the partition)
    val assigned = corpus.select(col("vec_id").as("n_vec_id"),
      col("embedding").as("nv"), col("label").as("cell"))
      .withColumn("nn", l2Norm(col("nv")))

    // rank cells per query, keep nprobe nearest
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val cw = Window.partitionBy("q_vec_id").orderBy(col("ccos").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nprobe)
      .select("q_vec_id", "qv", "qn", "cell")

    // search only the probed cells
    val w = Window.partitionBy("q_vec_id").orderBy(col("cos").desc, col("n_vec_id"))
    broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("q_vec_id") =!= col("n_vec_id"))
      .select(col("q_vec_id"), col("n_vec_id"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_vec_id", "rank", "n_vec_id", "cos")
  }

  /** Random-hyperplane LSH ANN — the bucketed scale path that needs no
    * clustering structure in the data: vectors hash to a `bits`-bit
    * signature (sign of the dot product against `bits` fixed
    * pseudo-random hyperplanes); queries probe their own bucket plus
    * all Hamming-distance-1 buckets (multi-probe), then rank the
    * candidates by exact cosine. Cosine-similar vectors agree on each
    * bit with probability 1 - θ/π, so near neighbors share buckets
    * with high probability while the corpus scan per query drops to
    * the probed buckets' share (~ (bits+1)/2^bits of the corpus on
    * uniform data).
    *
    * Hyperplanes are splitmix64-derived constants — stable across
    * runs and executors, no fitting step.
    */
  /** `bits`-bit random-hyperplane signature of a vector column: bit h
    * is the sign of the dot product against a fixed splitmix64-derived
    * hyperplane — stable across runs and executors, no fitting step.
    * Shared by lshTopK (ANN) and Dedup.embeddingNearDupsLsh.
    */
  def hyperplaneSig(v: Column, bits: Int, dim: Int = 64): Column = {
    require(bits <= 20, "bucket space explodes past 2^20")
    def mix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // hyperplane components in [-1, 1)
    val planes: Seq[Seq[Double]] = (0 until bits).map { h =>
      (0 until dim).map(i => (mix(h.toLong * 1000003 + i) >>> 11).toDouble
        / (1L << 53).toDouble * 2.0 - 1.0)
    }
    planes.zipWithIndex.map { case (p, h) =>
      when(dot(v, typedLit(p)) >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 8, dim: Int = 64): DataFrame = {
    def bucketOf(v: Column): Column = hyperplaneSig(v, bits, dim)

    val c = corpus.select(col("vec_id").as("n_vec_id"), col("embedding").as("nv"))
      .withColumn("nn", l2Norm(col("nv")))
      .withColumn("bucket", bucketOf(col("nv")))
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .withColumn("qbucket", bucketOf(col("qv")))
      // multi-probe: own bucket + flip each bit once
      .withColumn("bucket", explode(array(
        (col("qbucket") +: (0 until bits).map(h =>
          expr(s"qbucket ^ ${1L << h}"))): _*)))
    val w = Window.partitionBy("q_vec_id").orderBy(col("cos").desc, col("n_vec_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("q_vec_id") =!= col("n_vec_id"))
      .select(col("q_vec_id"), col("n_vec_id"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
      .distinct() // a pair can meet in several probed buckets
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_vec_id", "rank", "n_vec_id", "cos")
  }

  /** Gate harness for approximate top-k (the `agg_approx_distinct`
    * verdict-column pattern): emit the EXACT top-k rows (hash-checkable
    * — the oracle reproduces them in SQL) plus one engine-computed
    * `recall_ok` verdict column the oracle pins to 1. The verdict is
    * the approximate operator's global recall against the exact
    * baseline ≥ `minRecall`; if the approximate path breaks (wrong
    * buckets, empty probe set, bad join), recall collapses and the
    * driver's hash gate fails.
    *
    * The windowed totals have no partition key, but the window input
    * is the top-k RESULT — k·|Q| rows by construction (200 at sf0.1),
    * metadata-scale regardless of corpus size — so the single-partition
    * window is bounded, unlike a corpus-scale global window. One pass;
    * neither input is recomputed.
    *
    * `minRecall` is calibrated per operator config on the uniform
    * testdata (measured: IVF nprobe=3/10 cells ⇒ 0.36–0.52 across
    * sf0.001–0.1; LSH bits=6 multi-probe ⇒ 0.26–0.30) and the engine
    * is bit-deterministic, so the verdict is stable. The HIGH-recall
    * guarantee on clustered data lives in LlmSpec; this gate pins the
    * operating point on unclustered data.
    */
  def topKWithRecallVerdict(exact: DataFrame, approx: DataFrame,
      minRecall: Double): DataFrame = {
    val hits = approx.select(col("q_vec_id"), col("n_vec_id"))
      .withColumn("hit", lit(1L))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    exact.join(hits, Seq("q_vec_id", "n_vec_id"), "left")
      .select(col("q_vec_id"), col("rank"), col("n_vec_id"), col("cos"),
        (sum(coalesce(col("hit"), lit(0L))).over(w) >=
          count(lit(1)).over(w) * minRecall).cast("int").as("recall_ok"))
  }

  /** Lloyd's k-means over an embedding column — the clustering step a
    * training pipeline uses for domain discovery, diversity sampling,
    * and (unlike [[ivfTopK]]'s label-mean stand-in) fitting REAL IVF
    * cells when no labels ship with the data. Returns (vec_id,
    * cluster).
    *
    * Deterministic by construction: init centroids are the embeddings
    * of the `k` smallest ids; per-dimension centroid means use exact
    * decimal sums (partial-agg order cannot drift them); argmin
    * tie-breaks to the lowest cluster index via (dist, j) struct
    * ordering. Two runs — any partitioning — give identical bits.
    *
    * Scale shape (the standard Spark Lloyd layout): centroids are k·dim
    * doubles folded into the assignment expression as literals (a
    * broadcast, compiled into codegen — the corpus is never shuffled to
    * assign); the update is posexplode → groupBy (cluster, pos) with
    * map-side partial aggregation — k·dim groups total — and only that
    * k·dim-row result ever reaches the driver. Per iteration: one scan
    * + one tiny shuffle. |x|² is dropped from the argmin (constant per
    * row): dist'_j = |c_j|² − 2·x·c_j.
    */
  def kMeansAssign(corpus: DataFrame, k: Int, iters: Int, dim: Int = 64,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    corpus.select(col(idCol).as("vec_id"),
      assignExpr(kMeansFit(corpus, k, iters, dim, vecCol, idCol),
        col(vecCol)).as("cluster"))

  /** Argmin-cluster expression for a fitted centroid set: the
    * centroids fold into the generated code as literals (a broadcast
    * compiled into the scan — the input is never shuffled to assign).
    * (dist, j) struct ordering tie-breaks to the lowest cluster index.
    */
  def assignExpr(cents: IndexedSeq[Array[Double]], v: Column): Column = {
    val entries = cents.zipWithIndex.map { case (c, j) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(v, typedLit(c.toSeq))).as("d"),
        lit(j).as("j"))
    }
    array_min(array(entries: _*)).getField("j")
  }

  /** Lloyd iterations only — returns the fitted centroids so callers
    * ([[kMeansAssign]], [[pqCodes]]) can embed the assignment in any
    * projection without a join.
    */
  def kMeansFit(corpus: DataFrame, k: Int, iters: Int, dim: Int = 64,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): IndexedSeq[Array[Double]] = {
    require(k >= 1 && iters >= 0)
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))

    var cents: IndexedSeq[Array[Double]] = v.orderBy("vec_id").limit(k)
      .select("v").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toIndexedSeq
    require(cents.nonEmpty, "k-means needs a non-empty corpus")

    for (_ <- 1 to iters) {
      // the assignment gets its OWN select below the posexplode select:
      // written in the SAME select as the generator, the analyzer
      // places the k-way assignExpr tree in the Project ABOVE the
      // Generate and re-evaluates it per POSITION row — dim× the
      // assignment work (the r10 disease: one iteration 17.5 s vs ~1 s
      // at 10× sf0.1-equivalent on the multi form, BASELINE r10). A
      // separate select STAYS below (CollapseProject does not merge
      // through Generate) — re-verified in r11 by plan inspection
      // (quantizeInt8) and timing (lazy iteration 2.45 s vs 2.72 s
      // checkpointed at 10×), so the loop needs NO materialization:
      // one fused scan→assign→explode→agg job per iteration, fully
      // lazy and lineage-flat (centroids are per-iteration literals —
      // nothing accumulates across iterations).
      val stats = v
        .select(assignExpr(cents, col("v")).as("cluster"), col("v"))
        .select(col("cluster"), posexplode(col("v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("col").cast(DecimalType(28, 10))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCluster = stats.groupBy(_.getInt(0))
      cents = cents.indices.map { j =>
        byCluster.get(j) match {
          case Some(rows) =>
            val arr = new Array[Double](dim)
            rows.foreach { r =>
              arr(r.getInt(1)) =
                r.getDecimal(2).doubleValue() / r.getLong(3)
            }
            arr
          case None => cents(j) // empty cluster keeps its centroid
        }
      }
    }
    cents
  }

  /** All `nSub` per-subspace Lloyd loops fused into ONE loop: each
    * iteration runs a single aggregation keyed by (subspace, cluster,
    * pos) instead of `nSub` sequential scans — same assignments, same
    * order-exact decimal sums, bit-identical centroids to calling
    * [[kMeansFit]] per slice, but `nSub`× fewer jobs and corpus scans
    * (at 100 TB the training scan dominates PQ codebook cost; there is
    * no reason to pay it once per subspace). Init matches the
    * per-slice form: the first k vectors by id, sliced on the driver.
    */
  def kMeansFitMulti(corpus: DataFrame, nSub: Int, k: Int, iters: Int,
      subDim: Int, vecCol: String = "embedding",
      idCol: String = "vec_id"): IndexedSeq[IndexedSeq[Array[Double]]] = {
    require(nSub >= 1 && k >= 1 && iters >= 0)
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val init = v.orderBy("vec_id").limit(k).select("v").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(init.nonEmpty, "k-means needs a non-empty corpus")
    var cents: IndexedSeq[IndexedSeq[Array[Double]]] = (0 until nSub).map(s =>
      init.map(full => full.slice(s * subDim, (s + 1) * subDim)).toIndexedSeq)
    for (_ <- 1 to iters) {
      val subRows = v
        .select(col("v"), explode(array((0 until nSub).map(lit(_)): _*)).as("s"))
        .withColumn("sub", slice(col("v"), col("s") * subDim + 1, lit(subDim)))
      val clusterCol = (0 until nSub).foldLeft(lit(-1)) { (acc, s) =>
        when(col("s") === s, assignExpr(cents(s), col("sub"))).otherwise(acc)
      }
      // same siting rule as kMeansFit: the nSub-way nested assignment
      // tree lives in its own select below the posexplode select, so
      // it evaluates once per (row, subspace) — never per POSITION row
      // (the measured 17.5 s of a 19 s pq_codes run when it sat in the
      // generator's select). Lazy on purpose; see kMeansFit.
      val stats = subRows
        .select(col("s"), clusterCol.as("cluster"), col("sub"))
        .select(col("s"), col("cluster"), posexplode(col("sub")))
        .groupBy("s", "cluster", "pos")
        .agg(sum(col("col").cast(DecimalType(28, 10))).as("sm"),
          count(lit(1)).as("n"))
        .collect()
      cents = (0 until nSub).map { s =>
        val byCluster = stats.filter(_.getInt(0) == s).groupBy(_.getInt(1))
        cents(s).indices.map { j =>
          byCluster.get(j) match {
            case Some(rows) =>
              val arr = new Array[Double](subDim)
              rows.foreach { r =>
                arr(r.getInt(2)) = r.getDecimal(3).doubleValue() / r.getLong(4)
              }
              arr
            case None => cents(s)(j)
          }
        }
      }
    }
    cents
  }

  /** Product quantization (Jégou et al., PAMI'11 — the vector-store
    * compression standard): split the `dim`-wide embedding into
    * `nSub` contiguous subspaces, k-means each subspace independently
    * ([[kMeansFit]] on the slice — deterministic for the same reasons),
    * and encode every vector as its per-subspace nearest-centroid
    * indices. `dim` doubles compress to `nSub` small ints (`pq_code`
    * packs them into one BIGINT for storage/grouping).
    *
    * Scale shape: ALL subspace fits run as one fused Lloyd loop
    * ([[kMeansFitMulti]] — one scan + one nSub·k·subDim-row shuffle
    * per iteration total); the final encoding is a SINGLE projection
    * with all `nSub` argmin expressions folded into codegen — no join
    * between subspaces, no shuffle, scan speed.
    */
  def pqCodes(corpus: DataFrame, nSub: Int, k: Int, iters: Int,
      dim: Int = 64, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(nSub >= 1 && dim % nSub == 0, "nSub must divide dim")
    val subDim = dim / nSub
    val fits = kMeansFitMulti(corpus, nSub, k, iters, subDim, vecCol, idCol)
    val codeCols = fits.zipWithIndex.map { case (cents, s) =>
      assignExpr(cents, slice(col(vecCol), s * subDim + 1, subDim))
        .as(s"c$s")
    }
    val packed = (0 until nSub).map(s => col(s"c$s").cast("long"))
      .reduce(_ * k + _)
    corpus.select(col(idCol).as("vec_id") +: codeCols: _*)
      .withColumn("pq_code", packed)
  }

  /** IVF-PQ with asymmetric-distance candidate scan and exact re-rank
    * (Jégou et al. PAMI'11 §IV — the FAISS `IVFx,PQy` layout, the
    * billion-vector retrieval standard). Three stages:
    *
    *  1. Coarse quantizer: per-label cells (the [[ivfTopK]] stand-in);
    *     queries probe their `nprobe` nearest cell centroids.
    *  2. ADC scan: corpus vectors are L2-normalized, PQ-encoded
    *     ([[kMeansFit]] per subspace), and the candidate scan reads
    *     ONLY `(cell, id, nSub codes)` — at 100 TB this is the whole
    *     point: 64 floats (256 B) shrink to `nSub` small ints, so the
    *     probed-cell scan is ~32× less IO and the uncompressed
    *     embeddings never shuffle. Each query carries its
    *     `nSub × codeK` table of sub-dot-products (built once per
    *     probe row, broadcast with it); the per-candidate score is
    *     `nSub` array lookups — no vector math on the scan.
    *  3. Exact re-rank: the top `k·rerank` ADC candidates (already
    *     only k·rerank·|Q| rows) join back to the full vectors for
    *     true cosine; top-k of that is emitted.
    *
    * Vectors are unit-normalized before encoding, so the ADC inner
    * product IS approximate cosine (the FAISS cosine recipe) and the
    * re-rank fixes quantization error inside the candidate set.
    * Deterministic: normalization/fit/assignment reuse the decimal-sum
    * k-means machinery; ADC scores are fixed-order double folds; all
    * ties break on ids.
    */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      nSub: Int, codeK: Int, iters: Int, rerank: Int, dim: Int = 64): DataFrame = {
    require(nSub >= 1 && dim % nSub == 0, "nSub must divide dim")
    val subDim = dim / nSub
    // unit-normalize (float — PQ quantizes anyway, and kMeansFit
    // reads float arrays); the norm is a named column so it is
    // computed once per row, not once per element inside the lambda;
    // zero vectors stay zero
    def unit(v: Column, n: Column): Column =
      transform(v, x => when(n === 0.0, lit(0.0f))
        .otherwise((x / n).cast("float")))
    // localCheckpoint: every subspace fit needs (init collect + one
    // stats aggregation per iteration) over the normalized corpus —
    // 2·nSub actions whose lineage would otherwise re-scan parquet and
    // re-normalize each time (the lineage cut TextAnalysis.nllRunningSum
    // makes before its BandedWindow actions; persist()
    // would break columnar codegen instead — see PLANS.md)
    val normed = corpus
      .withColumn("nn0", l2Norm(col("embedding")))
      .select(col("vec_id"), col("label"),
        unit(col("embedding"), col("nn0")).as("nv"))
      .localCheckpoint()
    // per-subspace PQ codebooks over the normalized corpus — all
    // subspaces trained in one fused Lloyd loop (one scan + one
    // driver round per iteration TOTAL, not per subspace)
    val fits = kMeansFitMulti(normed, nSub, codeK, iters, subDim, "nv", "vec_id")
    // compressed candidate table: the ONLY per-vector state ADC reads
    val codeCols = fits.zipWithIndex.map { case (cents, s) =>
      assignExpr(cents, slice(col("nv"), s * subDim + 1, subDim)).as(s"code$s")
    }
    // lineage cut so the scan really does read ONLY (cell, id, codes):
    // left lazy, the per-row assignExpr trees (nSub·codeK VectorDots
    // with literal codewords) collapse INTO the fused scan/window
    // stage downstream and get re-evaluated per JOIN-OUTPUT row —
    // measured at 10× sf0.1-equivalent (N=20k, 2.4M candidate rows):
    // 99 s for the scan stage vs 3.0 s with codes materialized
    // (docs/HISTORY.md, "Embedding/ANN family extension"). The cut is
    // N rows × nSub small ints — the compressed table IS the thing PQ
    // exists to materialize.
    val codes = normed.select(
      col("vec_id").as("n_vec_id") +: col("label").as("cell") +: codeCols: _*)
      .localCheckpoint()

    // coarse probe list (exact per-cell centroid means, as ivfTopK)
    val comps = (0 until dim).map { i =>
      (sum(element_at(col("embedding"), i + 1).cast(DecimalType(28, 10)))
        .cast("double") / count(lit(1))).as(s"c$i")
    }
    val centroids = corpus.groupBy(col("label").as("cell"))
      .agg(comps.head, comps.tail: _*)
      .select(col("cell"), array((0 until dim).map(i => col(s"c$i")): _*).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val q = queries.select(col("vec_id").as("q_vec_id"),
        col("embedding").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .withColumn("uqv", unit(col("qv"), col("qn")))
    val cw = Window.partitionBy("q_vec_id").orderBy(col("ccos").desc, col("cell"))
    // per-probe ADC tables: adc_s[j] = <q_sub_s, codeword_sj>
    val adcCols = (0 until nSub).map { s =>
      array((0 until codeK).map(j =>
        dot(slice(col("uqv"), s * subDim + 1, subDim),
          typedLit(fits(s)(j).toSeq))): _*).as(s"adc$s")
    }
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nprobe)
      .select(Seq(col("q_vec_id"), col("qv"), col("qn"), col("cell"))
        ++ adcCols: _*)

    // ADC candidate scan: nSub array lookups per (probe, code) row
    val approx = (0 until nSub)
      .map(s => element_at(col(s"adc$s"), col(s"code$s") + 1))
      .reduce(_ + _)
    val aw = Window.partitionBy("q_vec_id").orderBy(col("approx").desc, col("n_vec_id"))
    val cands = broadcast(probes).join(codes, Seq("cell"))
      .filter(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("approx", approx)
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= k * rerank)
      .select("q_vec_id", "qv", "qn", "n_vec_id")

    // exact re-rank of the k·rerank·|Q| candidate rows
    val full = corpus.select(col("vec_id").as("n_vec_id"),
      col("embedding").as("nv2"))
    val w = Window.partitionBy("q_vec_id").orderBy(col("cos").desc, col("n_vec_id"))
    broadcast(cands).join(full, "n_vec_id")
      .select(col("q_vec_id"), col("n_vec_id"),
        (dot(col("qv"), col("nv2"))
          / (col("qn") * l2Norm(col("nv2")))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_vec_id", "rank", "n_vec_id", "cos")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell–Goldstein
    * SIGIR'98) — the retrieval-stack diversity pass: greedily pick k
    * of the top-`nCand` candidates, each step maximizing
    * `λ·rel − (1−λ)·max_{j∈picked} sim(i, j)` (ties → lower id;
    * step 1 has no picked set, so its score is λ·rel).
    *
    * Shape: candidate generation is [[bruteForceTopK]] (swap in
    * ivf/lsh at 100 TB — the re-rank is agnostic); the greedy is k−1
    * UNROLLED dataframe steps, each an anti-join + picked-set join +
    * max-sim aggregate + per-query argmax window over |Q|·nCand rows —
    * everything partitioned by query, never corpus-scale, no
    * driver-side loop over data (the loop is over k, a constant).
    * Every arithmetic step is a fixed-order double formula (`max` is
    * order-independent), so the DuckDB oracle — generated with the
    * same unrolling — replays the picks bit-identically.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, nCand: Int, k: Int,
      lam: Double = 0.5): DataFrame = {
    val vecs = corpus.select(col("vec_id").as("n_vec_id"),
        col("embedding").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    // localCheckpoint: every greedy step references the candidate
    // table (anti-join) AND the cumulative picked set (twice) — without
    // a lineage cut each step re-runs the whole candidate-generation
    // chain, multiplying the brute-force scan k× (measured 4.6 s → the
    // checkpointed form below; the TextAnalysis.nllRunningSum cut)
    val cands = bruteForceTopK(queries, corpus, nCand)
      .join(vecs, "n_vec_id")
      .select(col("q_vec_id"), col("n_vec_id"), col("cos").as("rel"),
        col("cv"), col("cn"))
      .localCheckpoint()
    def argmax(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("q_vec_id")
        .orderBy(col("score").desc, col("n_vec_id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("q_vec_id", "n_vec_id", "score")
    }
    var all = argmax(cands.withColumn("score", lit(lam) * col("rel")))
      .withColumn("mmr_rank", lit(1))
    // same storage discipline as the Lloyd fits (ADVICE r10): each
    // iteration's checkpoint is freed once the next one — which read
    // it — has materialized; only `cands` and the final `all` survive.
    // The freed storage is the superseded frame's OWN checkpoint RDD
    // (its LogicalRDD leaf), never a context-global persistent-RDD
    // set-diff — a diff window would swallow any RDD a concurrent
    // query persisted and truncate that victim's lineage (ADVICE r11).
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    for (t <- 2 to k) {
      val pickedV = all.select(col("q_vec_id"), col("n_vec_id").as("p_id"))
        .join(vecs.select(col("n_vec_id").as("p_id"), col("cv").as("pv"),
          col("cn").as("pn")), "p_id")
      val rem = cands.join(all.select("q_vec_id", "n_vec_id"),
        Seq("q_vec_id", "n_vec_id"), "left_anti")
      val ms = rem.join(pickedV, "q_vec_id")
        .groupBy(col("q_vec_id"), col("n_vec_id"))
        .agg(first(col("rel")).as("rel"),
          max(dot(col("cv"), col("pv")) / (col("cn") * col("pn"))).as("maxsim"))
      val nxt = argmax(ms.withColumn("score",
          lit(lam) * col("rel") - lit(1.0 - lam) * col("maxsim")))
        .withColumn("mmr_rank", lit(t))
      // |Q|·t rows — checkpointing keeps step t+1 from re-running
      // steps 1..t (each step reads `all` twice)
      all = all.union(nxt).localCheckpoint()
      prevRdd.foreach(_.unpersist(blocking = false))
      prevRdd = checkpointRdd(all)
    }
    all.select("q_vec_id", "mmr_rank", "n_vec_id", "score")
  }

  /** Deterministic ±1 sign matrix for [[signedRandomProjection]]:
    * row j is output dimension j's sign vector over the input dims.
    * `java.util.Random`'s LCG is spec-pinned (Javadoc defines the
    * exact recurrence), so the matrix is reproducible everywhere —
    * the oracle SQL is generated from these same arrays.
    */
  def projectionSigns(outDim: Int, dim: Int,
      seed: Long = 42L): IndexedSeq[Array[Double]] = {
    val rng = new java.util.Random(seed)
    IndexedSeq.fill(outDim)(Array.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  /** Johnson–Lindenstrauss signed random projection (Achlioptas '03:
    * ±1 entries preserve pairwise distances as well as Gaussian ones):
    * project the `dim`-wide embedding to `outDim` dims with a
    * deterministic ±1 matrix — the cheap-prefilter compression for
    * clustering/dedup/ANN candidate generation. Each output dim is one
    * [[dot]] against a literal sign vector, so the whole projection is
    * a single narrow codegen'd scan: no shuffle, no join, and the
    * embedding column is read once. The conventional 1/√outDim scale
    * is omitted — it cancels in cosine and rank comparisons, and
    * omitting it keeps the gate bit-exact with one fewer rounding.
    *
    * Output exploded to (vec_id, j, proj) for the gate's row-compare;
    * production keeps the array form (same expressions, no explode).
    */
  def signedRandomProjection(corpus: DataFrame, outDim: Int, dim: Int = 64,
      seed: Long = 42L, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val signs = projectionSigns(outDim, dim, seed)
    val projCols = (0 until outDim).map(j =>
      dot(col(vecCol), typedLit(signs(j).toSeq)))
    corpus.select(col(idCol).as("vec_id"),
        posexplode(array(projCols: _*)))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("proj"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * vector-store compression step (4× smaller than float32; serve
    * recall with int8, rerank survivors with the float originals).
    * Per vector: scale = max|x|; q_i = trunc(x_i / scale · 127) ∈
    * [−127, 127]; zero vectors quantize to zeros. Truncation (not
    * round-half) because both engines truncate identically on
    * double→int, so the gate stays bit-exact.
    *
    * Output is exploded (vec_id, pos, scale, q) for the gate's
    * row-compare; a production pipeline would keep
    * `transform(v, …)` array form — same expression, no explode.
    * Scale shape: pure narrow projection + generate, no shuffle.
    */
  def quantizeInt8(corpus: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x))).cast("double")
    // scale is computed in its OWN select below the explode: written in
    // the same select as posexplode, the analyzer places the O(dim)
    // array_max fold in the Project ABOVE the Generate and re-evaluates
    // it per POSITION row — O(dim²) per vector (the kMeansFit disease,
    // caught by SitingAuditSpec's above-generate check).
    corpus.select(col(idCol).as("vec_id"), scale.as("scale"),
        col(vecCol).as("v"))
      .select(col("vec_id"), col("scale"), posexplode(col("v")))
      .select(col("vec_id"), col("pos"), col("scale"),
        when(col("scale") === 0d, 0)
          .otherwise((col("col").cast("double") / col("scale") * 127.0)
            .cast("int")).as("q"))
  }

  /** Cluster-stratified diversity sampling: k-means the corpus, keep
    * the `perCluster` lowest-id members of each cluster — the
    * standard "cover the embedding space" subset selection for
    * eval-set construction and data pruning. Deterministic end to end
    * (see [[kMeansAssign]]); adds one shuffle on the cluster key for
    * the per-cluster window (k partitions of ~n/k rows — never
    * global).
    */
  def diversitySample(corpus: DataFrame, k: Int, iters: Int,
      perCluster: Int, dim: Int = 64, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val w = Window.partitionBy("cluster").orderBy("vec_id")
    kMeansAssign(corpus, k, iters, dim, vecCol, idCol)
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= perCluster)
      .select("vec_id", "cluster", "pick_rank")
  }

  /** Group-wise embedding centroids (class prototypes /
    * nearest-class-mean features / per-domain embedding drift stats):
    * the mean vector per label, computed fully distributed —
    * posexplode to (label, dim-position, value), ONE aggregation on
    * the (label, pos) key (map-side combined; |labels|·dim keys, tiny
    * vs the corpus), then each centroid re-assembles in-row via a
    * merge-order-exact `sort_array(collect_list(struct))`. No driver
    * collect anywhere — unlike [[kMeansFit]]'s Lloyd loop this is a
    * single declarative aggregation, the right shape when the label
    * set is data (not a k the driver owns).
    *
    * Determinism contract (same as agg_corr's decimal moments): float
    * addition is order-sensitive, so each float element is first
    * floor-quantized to integer micro units (`floor(x·1e6)` — exact,
    * float→double widening is lossless) and the per-key sum runs on
    * BIGINTs — merge-order-independent and replayable bit-for-bit by
    * the oracle. Output mean stays in micro units.
    */
  /** Per-group embedding outlier detection (curation's "drop the
    * mislabeled / noise tail" pass, the prototypicality complement of
    * SemDeDup): each vector's squared distance to its own group's
    * centroid is compared against the group's mean squared distance;
    * `is_outlier` flags vectors beyond `factorPct`% of the mean
    * (200 = 2× the mean — the conventional loose fence).
    *
    * Integer-exact end to end: vectors are floored to micro-units,
    * centroids are [[groupCentroids]]' micro-unit means, d² is a
    * 64-dim integer fold (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴, well under 2⁶³),
    * and the fence is the integer comparison
    * `d² > (factorPct·(Σd² div n)) div 100` — no doubles anywhere, so
    * any engine replays every verdict bit-identically, and every
    * intermediate is bounded by dims·(2·10⁶)²·factorPct ≪ 2⁶³
    * regardless of group size (the mean is floored BEFORE the
    * factor multiply, so corpus growth cannot overflow the fence).
    *
    * Scale shape: centroid table is ≤|groups| rows (broadcast back);
    * two corpus scans (centroid sums, then d²) + one ≤|groups|-row
    * stats aggregate. Never pairwise, never collected.
    */
  def centroidOutliers(df: DataFrame, vecCol: String, idCol: String,
      labelCol: String, factorPct: Int = 200): DataFrame = {
    val cents = groupCentroids(df, vecCol, labelCol)
      .select(col("label"), col("centroid_micro"))
    val d2 = df.select(col(idCol), col(labelCol).as("label"),
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
          .as("xm"))
      .join(broadcast(cents), "label")
      .select(col(idCol), col("label"),
        expr("aggregate(zip_with(xm, centroid_micro, (a, b) -> (a - b) * (a - b))," +
          " CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d2"))
    val stats = d2.groupBy("label")
      .agg(sum("d2").as("sum_d2"), count(lit(1)).as("n"))
    d2.join(broadcast(stats), "label")
      .select(col(idCol), col("label"), col("d2"),
        expr("sum_d2 div n").as("mean_d2"),
        expr(s"d2 > (CAST($factorPct AS BIGINT) * (sum_d2 div n)) div 100")
          .as("is_outlier"))
  }

  def groupCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .groupBy("label", "pos")
      .agg(sum(floor(col("col").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("mean_micro", expr("s div n"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, mean_micro)))," +
        " x -> x.mean_micro)").as("centroid_micro"),
        // n is identical across a label's positions (fixed-dim,
        // null-free vectors) — max is the deterministic pick
        max(col("n")).as("n_vectors"))

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-`k` most-similar corpus vectors carrying a DIFFERENT label —
    * the negatives a contrastive batch builder pairs with each anchor
    * (random negatives stop teaching once classes separate; the
    * near-boundary ones are the training signal). Brute-force exact
    * here (the anchor set is the broadcast side); at 100 TB the
    * candidate generation swaps to the ann_ivf/ann_lsh probe path
    * unchanged — the label filter and per-anchor top-k window are
    * identical downstream of either generator.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    bruteForcePairs(queries, corpus, k,
      qExtra = Seq("label" -> "q_label"), cExtra = Seq("label" -> "n_label"),
      pairCond = col("q_label") =!= col("n_label"))
      .select("q_vec_id", "q_label", "rank", "n_vec_id", "n_label", "cos")

  /** Int8 scalar quantization of an embedding column — the cheap end
    * of the compression ladder beside PQ (ivfpqTopK): per-dimension
    * affine code = ⌊(x − min_d)/(max_d − min_d)·256⌋ clamped to 255,
    * 1 byte/dim (a 4× shrink over float32) with per-dim resolution
    * (max−min)/256. Constant dims (max = min) code to 0.
    *
    * Scale shape: pass 1 reduces the corpus to `dim` (min, max) rows
    * — a partial+final aggregate whose result is AQE-stats-scale
    * metadata, collected and folded into pass 2 as LITERALS, so the
    * quantize itself is one row-local array transform at scan speed
    * (codes stay array-packed: the production layout is dim bytes per
    * vector, not an exploded row per dimension).
    *
    * Determinism: subtraction, division, ×256 and floor in one fixed
    * order — IEEE-exact in any engine that mirrors the expression
    * (the oracle does).
    */
  def scalarQuantize8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val stats = emb
      .select(posexplode(col(vecCol))).toDF("dim", "x")
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("dim").collect() // ≤ dim rows — bounded metadata
    val mnA = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxA = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    emb.select(col(idCol).as("vec_id"),
      transform(col(vecCol), (x, i) => {
        val mn = element_at(mnA, i + 1)
        val mx = element_at(mxA, i + 1)
        when(mx === mn, lit(0))
          .otherwise(least(
            floor((x.cast("double") - mn) / (mx - mn) * 256.0), lit(255.0))
            .cast("int"))
      }).as("codes"))
  }

  /** Deterministic pseudo-classifier weights for [[calibrationBins]]:
    * w_d = (((d·2654435761) mod 1000003) mod 2001 − 1000) / 1000 —
    * integer ops then one division, so any engine reproduces the
    * exact double bits from the same formula (the classifier_score
    * hash-logit discipline, lifted to a dense weight vector).
    */
  def calibrationWeights(dim: Int): Seq[Double] =
    (0 until dim).map(d => (((d * 2654435761L) % 1000003L) % 2001L - 1000L) / 1000.0)

  /** Quality-classifier calibration audit (expected-calibration-error
    * bins, Guo et al. ICML 2017): score every vector with a fixed
    * linear probe, map the score to [0,1], bin into `bins` equal-width
    * probability bins, and per bin report count, mean predicted
    * probability, empirical positive fraction and their gap — the
    * reliability-diagram table a data-quality pipeline uses to decide
    * whether a filter model's scores can be thresholded as
    * probabilities. `ece_contrib_micro` sums to corpus ECE × N × 10⁶.
    *
    * Determinism: the dot is the VectorDot sequential fold (oracle
    * replays it bit-for-bit); the affine map and ×10⁶ floor quantize
    * happen in one fixed IEEE order; every aggregate after that is
    * BIGINT (integer division for the two means — exact in both
    * engines).
    *
    * Scale shape: scoring is row-local scan work against a broadcast
    * literal weight vector; the only shuffle is the `bins`-key
    * aggregation with map-side combine and the output is `bins` rows —
    * metadata scale at any corpus size.
    */
  def calibrationBins(emb: DataFrame, vecCol: String, labelCol: String,
      weights: Seq[Double], posMin: Int, bins: Int = 10,
      shift: Double = 2.0, scale: Double = 4.0): DataFrame = {
    // bins must divide the 10⁶ micro grid: width = 10⁶/bins truncates,
    // and for a non-divisor (3, 7, …) the residual mass would pile
    // into the clamped last bin — the bins would not be equal-width
    require(bins >= 1 && 1000000L % bins == 0,
      s"calibrationBins: bins must divide 10^6 for equal-width bins, got $bins")
    val w = array(weights.map(lit): _*)
    val pred = least(greatest(
      (dot(col(vecCol), w) + lit(shift)) / lit(scale), lit(0.0)), lit(1.0))
    val width = 1000000L / bins
    val scored = emb.select(
      floor(pred * lit(1000000.0)).cast("long").as("pred_micro"),
      (col(labelCol) >= posMin).cast("long").as("pos"))
    scored
      .select(least(expr(s"pred_micro div ${width}L"), lit(bins - 1L)).as("bin"),
        col("pred_micro"), col("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum("pred_micro").as("sum_pred_micro"),
        sum("pos").as("n_pos"))
      .select(col("bin"), col("n"),
        expr("sum_pred_micro div n").as("mean_pred_micro"),
        expr("(1000000 * n_pos) div n").as("frac_pos_micro"),
        abs(expr("sum_pred_micro div n - (1000000 * n_pos) div n"))
          .as("gap_micro"))
      .withColumn("ece_contrib_micro", col("gap_micro") * col("n"))
  }

  /** Per-rank nDCG discount in micro units — floor(10⁶ / log₂(r+1))
    * for r = 1..k. Computed ONCE Scala-side and rendered as literals
    * into BOTH the engine plan and the oracle SQL (the
    * calibrationWeights shared-constant rule), so no cross-engine
    * transcendental-function agreement is ever needed.
    */
  def ndcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1000000.0 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Prefix sums of [[ndcgDiscountsMicro]] — the IDCG table (index m
    * = best possible DCG with m relevant docs). ONE derivation shared
    * by the engine plan and the oracle-SQL renderer, so the two IDCG
    * tables can never drift apart. */
  def ndcgPrefixMicro(k: Int): Seq[Long] =
    ndcgDiscountsMicro(k).scanLeft(0L)(_ + _).tail

  /** Ranked-retrieval evaluation metrics (nDCG@k, MRR, recall@k) for
    * an embedding index: every `qMod`-th vector becomes a query, the
    * retrieval under test is exact cosine top-k, and relevance is
    * label agreement (the standard proxy-label protocol for judging a
    * retrieval stack before trusting it to mine training pairs).
    * Emits one row per query with integer-micro metrics.
    *
    * Determinism: ranking reuses [[bruteForceTopK]]'s fold-exact
    * cosine with the (cos desc, id asc) total order; everything after
    * the rank is BIGINT — DCG sums literal per-rank discounts
    * ([[ndcgDiscountsMicro]]), IDCG indexes their prefix sums at
    * min(n_rel, k), MRR/recall are integer divisions.
    *
    * Scale shape: the gate baseline is the broadcast-query × corpus
    * brute-force scorer (the ann_topk_exact shape — swap in the
    * ivf/lsh candidate generator at scale, metrics unchanged); the
    * metric arithmetic itself runs on |Q|·k rows, and the per-label
    * totals ride a broadcast ≤|labels|-row frame.
    */
  def retrievalMetrics(emb: DataFrame, qMod: Int, k: Int): DataFrame = {
    val discCol = array(ndcgDiscountsMicro(k).map(lit): _*)
    val prefCol = array(ndcgPrefixMicro(k).map(lit): _*)
    val topk = bruteForcePairs(
      emb.filter(pmod(col("vec_id"), lit(qMod.toLong)) === 0), emb, k,
      Seq("label" -> "q_label"), Seq("label" -> "n_label"),
      col("q_vec_id") =!= col("n_vec_id"))
    val per = topk
      .withColumn("rel", (col("n_label") === col("q_label")).cast("long"))
      .groupBy("q_vec_id", "q_label")
      .agg(
        sum(when(col("rel") === 1, element_at(discCol, col("rank")))
          .otherwise(lit(0L))).as("dcg_micro"),
        min(when(col("rel") === 1, col("rank"))).as("frr"),
        sum(col("rel")).as("hits"))
    val labCnt = emb.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("nl"))
    per.join(broadcast(labCnt), Seq("q_label"))
      .withColumn("n_rel", col("nl") - 1)
      .withColumn("idcg_micro", when(col("n_rel") <= 0, lit(0L))
        .otherwise(element_at(prefCol,
          least(col("n_rel"), lit(k.toLong)).cast("int"))))
      .select(col("q_vec_id"), col("n_rel"), col("hits"),
        col("dcg_micro"), col("idcg_micro"),
        when(col("idcg_micro") === 0, lit(0L))
          .otherwise(expr("(1000000 * dcg_micro) div idcg_micro"))
          .as("ndcg_micro"),
        when(col("frr").isNull, lit(0L))
          .otherwise(expr("1000000 div frr")).as("mrr_micro"),
        when(col("n_rel") <= 0, lit(0L))
          .otherwise(expr("(1000000 * hits) div n_rel")).as("recall_micro"))
  }

  /** Embedding-space anisotropy / effective-dimension audit: per label
    * group, the participation ratio tr(C)²/tr(C²) of the covariance
    * matrix — d when variance spreads evenly over all d directions, 1
    * when the space has collapsed onto one (the anisotropy pathology
    * of Ethayarajh EMNLP 2019 / Gao et al. ICLR 2019 that silently
    * breaks cosine-based dedup and ANN recall). The pipeline health
    * check to run BEFORE trusting semdedup/dedup_embedding thresholds.
    *
    * Determinism: elements are ×10⁶ floor-quantized to BIGINT first,
    * so every moment is an exact integer sum (DECIMAL(38,0) — the
    * dsum discipline); the covariance numerator n·S_ij − S_i·S_j stays
    * exact, is truncation-divided by n²·10⁶ via sign·(|x| div d)
    * (floor-vs-trunc portable), and trace/Frobenius are then plain
    * BIGINT sums. One double division at the very end.
    *
    * Scale shape: the corpus reduces in ONE pass to d(d+1)/2 + d
    * moment rows per label (posexplode of the native OuterMoments
    * upper-triangle vector with map-side combine — partial state is
    * ~(d²/2)·|labels| hash-agg entries per task, d=64 → ~2.1 K keys);
    * everything after runs on metadata-scale frames over broadcast
    * joins. Output is |labels| rows. This single-level form is
    * correct at ANY d; `subspaceWidth = Some(w)` swaps in the
    * TWO-LEVEL subspace reduce — the same upper triangle tiled into
    * d/w diagonal [[graft.functions.OuterMoments]] triangles plus the
    * cross-subspace [[graft.functions.CrossMoments]] rectangles, one
    * bounded-state aggregation per block unioned into a bit-identical
    * moments frame (per-block idx remaps to the global triangle
    * layout AFTER aggregation, on metadata-scale rows), so everything
    * downstream and the oracle are unchanged. The swap pays only once
    * d²·|labels| partial-agg keys outgrow the executor hash-agg
    * budget — the measurement is in PLANS.md;
    * at d=64 (SchemaPinSpec) the single level is scan-bound.
    *
    * Null contract: a null vector or null component fails the job
    * loudly (never silently excluded — a dropped row would diverge
    * from the oracle's count without signal); the embeddings table
    * pins non-null vectors.
    */
  def embedAnisotropy(emb: DataFrame, vecCol: String, labelCol: String,
      dim: Int = 64, subspaceWidth: Option[Int] = None): DataFrame = {
    // ONE corpus pass: each row contributes the UPPER TRIANGLE of its
    // outer product PLUS its d raw quantized components through a
    // single posexplode of the native OuterMoments vector (the
    // interpreted nested-transform equivalent measured 5.7 s at
    // sf0.1 — d² lambda calls per row; the lower triangle is
    // bit-redundant by symmetry, so it is never emitted); the
    // (label, idx)-key aggregation with map-side combine reduces
    // everything to (d(d+1)/2+d)·|labels| metadata rows,
    // localCheckpoint'd so the three readers below never re-run the
    // scan (Catalyst does not CSE shared subtrees). The long qi·qj
    // products bound the value domain to |x| ≲ 3·10³ (q·q < 2⁶³) —
    // far above any normalized embedding — and past it BOTH engines
    // fail loudly (multiplyExact here, BIGINT overflow in the
    // oracle).
    val tri = dim * (dim + 1) / 2
    // a null VECTOR fails loudly here; a null COMPONENT fails inside
    // the expression — a silently dropped row would desync n from the
    // oracle's count(*)
    val guarded = when(col(vecCol).isNotNull, col(vecCol))
      .otherwise(raise_error(lit("embedAnisotropy: null embedding vector")))
    def reduceBlock(exploded: DataFrame): DataFrame = exploded
      .toDF("label", "bidx", "v")
      .groupBy("label", "bidx")
      .agg(sum(col("v").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("cnt"))
    val moments = (subspaceWidth match {
      case None =>
        reduceBlock(emb.select(col(labelCol).cast("long").as("label"),
            posexplode(graft.functions.OuterMoments(guarded))))
          .withColumnRenamed("bidx", "idx")
      case Some(w) =>
        // two-level: per-block bounded-state reductions, block-local
        // idx remapped to the global triangle layout AFTER the
        // aggregation (metadata-scale broadcast joins), unioned —
        // bit-identical to the single level (decimal sums are
        // order-independent; the blocks tile the triangle + raw tail
        // exactly once)
        require(w >= 1 && dim % w == 0,
          s"subspaceWidth $w must divide dim=$dim")
        val nSub = dim / w
        def gIdx(i: Int, j: Int): Int = i * dim - i * (i - 1) / 2 + (j - i)
        val session = emb.sparkSession
        import session.implicits._
        def remap(pairs: Seq[Int]): DataFrame = broadcast(
          pairs.zipWithIndex.map { case (g, l) => (l, g) }.toDF("bidx", "idx"))
        val labeled = emb.select(col(labelCol).cast("long").as("label"),
          guarded.as("gv"))
        val diag = (0 until nSub).map { b =>
          val map = remap((for { a <- 0 until w; c <- a until w } yield
              gIdx(b * w + a, b * w + c)) ++
            (0 until w).map(a => tri + b * w + a))
          reduceBlock(labeled.select(col("label"), posexplode(
              graft.functions.OuterMoments(slice(col("gv"), b * w + 1, w)))))
            .join(map, Seq("bidx"))
            .select("label", "idx", "s", "cnt")
        }
        val cross = for { bi <- 0 until nSub; bj <- (bi + 1) until nSub } yield {
          val map = remap(for { a <- 0 until w; c <- 0 until w } yield
            gIdx(bi * w + a, bj * w + c))
          reduceBlock(labeled.select(col("label"), posexplode(
              graft.functions.CrossMoments(slice(col("gv"), bi * w + 1, w),
                slice(col("gv"), bj * w + 1, w)))))
            .join(map, Seq("bidx"))
            .select("label", "idx", "s", "cnt")
        }
        (diag ++ cross).reduce(_ unionByName _)
    }).localCheckpoint()
    val cnt = moments.filter(col("idx") === tri)
      .select(col("label"), col("cnt").as("n"))
    val m1 = moments.filter(col("idx") >= tri)
      .select(col("label"), (col("idx") - tri).cast("long").as("i"),
        col("s").as("s1"))
    // upper-triangle position → (i, j): a dim²-bounded literal decode
    // table (exact by construction, broadcast)
    val session = emb.sparkSession
    import session.implicits._
    val decode = (for { i <- 0 until dim; j <- i until dim } yield (i, j))
      .zipWithIndex
      .map { case ((i, j), p) => (p, i.toLong, j.toLong) }
      .toDF("idx", "i", "j")
    val m2 = moments.filter(col("idx") < tri)
      .join(broadcast(decode), Seq("idx"))
      .select(col("label"), col("i"), col("j"), col("s").as("s2"))
    val cov = m2
      .join(broadcast(cnt), Seq("label"))
      .join(broadcast(m1.select(col("label"), col("i").cast("long").as("i"),
        col("s1").as("s1_i"))), Seq("label", "i"))
      .join(broadcast(m1.select(col("label"), col("i").cast("long").as("j"),
        col("s1").as("s1_j"))), Seq("label", "j"))
      .select(col("label"), col("i"), col("j"), col("n"),
        (col("n").cast("decimal(38,0)") * col("s2")
          - col("s1_i") * col("s1_j")).as("cov_num"))
    val sc = cov.select(col("label"), col("i"), col("j"), col("n"),
      (when(col("cov_num") < 0, lit(-1L)).otherwise(lit(1L)) *
        expr("abs(cov_num) div (CAST(n AS DECIMAL(38,0)) * n * 1000000)"))
        .as("cs"))
    sc.groupBy("label")
      .agg(max("n").as("n"),
        sum(when(col("i") === col("j"), col("cs")).otherwise(lit(0L)))
          .as("tr_cov_micro"),
        // factor-cast BEFORE the square (these frames are
        // metadata-scale, so decimal cost is irrelevant); off-diagonal
        // terms count twice — the lower triangle was never emitted but
        // its cs values are bit-equal by symmetry; the final long
        // output is bounded by the documented value domain
        sum(col("cs").cast("decimal(38,0)") * col("cs")
          * when(col("i") === col("j"), lit(1)).otherwise(lit(2)))
          .as("fro_dec"))
      // guarded decimal→long: past the documented |x| ≲ 3·10³ domain
      // the sum exceeds BIGINT, and a bare cast in a NON-ANSI session
      // returns null silently while the oracle's HUGEINT→BIGINT cast
      // fails loudly — guard so both engines fail loudly regardless of
      // the session's ANSI setting (the multiplyExact discipline)
      // null-first: far enough past the domain the DECIMAL(38,0) sum
      // itself overflows and a non-ANSI session yields NULL — which
      // would sail through the magnitude check below and silently
      // null fro_cov (ADVICE r10). Decimal overflow must fail loudly
      // too.
      .select(col("label"), col("n"), col("tr_cov_micro"),
        when(col("fro_dec").isNull,
          raise_error(lit("embedAnisotropy: fro_cov decimal overflow — " +
            "input outside the documented value domain")))
          .when(abs(col("fro_dec")) > lit(Long.MaxValue).cast("decimal(38,0)"),
            raise_error(lit("embedAnisotropy: fro_cov exceeds BIGINT — " +
              "input outside the documented value domain")))
          .otherwise(col("fro_dec").cast("long")).as("fro_cov"))
      .select(col("label"), col("n"), col("tr_cov_micro"), col("fro_cov"),
        when(col("fro_cov") === 0, lit(0L))
          .otherwise(floor(
            col("tr_cov_micro").cast("double")
              * col("tr_cov_micro").cast("double")
              / col("fro_cov").cast("double") * lit(1000000.0))
            .cast("long"))
          .as("pr_micro"))
  }
}
