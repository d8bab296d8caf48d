package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** Scale-curve timings for the embedding/ANN family — the companion
  * to [[ScaleDrivers]] for the similarity ladder: times each LIBRARY
  * function (not the correctness gate, which deliberately bundles a
  * brute-force recall baseline) against a [[ScaleGen]] embeddings
  * slice, min-of-`SPARK_GRAFT_BENCH_REPS` reps through the noop sink.
  *
  * Documented cost models being checked (gate params, uniform data):
  *  - brute top-k:        Q·N cosine pairs (Q = N/50 ⇒ N²/50)
  *  - ivf top-k:          brute ÷ (cells/nprobe) — fixed 10/3 here
  *  - lsh top-k:          Q·(1+bits)·E[bucket] ≈ brute·(1+bits)/2^bits
  *  - ivfpq top-k:        ivf probe set at PQ-code width + k-means fit
  *  - exact near-dup:     N²/2 pairs via triangle blocking (honest n²)
  *  - lsh near-dup:       bucket-occupancy bound ≈ N²(1+bits)/2^(bits+1)
  *  - semdedup:           per-cell pair join ≈ N²/(2k) + fit cost
  *
  * Usage: ScaleAnn <dir> [op1,op2,...] — prints one JSON line.
  */
object ScaleAnn {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.load(spark, dir, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0) // the gates' query set

    val ops: Seq[(String, () => DataFrame)] = Seq(
      "ann_brute" -> (() => Similarity.bruteForceTopK(qs, emb, k = 5)),
      "ann_ivf" -> (() => Similarity.ivfTopK(qs, emb, k = 5, nprobe = 3)),
      "ann_lsh" -> (() => Similarity.lshTopK(qs, emb, k = 5, bits = 6)),
      "ann_ivfpq" -> (() => Similarity.ivfpqTopK(qs, emb, k = 5, nprobe = 3,
        nSub = 4, codeK = 8, iters = 1, rerank = 32)),
      // diagnostic split of ivfpq: codebook fit + encode only (no
      // probe/ADC/rerank) — isolates which half carries the growth
      "pq_codes" -> (() => Similarity.pqCodes(emb, nSub = 4, k = 8,
        iters = 1)),
      // init-only fit (no Lloyd iteration): isolates the iteration cost
      "pq_codes0" -> (() => Similarity.pqCodes(emb, nSub = 4, k = 8,
        iters = 0)),
      "embed_neardup_exact" -> (() =>
        Dedup.embeddingNearDups(emb, "embedding", "vec_id", threshold = 0.4)),
      "embed_neardup_lsh" -> (() =>
        Dedup.embeddingNearDupsLsh(emb, "embedding", "vec_id", threshold = 0.4)),
      "semdedup" -> (() => Dedup.semDeDup(emb, k = 4, iters = 2,
        threshold = 0.4)))

    def once(fn: () => DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up (JIT + page cache), untimed
    once(() => Similarity.bruteForceTopK(qs.limit(5), emb, k = 5))

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", v)

    // staged ivfpq profile (args contain "ivfpq_stages"): replicates
    // ivfpqTopK's pipeline with an action per stage, so a growth
    // anomaly can be pinned to fit/codes/probes/scan/rerank instead of
    // guessed at. Not a bench op — diagnostics only.
    if (only.exists(o => o.exists(_.startsWith("ivfpq_stages")))) {
      // variants: ivfpq_stages (cut everywhere) / _nock (no cuts) /
      // _ckprobes (cut probes only) / _ckcands (cut cands only)
      val variant = only.get.find(_.startsWith("ivfpq_stages")).get
      def maybeCk(which: String, df: DataFrame): DataFrame =
        if (variant == "ivfpq_stages" || variant == s"ivfpq_stages_ck$which")
          df.localCheckpoint()
        else df
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val (nprobe, nSub, codeK, iters, k, rerank) = (3, 4, 8, 1, 5, 32)
      val dim = 64; val subDim = dim / nSub
      def stage[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        println(s"[ivfpq] $name: ${fmt((System.nanoTime() - t0) / 1e9)} s")
        r
      }
      def unit(v: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        transform(v, x => when(n === 0.0, lit(0.0f))
          .otherwise((x / n).cast("float")))
      val normed = emb.withColumn("nn0", Similarity.l2Norm(col("embedding")))
        .select(col("vec_id"), col("label"),
          unit(col("embedding"), col("nn0")).as("nv"))
        .localCheckpoint()
      val fits = stage("fit")(
        Similarity.kMeansFitMulti(normed, nSub, codeK, iters, subDim, "nv", "vec_id"))
      val codeCols = fits.zipWithIndex.map { case (cents, s) =>
        Similarity.assignExpr(cents, slice(col("nv"), s * subDim + 1, subDim))
          .as(s"code$s")
      }
      val codes = normed.select(
        col("vec_id").as("n_vec_id") +: col("label").as("cell") +: codeCols: _*)
      stage("codes.count")(codes.count())
      val comps = (0 until dim).map { i =>
        (sum(element_at(col("embedding"), i + 1).cast(DecimalType(28, 10)))
          .cast("double") / count(lit(1))).as(s"c$i")
      }
      val centroids = emb.groupBy(col("label").as("cell"))
        .agg(comps.head, comps.tail: _*)
        .select(col("cell"), array((0 until dim).map(i => col(s"c$i")): _*).as("cv"))
        .withColumn("cn", Similarity.l2Norm(col("cv")))
      val q = qs.select(col("vec_id").as("q_vec_id"), col("embedding").as("qv"))
        .withColumn("qn", Similarity.l2Norm(col("qv")))
        .withColumn("uqv", unit(col("qv"), col("qn")))
      val cw = Window.partitionBy("q_vec_id").orderBy(col("ccos").desc, col("cell"))
      val adcCols = (0 until nSub).map { s =>
        array((0 until codeK).map(j =>
          Similarity.dot(slice(col("uqv"), s * subDim + 1, subDim),
            typedLit(fits(s)(j).toSeq))): _*).as(s"adc$s")
      }
      val probes = q.crossJoin(broadcast(centroids))
        .withColumn("ccos", Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("crank", row_number().over(cw))
        .filter(col("crank") <= nprobe)
        .select(Seq(col("q_vec_id"), col("qv"), col("qn"), col("cell")) ++ adcCols: _*)
      val probesCk = maybeCk("probes", probes)
      stage("probes.count")(probesCk.count())
      val approx = (0 until nSub)
        .map(s => element_at(col(s"adc$s"), col(s"code$s") + 1))
        .reduce(_ + _)
      val aw = Window.partitionBy("q_vec_id").orderBy(col("approx").desc, col("n_vec_id"))
      val cands = maybeCk("cands", broadcast(probesCk).join(codes, Seq("cell"))
        .filter(col("q_vec_id") =!= col("n_vec_id"))
        .withColumn("approx", approx)
        .withColumn("arank", row_number().over(aw))
        .filter(col("arank") <= k * rerank)
        .select("q_vec_id", "qv", "qn", "n_vec_id"))
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        println(cands.queryExecution.executedPlan.toString.take(8000))
      if (sys.env.contains("SPARK_GRAFT_BISECT")) {
        val joined = broadcast(probesCk).join(codes, Seq("cell"))
          .filter(col("q_vec_id") =!= col("n_vec_id"))
        stage("join_only.count")(joined.count())
        stage("join_approx.count")(
          joined.withColumn("approx", approx)
            .filter(col("approx") > -1e18).count())
        val codesOnly = codes.localCheckpoint()
        stage("join_on_materialized_codes.count")(
          broadcast(probesCk).join(codesOnly, Seq("cell"))
            .filter(col("q_vec_id") =!= col("n_vec_id"))
            .withColumn("approx", approx)
            .withColumn("arank", row_number().over(aw))
            .filter(col("arank") <= k * rerank).count())
      }
      stage("adc_scan.count")(cands.count())
      val full = emb.select(col("vec_id").as("n_vec_id"), col("embedding").as("nv2"))
      val w = Window.partitionBy("q_vec_id").orderBy(col("cos").desc, col("n_vec_id"))
      val out = broadcast(cands).join(full, "n_vec_id")
        .select(col("q_vec_id"), col("n_vec_id"),
          (Similarity.dot(col("qv"), col("nv2"))
            / (col("qn") * Similarity.l2Norm(col("nv2")))).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
      stage("rerank.count")(out.count())
    }
    val results = ops
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, fn) =>
        n -> (0 until reps).map(_ => once(fn)).min
      }
    val json = results.map { case (n, t) => "\"" + n + "\":" + fmt(t) }
      .mkString(s"""{"dir":${Jsons.jq(dir)},"reps":$reps,"ops":{""", ",", "}}")
    println(json)
    // committed-artifact sink (r15): every scale claim gets a JSON file
    // next to the round artifacts, not just a stdout line in a log —
    // same best-effort discipline as Bench's BENCH_ENGINE_LAST.
    // Guard: an op-FILTERED iteration run must not silently clobber
    // the committed full-ladder artifact — default sink only on full
    // runs AT the committed ladder slice (10×; a full-op run pointed
    // at the 1×/50× slice would otherwise overwrite it just as
    // silently, ADVICE r15); anything else writes only with an
    // explicit env override.
    val outPath = sys.env.get("SPARK_GRAFT_SCALEANN_OUT")
      .orElse(if (only.isEmpty && dir.endsWith("scale10x")) Some("SCALE_ANN.json")
        else None)
    outPath.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[scale-ann] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
