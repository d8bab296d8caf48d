package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR, fully materializing each result through the
  * `noop` datasource (exercises the whole plan incl. writes-side
  * codegen, without disk), and prints ONE JSON line with per-query and
  * total wall seconds.
  */
object Bench {

  /** Regression flag rule — only material regressions: >1.5x vs the
    * previous window AND >1 s absolute (sub-second queries swing on
    * scheduler jitter alone). Pure; unit-tested in BenchSpec.
    */
  def flagRegressions(results: Seq[(String, Double)],
      prev: Map[String, Double]): Seq[String] =
    results.collect {
      case (n, cur) if prev.get(n)
        .exists(p => p > 0 && cur > 1.0 && cur / p > 1.5) => n
    }

  /** Noise auto-exoneration (VERDICT r14 #6): on a contended window
    * (noiseIndex > 1.1), re-run JUST the flagged queries for `reps`
    * more interleaved rounds and annotate each flag with the
    * best-of-all-rounds ratio plus a noise_suspect verdict — true when
    * the recheck ratio drops back under the 1.5x flag bound.
    * noise_suspect=false after a recheck is a REAL regression signal,
    * strengthened: the flag survived 2×reps independent rounds.
    * (A sentinel-band comparison was considered and rejected: sentinel
    * ratios are vs the r11 pins while vs_prev is vs the previous round
    * — mixed denominators would let a recheck-CONFIRMED regression be
    * exonerated by an unrelated host-era drift.)
    *
    * Pure given `rerun`; the recheck branch is unit-tested in
    * BenchSpec (VERDICT r15 #8) so the first contended window is not
    * its first execution. Returns (name, firstRatio, recheckRatio,
    * noiseSuspect) per flagged query; a rerun rep that fails (< 0) is
    * dropped from the best-of min, never treated as 0 s.
    */
  def recheckRegressions(flagged: Seq[String], firstPass: Map[String, Double],
      prev: Map[String, Double], noiseIndex: Double, reps: Int,
      rerun: String => Double): Seq[(String, Double, Double, Boolean)] =
    if (flagged.nonEmpty && noiseIndex > 1.1) {
      val extra = (0 until reps).map(_ => flagged.map(rerun))
      flagged.zipWithIndex.map { case (n, i) =>
        val p = prev(n)
        val r1 = firstPass(n) / p
        val best = (firstPass(n) +: extra.map(_(i)).filter(_ >= 0)).min
        val r2 = best / p
        (n, r1, r2, r2 <= 1.5)
      }
    } else Seq.empty

  /** Bench's session, shared with `Profile` so both run the same plans:
    * `GraftSession.builder` on `SPARK_GRAFT_CPUS` cores (default: the
    * host's, at most 32) plus a wide initial partition count.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = GraftSession.start(GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // NOTE: spark.sql.files.maxPartitionBytes stays at the 128 MB
      // default. Lowering it to split the single-digit-MB test files
      // was measured and REVERTED: parquet splits align to row groups
      // and these files have ONE row group, so extra splits are empty
      // tasks — pure scheduling overhead (+10 s across the suite).
      // CPU-dense narrow ops get parallelism via an explicit
      // repartition inside the operator instead (TextAnalysis
      // .repetition's `parallelism` arg).
      // start wide, let AQE coalesce: big fan-out stages (inverted-index
      // joins) get small per-task hash/agg state; small stages shrink
      // back to ~cpus partitions automatically
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128"))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's run step, shared with `Profile`: one query through the
    * noop sink, in seconds, or -1.0 if it failed.
    */
  private[graft] def runOnce(spark: SparkSession, sfDir: String, name: String): Double =
    runFrame(spark, name)(SparkEntry.queries(name)(spark, sfDir))

  /** The run step for any frame, shared with `Curves`: builds `frame`
    * and writes it through the noop sink, in seconds, or -1.0 if it
    * failed (reported under `name`).
    */
  private[graft] def runFrame(spark: SparkSession, name: String)(frame: => DataFrame): Double = {
    // measurement isolation: clear any cached plans a prior query
    // leaked so no query silently reuses another's work. Deliberately
    // NO System.gc() here: a forced full GC triggers ContextCleaner
    // shuffle-cleanup storms whose MapOutputTracker contention lands
    // inside the NEXT timed region (measured: 8 s → 30-60 s on the
    // dedup pipeline with gc, stable 7.7 s without).
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    try frame.write.format("noop").mode("overwrite").save()
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm-up: JIT + OS page cache for the common tables (not timed). */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("q1_agg", "join_inner").foreach(runOnce(spark, sfDir, _))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // recorded in the JSON below: a conf-modified window must say so
    // in the artifact or it contaminates the vs_prev baseline chain
    val sessionConf = SessionConf.applyEnv(spark)

    warmUp(spark, sfDir)

    // min of N reps per query: damps JIT/page-cache/GC noise so the
    // number reflects the plan, not the first-run transient. Default 3
    // (VERDICT r12 #2): two same-HEAD r12 windows showed 2× per-query
    // swings at 2 reps; min-of-3 collapses them to ~15%.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // interleaved rounds (all queries once, then again) rather than
    // back-to-back reps: transient debt a heavy neighbor leaves
    // behind (GC, shuffle-file cleanup) then hits a given query in at
    // most one round, and min-of-rounds discards it
    val rounds = (0 until reps).map(_ => names.map(runOnce(spark, sfDir, _)))
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> rounds.map(_(i)).filter(_ >= 0).minOption.getOrElse(-1.0)
    }
    // Locale.ROOT: a comma-decimal default locale would emit broken JSON
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Machine-readable host-contention index (VERDICT r9 #5): the
    // median current/reference ratio over a PINNED sentinel set of ten
    // trivial, never-optimized queries. Reference values are these
    // queries' seconds in the committed round-11 BENCH_ENGINE_LAST.json
    // driver window (re-based from the r9 pins per VERDICT r11 #3 —
    // old->new mapping recorded in BASELINE.md "Round 12: sentinel
    // re-pin"; the point is a FIXED reference, not an ideal one):
    // noise_index ~= 1.0 means this window ran under the same host
    // conditions as that reference; >1 means slower (external
    // contention), so cross-round total comparisons can divide by it
    // instead of re-deriving the window narrative each round. The
    // sentinels span scan/filter, hash agg, broadcast join, regex,
    // date math, sketch-union and a gap-fill window — none touched by
    // optimization work since round 6, so a code regression in real
    // operators does NOT move the index.
    val noiseSentinels: Seq[(String, Double)] = Seq(
      "q1_agg" -> 1.196, "join_inner" -> 0.853, "case_when" -> 0.317,
      "date_funcs" -> 0.534, "string_funcs" -> 0.333, "agg_stats" -> 0.759,
      "regex_extract" -> 0.508, "resample_gapfill" -> 0.542,
      "sketch_hll_union" -> 0.433, "math_funcs" -> 0.912)
    val resultMap = results.toMap
    val noiseRatios = noiseSentinels.flatMap { case (n, ref) =>
      resultMap.get(n).filter(_ > 0).map(_ / ref)
    }.sorted
    val noiseIndex =
      if (noiseRatios.isEmpty) -1.0 // filtered run without sentinels
      else if (noiseRatios.size % 2 == 1) noiseRatios(noiseRatios.size / 2)
      else (noiseRatios(noiseRatios.size / 2 - 1)
        + noiseRatios(noiseRatios.size / 2)) / 2.0
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // ---- per-query vs-prev ratios (VERDICT r12 #2): compare this
    // window against the latest committed round artifact so per-query
    // regressions are detectable from the artifact alone, without
    // hand-run sentinel protocols. Ratios are noise-normalized per
    // query downstream by the reader using noise_index; here we emit
    // the raw cur/prev plus the prev filename for provenance.
    // default chain: BENCH_PREV_ROUND.json is the previous round's
    // committed engine window, snapshotted at round start (round-start
    // hygiene, BASELINE.md); fall back to the last engine window file
    // (read BEFORE this run overwrites it). The driver's BENCH_r*.json
    // wrappers are NOT used — they truncate the per-query map.
    val prevFile: Option[String] =
      sys.env.get("SPARK_GRAFT_BENCH_PREV").filter(_.nonEmpty).orElse(
        Seq("BENCH_PREV_ROUND.json", "BENCH_ENGINE_LAST.json")
          .find(f => new java.io.File(f).isFile))
    // prev window's queries AND its reps count (ADVICE r13: min-of-3
    // vs a min-of-2 prev biases ratios low — record both reps in the
    // artifact so the one-time bias is interpretable without prose)
    val prevWindow: (Map[String, Double], Option[Int]) =
      prevFile.flatMap { f =>
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = om.readTree(new java.io.File(f))
          val node = root.get("queries")
          if (node == null) None
          else {
            import scala.jdk.CollectionConverters._
            val reps = Option(root.get("reps")).map(_.asInt(-1)).filter(_ > 0)
            Some((node.fields().asScala
              .map(e => e.getKey -> e.getValue.asDouble(-1.0)).toMap, reps))
          }
        } catch { case e: Exception =>
          System.err.println(s"[bench] could not read prev window $f: ${e.getMessage}")
          None
        }
      }.getOrElse((Map.empty[String, Double], None))
    val prevQueries = prevWindow._1
    val prevReps = prevWindow._2
    val vsPrev = results.flatMap { case (n, cur) =>
      prevQueries.get(n).filter(p => p > 0 && cur > 0)
        .map(p => "\"" + n + "\":" + fmt(cur / p))
    }.mkString("{", ",", "}")
    val regressedNames = flagRegressions(results, prevQueries)
    val regressed = regressedNames.map("\"" + _ + "\"")
    // noise auto-exoneration — rule and rationale on recheckRegressions
    val recheck = recheckRegressions(regressedNames, resultMap, prevQueries,
      noiseIndex, reps, runOnce(spark, sfDir, _))
    val recheckJson = recheck.map { case (n, r1, r2, s) =>
      s"""${Jsons.jq(n)}:{"ratio":${fmt(r1)},"ratio2":${fmt(r2)},"noise_suspect":$s}"""
    }.mkString("{", ",", "}")
    // Self-describing failure accounting (ADVICE r6): a -1.000 sentinel
    // contributes 0 s to the total, so without these fields a round with
    // broken queries reads as a speedup in cross-round comparison.
    val failedQs = results.collect { case (n, v) if v < 0 => "\"" + n + "\"" }
    // Constant-cost gates (VERDICT r13 #6): the two pysparkProgram
    // gates each pay a data-independent spark-submit driver-JVM boot
    // (~12 s) that exists to exercise the subprocess path, not the
    // data plan. Emit them and a net-of-const total so cross-round
    // comparisons and the 2x bar stay one-step without prose
    // arithmetic in BASELINE.md.
    val constQueries = Seq("pyspark_wordcount", "pyspark_pandas_decode")
      .filter(resultMap.get(_).exists(_ > 0))
    val constS = constQueries.map(resultMap(_)).sum
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""n_measured":${results.count(_._2 >= 0)},"n_failed":${failedQs.size},""" +
        s""""failed":[${failedQs.mkString(",")}],""" +
        s""""const_queries":[${constQueries.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""const_s":${fmt(constS)},"value_net_const":${fmt(total - constS)},""" +
        s""""reps":$reps,"prev":${prevFile.map("\"" + _ + "\"").getOrElse("null")},""" +
        s""""prev_reps":${prevReps.map(_.toString).getOrElse("null")},""" +
        s""""vs_prev":$vsPrev,"regressed":[${regressed.mkString(",")}],""" +
        s""""regression_recheck":$recheckJson,""" +
        s""""noise_index":${fmt(noiseIndex)},"noise_n":${noiseRatios.size},""" +
        s""""session_conf":${Jsons.conf(sessionConf)},""" +
        s""""sf":"$sfDir"}"""
    // stdout for the driver's parser (build.sbt sets StdoutOutput so the
    // forked JVM's line is NOT wrapped in sbt "[info]" noise), plus a
    // file sink as a parse-proof channel. The file ALWAYS lands (default
    // BENCH_ENGINE_LAST.json in cwd = repo root): whoever runs the bench
    // — driver or builder — leaves the per-query engine-side numbers
    // from that exact wall-clock window next to the round artifact, so
    // host-contention noise can be diagnosed per query instead of
    // argued from totals (BASELINE.md round-5 note).
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_ENGINE_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Compact trailer line (VERDICT r15 #7): the driver's BENCH_r*.json
    // wrapper keeps only the last ~2 KB of stdout, and the full JSON
    // line above is ~15 KB at 200+ queries — so its parse has recorded
    // `"parsed": null` every round while the tail string carried a
    // truncated fragment. Emit a second, COMPLETE JSON line small
    // enough to sit entirely inside that tail window (scalars + the ten
    // pinned noise sentinels as the `queries` sample + a pointer to the
    // full per-query file), printed LAST so a last-JSON-line or
    // tail-scan parser lands on it. The full line stays first for any
    // whole-stdout parser; the file sink stays the parse-proof channel.
    val sentinelEntries = noiseSentinels.flatMap { case (n, _) =>
      resultMap.get(n).map(v => "\"" + n + "\":" + fmt(v))
    }
    // r17 (VERDICT r16 #2): the sentinel-only sample defeated the
    // driver's scaling and PERF per-query blocks — the ten sentinels
    // are trivial fixed-overhead queries by construction, so their
    // 8-vs-32-core ratios read ≈1 and `suspect_cpus_ignored` fired
    // even though $SPARK_GRAFT_CPUS is honored. Add the top-15
    // heaviest measured queries (the ones that CAN show core scaling
    // and round-over-round movement) alongside the sentinels; ~25
    // bytes per entry keeps the trailer well inside the driver's
    // ~2 KB stdout tail window. Additive only: the full per-query map
    // in the main line and the file sink are unchanged. The const
    // queries are left out: their spark-submit boots would hold two of
    // the fifteen slots without showing anything about the data plan.
    val notHeavy = noiseSentinels.map(_._1).toSet ++ constQueries
    val heavyEntries = results.filter { case (n, v) =>
      v > 0 && !notHeavy.contains(n)
    }.sortBy(-_._2).take(15)
      .map { case (n, v) => "\"" + n + "\":" + fmt(v) }
    val sampleEntries = sentinelEntries ++ heavyEntries
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":${sampleEntries.mkString("{", ",", "}")},""" +
        s""""queries_sampled":${sampleEntries.size},""" +
        s""""queries_total":${results.size},"queries_full_file":"$outPath",""" +
        s""""n_measured":${results.count(_._2 >= 0)},"n_failed":${failedQs.size},""" +
        s""""const_s":${fmt(constS)},"value_net_const":${fmt(total - constS)},""" +
        s""""reps":$reps,"regressed":[${regressed.mkString(",")}],""" +
        s""""noise_index":${fmt(noiseIndex)},"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
