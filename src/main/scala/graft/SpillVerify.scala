package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Spill-parity sweep: prove the heavy-shuffle gates complete and
  * hash-match their unconstrained signatures under severe executor
  * memory pressure — with the spill actually MEASURED, not assumed.
  *
  * Why this exists: at 100 TB, partitions routinely exceed executor
  * execution memory, and the design answer everywhere in this repo is
  * "Spark's sort/agg/window operators spill to disk and the result is
  * unchanged". That was the one load-bearing claim with no evidence:
  * every gate run (CORRECTNESS, ClusterVerify, FaultVerify) fits
  * comfortably in memory, so the spill read/merge paths had never
  * executed under our plans. This sweep runs a shuffle-heavy slice
  * twice in one JVM:
  *
  *  - phase A (reference): `local[8]`, the gate configuration —
  *    same-session signatures, no pressure;
  *  - phase B (pressure): `local-cluster[2,2,1024]` — two real 1 GiB
  *    executor JVMs — with `spark.memory.fraction` squeezed to 0.1
  *    (≈70 MB of unified memory per executor) and the force-spill
  *    thresholds (`spark.shuffle.spill.numElementsForceSpillThreshold`,
  *    `spark.sql.windowExec.buffer.spill.threshold`) lowered so every
  *    large sort/join/window buffer takes the spill path even where
  *    the memory manager would have squeaked by. Forcing via
  *    thresholds changes WHEN buffers spill, never WHAT they hold —
  *    semantics are untouched, which is exactly what the signature
  *    compare certifies.
  *
  * Per gate the sweep records memoryBytesSpilled / diskBytesSpilled /
  * shuffle bytes written (the gate's task-metric sums from [[Metrics]];
  * docs/verification.md, "Task metrics") and the signature match.
  * Gates in [[nonSpillableContract]] carry the one
  * exception: a deliberately non-spillable hash build must fail LOUD
  * with its documented error and then match after the documented
  * partition-count lever is applied. The artifact is only `ok` if
  * every gate ends matched AND the pressure phase actually spilled to
  * disk somewhere — a sweep that never spilled proved nothing and
  * fails loudly rather than recording a vacuous green.
  *
  * Usage: SpillVerify <sfDir> [outJson] [onlyCsv]
  * Exits 1 on any mismatch/error or an all-dry pressure phase;
  * 2 on an unknown gate name.
  */
object SpillVerify {

  /** The shuffle-heavy slice: exploded-shingle aggregation joins
    * (the dedup family), a global sort, wide window functions, a wide
    * multi-agg profile, and a graph join loop — the operator shapes
    * whose buffers are the ones that outgrow memory at 100 TB.
    * q1_agg rides along as the hash-agg baseline.
    */
  val slice: Seq[String] = Seq(
    "q1_agg", "dedup_ngram_jaccard", "dedup_containment", "bm25_topk",
    "triangle_count", "triangle_count_sortmerge", "zorder_cluster",
    "profile_table", "window_rank", "topk_per_group",
    // r12 widening: the remaining heavy families — iterative
    // lineage-cut loop, banded LSH, embedding cosine, native-expression
    // BPE, and a localCheckpoint path whose blocks must survive a
    // storage-memory-starved executor (MEMORY_AND_DISK demotes to disk)
    "graph_pagerank", "dedup_minhash_lsh", "semdedup", "bpe_encode",
    "mmr_rerank",
    // r15: the newly oracle-gated 100 TB containment path — its df
    // join + per-doc rank window + probe join are exactly the buffers
    // that must spill cleanly for the prefix recommendation to hold
    "dedup_containment_prefix")

  /** Gates whose plan deliberately contains a NON-spillable buffer,
    * with (documented-error substring, the scale lever that shrinks
    * the buffer below memory). triangle_count's closing join builds a
    * hash relation on the m-row oriented-edge side and streams the
    * O(m^1.5) wedges (Graph.scala — sort-merging the wedge stream is
    * the plan that does NOT survive power-law scale): broadcast when
    * the side fits the broadcast threshold (sf0.01 and below),
    * shuffled hash otherwise (this sweep's sf0.1). Spark's shuffled
    * hash-relation build cannot spill by design: under pressure it
    * must fail LOUDLY with this error, and the mitigation is partition
    * sizing — BOTH knobs, because they interact: the build side per
    * partition is m/P rows so the initial partition count must rise, AND AQE's
    * coalescer must be told the memory-fit target (its 64 MB default
    * advisory size merges the small-SF shuffle right back into
    * partitions whose hash map needs several× the per-task budget —
    * exactly what a memory-tight 100 TB executor would configure
    * down). The sweep verifies BOTH halves of the contract: the loud
    * error, and the match once the documented knobs are applied.
    */
  val nonSpillableContract: Map[String, (String, String)] = Map(
    "triangle_count" ->
      (("not enough memory to build",
        "spark.sql.shuffle.partitions=64," +
          "spark.sql.adaptive.advisoryPartitionSizeInBytes=1m")))

  /** Pseudo-gates: an existing gate run under a session-conf override,
    * so a conf-gated fallback path is spill-proven alongside the
    * default. r14 (VERDICT r13 #7): `graft.triangle.sortMerge` must
    * complete AND match FIRST attempt under the same pressure that
    * makes the default hash build fail loudly — surviving without the
    * partition-sizing knobs is the fallback's entire value. It is
    * deliberately NOT in [[nonSpillableContract]]: any error is a
    * sweep failure.
    */
  val confGates: Map[String, (String, Map[String, String])] = Map(
    "triangle_count_sortmerge" ->
      (("triangle_count", Map("graft.triangle.sortMerge" -> "true"))))

  /** Static (session-build-time) conf a pseudo-gate's pressure run
    * needs — these gates get their own phase-B2 pressure session
    * (same master/memory squeeze), because Spark rejects runtime
    * modification. triangle_count_sortmerge: the FORCED 65536-row
    * threshold shatters the O(m^1.5) wedge sort into ~1000 × 2 MB
    * spill files, and UnsafeExternalSorter's merge opens every
    * reader at once with a 1 MB (hard minimum) read-ahead buffer —
    * ~1 GB of heap for merge buffers alone, an artifact of the
    * forcing, not of the plan. B2 raises the force thresholds so
    * spilling is EXECUTION-MEMORY-DRIVEN (the production mechanism:
    * ~70 MB unified memory forces ~35 MB files, merge fan-in ~70) —
    * the cell still must actually spill to disk or the sweep fails.
    */
  val staticSessionConf: Map[String, Map[String, String]] = Map(
    "triangle_count_sortmerge" -> Map(
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "2000000",
      "spark.sql.windowExec.buffer.spill.threshold" -> "2000000",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "2000000"))

  /** Build a gate's DataFrame, applying any [[confGates]] override for
    * the construction window (the conf is read at plan-construction
    * time — Graph.triangleCounts attaches the join hint then).
    */
  private def gateDf(spark: SparkSession, n: String, sfDir: String) =
    confGates.get(n) match {
      case Some((base, confs)) =>
        val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toSeq
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try SparkEntry.queries(base)(spark, sfDir)
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      case None => SparkEntry.queries(n)(spark, sfDir)
    }

  final case class GateOut(name: String, outcome: String, err: Option[String],
      memSpilled: Long, diskSpilled: Long, shuffleWrite: Long,
      refSecs: Double, pressureSecs: Double) {
    def matched: Boolean = outcome.startsWith("match")
  }

  // the pressure configuration, defined once and referenced by BOTH
  // the session builder and the JSON artifact header so the committed
  // evidence can never describe different conditions than it ran under
  val PressureMaster = "local-cluster[2,2,1024]"
  val MemoryFraction = "0.1"
  val ForceSpillThreshold = 65536

  def run(sfDir: String, gates: Seq[String]): Seq[GateOut] = {
    ClusterEnv.ensureSparkHomeSkeleton()
    System.err.println(s"[spill-verify] phase A: local[8] reference, " +
      s"${gates.size} gates")
    val refs = ClusterVerify.withSession(_.master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")) { spark =>
      gates.map { n =>
        val t0 = System.nanoTime()
        val sig = ClusterVerify.signature(gateDf(spark, n, sfDir))
        n -> (sig, (System.nanoTime() - t0) / 1e9)
      }.toMap
    }

    // gates needing static session conf run in their own pressure
    // session (phase B2) — Spark rejects runtime modification of the
    // force-spill thresholds
    val (b2, b1) = gates.partition(staticSessionConf.contains)
    val out1 =
      if (b1.isEmpty) Seq.empty[GateOut]
      else {
        System.err.println(s"[spill-verify] phase B: $PressureMaster, " +
          s"memory.fraction=$MemoryFraction, force-spill thresholds on")
        ClusterVerify.withSession(pressureBuilder(Map.empty)) { spark =>
          pressureGates(spark, b1, refs, sfDir)
        }
      }
    val out2 = b2.flatMap { n =>
      System.err.println(s"[spill-verify] phase B2 ($n): $PressureMaster, " +
        s"memory.fraction=$MemoryFraction, static conf " +
        staticSessionConf(n).map { case (k, v) => s"$k=$v" }.mkString(","))
      ClusterVerify.withSession(pressureBuilder(staticSessionConf(n))) { spark =>
        pressureGates(spark, Seq(n), refs, sfDir)
      }
    }
    val byName = (out1 ++ out2).map(g => g.name -> g).toMap
    gates.map(byName)
  }

  private def pressureBuilder(extra: Map[String, String])(
      b: SparkSession.Builder): SparkSession.Builder = {
    val base = ClusterVerify.clusterBase(b, PressureMaster)
      .appName("graft-spill-verify")
      .config("spark.sql.shuffle.partitions", "4")
      // ≈70 MB unified memory per 1 GiB executor: big buffers MUST spill
      .config("spark.memory.fraction", MemoryFraction)
      // and the ones the memory manager would still fit are forced to —
      // sorters (sort, SMJ, shuffle write) and window frame buffers
      .config("spark.shuffle.spill.numElementsForceSpillThreshold",
        ForceSpillThreshold.toString)
      .config("spark.sql.windowExec.buffer.spill.threshold",
        ForceSpillThreshold.toString)
      .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold",
        ForceSpillThreshold.toString)
    extra.foldLeft(base) { case (bb, (k, v)) => bb.config(k, v) }
  }

  private def pressureGates(spark: SparkSession, names: Seq[String],
      refs: Map[String, (ClusterVerify.Sig, Double)],
      sfDir: String): Seq[GateOut] = {
      names.map { n =>
        val t0 = System.nanoTime()
        def attempt(): Boolean =
          ClusterVerify.signature(gateDf(spark, n, sfDir)) == refs(n)._1
        val ((outcome, err), m) = Metrics.measure(spark) {
          try {
            if (attempt()) ("match", None)
            else ("mismatch", Some("signature mismatch under pressure"))
          } catch {
            case e: Throwable =>
              // classify on the FULL message (the job-abort preamble
              // alone can exceed any truncation budget) INCLUDING the
              // cause chain — Spark's wrapping can bury the hash-build
              // OOM text in a cause (StatePressure walks getCause for
              // the same reason); truncate only what gets recorded in
              // the artifact
              val msgFull = Iterator.iterate[Throwable](e)(_.getCause)
                .takeWhile(_ != null).take(16)
                .map(t => String.valueOf(t.getMessage)).mkString("; caused by: ")
              val msg = msgFull.take(400)
              nonSpillableContract.get(n) match {
                case Some((expectErr, lever)) if msgFull.contains(expectErr) =>
                  // the documented loud failure; apply the documented
                  // knobs (runtime SQLConf) and the result must match
                  val knobs = lever.split(',').map { kv =>
                    val Array(k, v) = kv.split("=", 2); (k, v)
                  }
                  val saved = knobs.map { case (k, _) =>
                    k -> spark.conf.getOption(k)
                  }
                  knobs.foreach { case (k, v) => spark.conf.set(k, v) }
                  try {
                    if (attempt()) ("match_after_partition_scaleup", Some(msg))
                    else ("mismatch_after_partition_scaleup", Some(msg))
                  } catch {
                    case e2: Throwable =>
                      (s"error_after_partition_scaleup", Some(
                        s"$msg; then: ${String.valueOf(e2.getMessage).take(200)}"))
                  } finally saved.foreach {
                    case (k, Some(v)) => spark.conf.set(k, v)
                    case (k, None) => spark.conf.unset(k)
                  }
                case _ => ("error", Some(msg))
              }
          }
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val out = GateOut(n, outcome, err, m.memorySpilled, m.diskSpilled,
          m.shuffleWriteBytes, refs(n)._2, secs)
        System.err.println(f"[spill-verify] $n%-22s ${secs}%6.1fs " +
          f"spill mem=${out.memSpilled / 1e6}%8.1fMB disk=${out.diskSpilled / 1e6}%7.1fMB " +
          f"shuffle=${out.shuffleWrite / 1e6}%7.1fMB $outcome%s")
        out
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "SPILL_VERIFY.json"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    only.foreach { sel =>
      val unknown = sel -- slice.toSet
      if (unknown.nonEmpty) {
        System.err.println(s"[spill-verify] unknown gate name(s): " +
          s"${unknown.toSeq.sorted.mkString(", ")} — known: " +
          slice.mkString(", "))
        sys.exit(2)
      }
    }
    val gates = slice.filter(n => only.forall(_.contains(n)))
    val results = run(sfDir, gates)

    val allMatch = results.forall(_.matched)
    val anyDiskSpill = results.exists(_.diskSpilled > 0)
    // pseudo-gates exist to prove a fallback's SPILL path: a run of
    // theirs that never touched disk certifies nothing — enforce the
    // per-cell requirement, not just sweep-wide any-spill
    val pseudoDry = results.filter(r =>
      confGates.contains(r.name) && r.diskSpilled == 0).map(_.name)
    pseudoDry.foreach(n => System.err.println(
      s"[spill-verify] $n matched but NEVER SPILLED TO DISK — vacuous"))
    val ok = allMatch && anyDiskSpill && pseudoDry.isEmpty
    import Jsons.{jq, num}
    val json =
      s"""{"sf_dir": ${jq(sfDir)},
         |"cluster_master": ${jq(PressureMaster)},
         |"memory_fraction": $MemoryFraction,
         |"force_spill_threshold": $ForceSpillThreshold,
         |"total": ${results.size},
         |"ok": $ok,
         |"any_disk_spill": $anyDiskSpill,
         |"gates": {
         |${results.map(r =>
          s"${jq(r.name)}: {\"match\": ${r.matched}, " +
            s"\"outcome\": ${jq(r.outcome)}, " +
            s"\"mem_spilled_mb\": ${num(r.memSpilled / 1e6, 1)}, " +
            s"\"disk_spilled_mb\": ${num(r.diskSpilled / 1e6, 1)}, " +
            s"\"shuffle_write_mb\": ${num(r.shuffleWrite / 1e6, 1)}, " +
            s"\"ref_secs\": ${num(r.refSecs)}, " +
            s"\"pressure_secs\": ${num(r.pressureSecs)}, " +
            s"\"error\": ${r.err.map(jq).getOrElse("null")}}")
          .mkString(",\n")}
         |}}
         |""".stripMargin
    Files.writeString(Paths.get(outPath), json)
    System.err.println(s"[spill-verify] ${results.count(_.matched)}/" +
      s"${results.size} match, disk spill ${if (anyDiskSpill) "observed"
        else "NOT OBSERVED (vacuous — failing)"} — $outPath")
    if (!ok) sys.exit(1)
  }
}
