package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Fault-injection proof on the two-executor rig (VERDICT r11 #1):
  * SIGKILL one executor JVM while a representative gate slice runs on
  * `local-cluster[2,1,1024]`, and verify the 100 TB recovery contract
  * the library documents:
  *
  *  - PURE-LINEAGE BATCH gates (scan/shuffle/native-expression plans,
  *    no storage) must finish and HASH-MATCH their own no-kill
  *    signature from the same session: Spark re-schedules the lost
  *    tasks, FetchFailed stage retries recompute the dead executor's
  *    shuffle outputs from lineage, and the standalone worker
  *    relaunches a replacement executor.
  *
  *  - localCheckpoint LIBRARY PATHS (Similarity.pqCodes / mmrRerank,
  *    Dedup's union-find fallback) are EAGER + NON-RELIABLE by
  *    contract (Similarity.scala header): checkpoint blocks live
  *    unreplicated in executor storage, losing the executor truncates
  *    lineage, and the contract promises a LOUD failure
  *    ("Checkpoint block … not found"), never a corrupt result — with
  *    a fresh operator run (the caller's recovery lever, e.g. a
  *    driver-level retry or the documented reliable-checkpoint swap)
  *    converging to the same signature.
  *
  * Mechanics: each gate first runs clean in the cluster session (the
  * reference signature + its job count M), then re-runs with a
  * listener that SIGKILLs one CoarseGrainedExecutorBackend process at
  * the start of job ⌊f·M⌋ — f=0 for batch gates (die early, replay
  * everything) and f=0.5 for checkpoint gates (die mid-pipeline, after
  * checkpoints materialized, so their blocks are genuinely gone). The
  * kill is a real `destroyForcibly` on the executor OS process (the
  * workers fork them as children of this JVM), not a scheduler-level
  * decommission. After each kill the sweep waits for the worker to
  * re-register a replacement before the next gate.
  *
  * Outcome per gate, written to FAULT_VERIFY.json:
  *  - `match_first_attempt` — Spark recovered in-flight; signature
  *    matches the reference (expected for pure-lineage gates; also
  *    legal for checkpoint gates when the surviving executor happened
  *    to hold every checkpoint block).
  *  - `match_after_contract_error` — attempt 1 failed loudly with the
  *    documented checkpoint-contract error; a fresh attempt matched
  *    (expected for checkpoint gates when the dead executor held
  *    blocks).
  *  - anything else (mismatch / unexpected error / kill never landed
  *    mid-run) fails the sweep with exit 1.
  *
  * Usage: FaultVerify <sfDir> [outJson] [onlyCsv]
  */
object FaultVerify {

  /** The representative slice: gate -> kill point as a fraction of the
    * reference run's job count. Batch gates (pure lineage) die at the
    * first job; checkpoint gates die mid-pipeline.
    */
  val slice: Seq[(String, Double)] = Seq(
    // pure lineage: scan + partial/final agg
    "q1_agg" -> 0.0,
    // shuffle-heavy dedup: shingle -> minhash -> band explode -> bucket
    // self-join -> verify -> connected components
    "dedup_minhash_lsh" -> 0.0,
    // native codegen expression (WinnowKeys) feeding a shuffle join
    "winnow_neardup" -> 0.0,
    // union-find fallback: iterative pointer-jumping over
    // localCheckpoint(eager=true) frames (Dedup.scala). 0.7, not 0.5:
    // the kill must land AFTER checkpoints materialized (the early
    // half of the job schedule is their production), or the run
    // degenerates into plain lineage replay
    "dedup_clusters" -> 0.7,
    // Similarity.pqCodes: normed + codes checkpoints feeding Lloyd
    // fits and the ADC join (Similarity.scala:448,468)
    "pq_codes" -> 0.7,
    "ann_ivfpq" -> 0.7,
    // Similarity.mmrRerank: candidate-table checkpoint + per-iteration
    // accumulator checkpoints (Similarity.scala:552+)
    "mmr_rerank" -> 0.5,
    // stateful streaming: watermarked window agg, state in the
    // HDFS-backed store — on executor loss the rescheduled tasks
    // reload state from the checkpoint dir's delta files, so the
    // drained table must still hash-match (the at-least-once +
    // state-snapshot contract)
    "stream_window_agg" -> 0.5)

  /** The documented loud-fail signature of a lost non-reliable
    * checkpoint block (RDD.checkpoint machinery's message; the
    * Similarity header contract points callers at it).
    */
  private def isContractError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists(t =>
      String.valueOf(t.getMessage).contains("Checkpoint block"))

  /** Live executor OS processes: local-cluster workers run inside this
    * JVM and fork each executor as a child process. The JDK's
    * ProcessHandle.Info.commandLine() is TRUNCATED for these — the
    * sbt-staged classpath pushes the cmdline to ~30 KB, past the JDK's
    * /proc read buffer, and the class name sits at the very end — so
    * read /proc/<pid>/cmdline directly (NUL separators don't matter
    * for a substring probe).
    */
  private def executorHandles(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala.filter { ph =>
      try new String(Files.readAllBytes(
          Paths.get(s"/proc/${ph.pid()}/cmdline")), "UTF-8")
        .contains("CoarseGrainedExecutorBackend")
      catch { case _: java.io.IOException => false }
    }.toSeq

  /** Both executor processes alive AND registered with the driver
    * (statusTracker counts the driver too, hence n + 1).
    */
  private def awaitExecutors(spark: SparkSession, n: Int,
      timeoutMs: Long = 120000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (executorHandles().size >= n &&
          spark.sparkContext.statusTracker.getExecutorInfos.length >= n + 1)
        return true
      Thread.sleep(500)
    }
    System.err.println(s"[fault-verify] awaitExecutors timeout: " +
      s"procs=${executorHandles().size} registered=" +
      s"${spark.sparkContext.statusTracker.getExecutorInfos.length}")
    false
  }

  /** Executor id currently hosting the most cached RDD blocks — where
    * localCheckpoint blocks live — via the app-status store
    * (`private[spark]` members are public in bytecode, so plain
    * reflection reaches them). None when nothing is cached yet or the
    * async status store lags the kill point.
    */
  private def busiestStorageExecutor(
      sc: org.apache.spark.SparkContext): Option[String] =
    try {
      val store = sc.getClass.getMethod("statusStore").invoke(sc)
      val execs = store.getClass.getMethod("executorList", classOf[Boolean])
        .invoke(store, Boolean.box(true)).asInstanceOf[Seq[AnyRef]]
      val withBlocks = execs.map { e =>
        val id = e.getClass.getMethod("id").invoke(e).asInstanceOf[String]
        val blocks =
          e.getClass.getMethod("rddBlocks").invoke(e).asInstanceOf[Int]
        (id, blocks)
      }.filter { case (id, blocks) => id != "driver" && blocks > 0 }
      withBlocks.sortBy { case (id, blocks) => (-blocks, id) }
        .headOption.map(_._1)
    } catch { case _: ReflectiveOperationException => None }

  /** The executor process running standalone executor `id` — the
    * backend's `--executor-id <id>` args sit NUL-separated in
    * /proc/<pid>/cmdline.
    */
  private def handleForExecutorId(id: String): Option[ProcessHandle] =
    executorHandles().find { ph =>
      try new String(Files.readAllBytes(
          Paths.get(s"/proc/${ph.pid()}/cmdline")), "UTF-8")
        .contains(s"--executor-id\u0000$id\u0000")
      catch { case _: java.io.IOException => false }
    }

  /** Fires once, at the start of the `target`-th job observed while
    * armed, SIGKILLing the executor `pickVictim` chooses. Records when
    * and whom. A listener of its own, not [[Metrics]]: it injects a
    * fault mid-run and measures nothing.
    */
  private final class KillAtJob(target: Int,
      pickVictim: () => Option[(String, ProcessHandle)]) extends SparkListener {
    private val seen = new AtomicInteger(0)
    val fired = new AtomicBoolean(false)
    val firedAtNs = new AtomicLong(0L)
    val victimPid = new AtomicLong(0L)
    @volatile var victimDesc: String = ""
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (seen.getAndIncrement() == target && fired.compareAndSet(false, true)) {
        pickVictim().foreach { case (desc, ph) =>
          victimPid.set(ph.pid())
          victimDesc = desc
          firedAtNs.set(System.nanoTime())
          ph.destroyForcibly()
          System.err.println(s"[fault-verify]   killed executor $desc " +
            s"(pid ${ph.pid()}) at job #$target")
        }
      }
  }

  final case class GateOut(name: String, refJobs: Int, killJob: Int,
      killedPid: Long, victim: String, outcome: String,
      contractError: Option[String], refSecs: Double, killSecs: Double)

  // JSON rendering shared across all artifact writers (graft.Jsons)
  private def jq(s: String): String = Jsons.jq(s)
  private def num(d: Double): String = Jsons.num(d)

  /** The sweep body — also the CI surface (FaultSpec runs a 2-gate
    * slice through it in every `sbt test`). Boots its own
    * local-cluster session and stops it on exit; a previously active
    * session is stopped first (later suites' getOrCreate rebuilds).
    */
  def run(sfDir: String, gates: Seq[(String, Double)]): Seq[GateOut] = {
    val clusterMaster =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,1,1024]")
    ClusterEnv.ensureSparkHomeSkeleton()
    ClusterVerify.withSession(b => ClusterVerify.clusterBase(b, clusterMaster)
      .appName("graft-fault-verify")
      .config("spark.sql.shuffle.partitions", "8")) { spark =>
      val sc = spark.sparkContext
      require(awaitExecutors(spark, 2), "two executors never registered")

      gates.map { case (name, frac) =>
        val fn = SparkEntry.queries(name)

        // reference run (no kill): signature + job count M, counted
        // through a job group so the tally is synchronous scheduler
        // state, not async listener-bus arithmetic
        sc.setJobGroup(s"ref-$name", name)
        val t0 = System.nanoTime()
        val refSig = ClusterVerify.signature(fn(spark, sfDir))
        val refSecs = (System.nanoTime() - t0) / 1e9
        val refJobs = sc.statusTracker.getJobIdsForGroup(s"ref-$name").length
        sc.clearJobGroup()

        val killJob = math.min((refJobs * frac).toInt, refJobs - 1).max(0)
        // checkpoint gates (frac > 0) aim at the executor HOLDING
        // cached RDD blocks so the loss is real, not a coin flip over
        // block placement; batch gates take the lowest pid (any
        // executor — there is nothing stored to miss)
        val pickVictim: () => Option[(String, ProcessHandle)] =
          if (frac > 0) { () =>
            busiestStorageExecutor(sc)
              .flatMap(id => handleForExecutorId(id).map(h => (s"id=$id", h)))
              .orElse(executorHandles().sortBy(_.pid()).headOption
                .map(h => ("lowest-pid", h)))
          } else { () =>
            executorHandles().sortBy(_.pid()).headOption
              .map(h => ("lowest-pid", h))
          }
        val killer = new KillAtJob(killJob, pickVictim)
        sc.addSparkListener(killer)
        val t1 = System.nanoTime()
        val (outcome, contractErr) =
          try {
            val sig = ClusterVerify.signature(fn(spark, sfDir))
            val endNs = System.nanoTime()
            // firedAtNs == 0 covers the armed-but-no-victim edge
            // (pickVictim found no executor process): without it the
            // run would read as a valid kill that never happened
            if (!killer.fired.get() || killer.firedAtNs.get() == 0L ||
                killer.firedAtNs.get() > endNs)
              ("kill_not_fired", None)
            else if (sig == refSig) ("match_first_attempt", None)
            else ("mismatch", None)
          } catch {
            case e: Throwable if isContractError(e) =>
              // the documented loud failure; a FRESH attempt (new
              // checkpoints) is the caller's recovery lever — it must
              // converge to the reference signature
              val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                .map(t => String.valueOf(t.getMessage))
                .find(_.contains("Checkpoint block")).getOrElse(e.getMessage)
              killer.fired.set(true) // don't double-kill in the retry
              // The retry itself must not escape this catch: an
              // exception here would abort the whole sweep, losing
              // every prior gate's result and the JSON artifact —
              // contradicting the header contract that outcomes are
              // always recorded. Record it as a failing outcome.
              val err = Some(msg.linesIterator.next().take(300))
              try {
                if (!awaitExecutors(spark, 2))
                  ("retry_no_replacement_executor", err)
                else {
                  val retrySig = ClusterVerify.signature(fn(spark, sfDir))
                  (if (retrySig == refSig) "match_after_contract_error"
                   else "mismatch_after_contract_error", err)
                }
              } catch {
                case e2: Throwable =>
                  (s"retry_error: ${String.valueOf(e2.getMessage).take(300)}",
                    err)
              }
            case e: Throwable =>
              (s"unexpected_error: ${String.valueOf(e.getMessage).take(300)}",
                None)
          } finally sc.removeSparkListener(killer)
        val killSecs = (System.nanoTime() - t1) / 1e9

        // never start the next gate one executor short
        val recovered = if (killer.fired.get()) awaitExecutors(spark, 2) else true
        val finalOutcome = if (recovered) outcome else s"$outcome+no_replacement"
        System.err.println(f"[fault-verify] $name%-20s jobs=$refJobs%3d " +
          f"kill@$killJob%3d -> $finalOutcome")
        GateOut(name, refJobs, killJob, killer.victimPid.get(),
          killer.victimDesc, finalOutcome, contractErr, refSecs, killSecs)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "FAULT_VERIFY.json"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    // A mistyped gate list must fail loudly, not produce an empty
    // sweep that writes {"total": 0, "ok": true} and exits 0 — a
    // green fault-injection proof that verified nothing.
    only.foreach { names =>
      val unknown = names -- slice.map(_._1).toSet
      if (unknown.nonEmpty) {
        System.err.println(s"[fault-verify] unknown gate name(s): " +
          s"${unknown.toSeq.sorted.mkString(", ")} — known: " +
          slice.map(_._1).mkString(", "))
        sys.exit(2)
      }
    }
    val gates = slice.filter { case (n, _) => only.forall(_.contains(n)) }
    val results = run(sfDir, gates)

    val ok = results.forall(r => r.outcome == "match_first_attempt" ||
      r.outcome == "match_after_contract_error")
    val clusterMaster =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,1,1024]")
    val json =
      s"""{"sf_dir": ${jq(sfDir)}, "cluster_master": ${jq(clusterMaster)},
         |"total": ${results.size},
         |"ok": $ok,
         |"gates": {
         |${results.map(r =>
          s"${jq(r.name)}: {\"ref_jobs\": ${r.refJobs}, " +
            s"\"kill_job\": ${r.killJob}, \"killed_pid\": ${r.killedPid}, " +
            s"\"victim\": ${jq(r.victim)}, " +
            s"\"outcome\": ${jq(r.outcome)}, " +
            s"\"contract_error\": ${r.contractError.map(jq).getOrElse("null")}, " +
            s"\"ref_secs\": ${num(r.refSecs)}, \"kill_secs\": ${num(r.killSecs)}}")
          .mkString(",\n")}
         |}}
         |""".stripMargin
    Files.writeString(Paths.get(outPath), json)
    System.err.println(s"[fault-verify] ${results.count(r =>
      r.outcome.startsWith("match"))}/${results.size} recovered — $outPath")
    if (!ok) sys.exit(1)
  }
}
