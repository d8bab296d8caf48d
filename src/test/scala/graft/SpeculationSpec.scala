package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.scalatest.funsuite.AnyFunSuite

/** Speculative-execution parity — a multi-executor behavior no other
  * rig exercises, because Spark's speculation scheduler is DISABLED in
  * local mode (`TaskSchedulerImpl` only starts it when `!isLocal`):
  * every `local[*]` suite silently runs with speculation off no matter
  * what the conf says. On a 1000-executor cluster speculation is
  * routinely ON, so the engine's claims need:
  *
  *   1. result parity: a diverse gate slice under AGGRESSIVE
  *      speculation (multiplier 1.0, quantile 0.5 — speculate anything
  *      slower than the median) bit-matches the same cluster rig with
  *      speculation off;
  *   2. non-vacuousness: the speculation scheduler actually FIRED — a
  *      straggler task was marked and submitted as speculatable
  *      (`SparkListenerSpeculativeTaskSubmitted`), else the run proved
  *      nothing;
  *   3. write exactness: the straggler-skewed parquet write lands
  *      exactly one attempt's rows.
  *
  * Sandbox limit, measured not assumed: the speculative COPY never
  * launches on this rig, because both local-cluster executors share
  * one host and `TaskSetManager.dequeueSpeculativeTask` refuses any
  * host already running an attempt of the same task (the scheduler's
  * duplicate-work guard). So the copy-vs-original commit race itself
  * needs a second physical host — see the untestable-on-this-rig
  * register in docs/verification.md; its write-side arbitration is the
  * same OutputCommitCoordinator path WriteRetrySpec exercises for
  * failed attempts.
  *
  * The spec keeps a listener of its own rather than [[Metrics]]: the
  * speculation events it counts are scheduler events that no task
  * metric carries.
  */
class SpeculationSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.01"
  // diverse + pure (no side-effecting subprocess/stream gates): scan-agg,
  // multiway join, window, banded LSH dedup, event sessionization
  private val gates = Seq("q1_agg", "join_multiway", "window_rank",
    "dedup_minhash_lsh", "sessionize")

  test("aggressive speculation changes nothing: gate signatures match the " +
      "no-speculation cluster run, the speculation scheduler really fired, " +
      "and a straggler-skewed parquet write stays exactly-once") {
    ClusterEnv.ensureSparkHomeSkeleton()
    val refs = ClusterVerify.withSession(b =>
      ClusterVerify.clusterBase(b, "local-cluster[2,2,1024]")
        .appName("graft-speculation-ref")
        .config("spark.sql.shuffle.partitions", "4")) { spark =>
      gates.map(n =>
        n -> ClusterVerify.signature(SparkEntry.queries(n)(spark, sfDir))).toMap
    }

    val outDir = Files.createTempDirectory("graft-spec-write")
    val out = outDir.resolve("w").toString
    val (sigs, nSpeculative, sumCount) = ClusterVerify.withSession(b =>
      ClusterVerify.clusterBase(b, "local-cluster[2,2,1024]")
        .appName("graft-speculation")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "50ms")
        .config("spark.speculation.multiplier", "1.0")
        .config("spark.speculation.quantile", "0.5")) { spark =>
      val specSubmitted = new AtomicInteger
      val specStarts = new AtomicInteger
      val listener = new SparkListener {
        override def onSpeculativeTaskSubmitted(
            t: org.apache.spark.scheduler.SparkListenerSpeculativeTaskSubmitted): Unit = {
          specSubmitted.incrementAndGet(); ()
        }
        // launches stay 0 on this single-host rig (scaladoc above);
        // counted anyway so a future multi-host run upgrades for free
        override def onTaskStart(t: SparkListenerTaskStart): Unit =
          if (t.taskInfo.speculative) { specStarts.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val sigs = gates.map(n =>
          n -> ClusterVerify.signature(SparkEntry.queries(n)(spark, sfDir))).toMap
        // warm the executors first: cold first-wave tasks (classloading,
        // codegen) run ~2 s each and inflate the median the speculation
        // threshold is computed from — measured to delay the speculatable
        // marking past job completion
        spark.range(0, 1000, 1, 8).count()
        // straggler write: partition 0 sleeps per row (~7.5 s task) while
        // the other 7 finish in ms — past the 0.5 quantile its runtime
        // exceeds median×1.0, so a speculative copy races it and the
        // commit protocol must keep exactly one attempt
        import spark.implicits._
        val df = spark.range(0, 4000, 1, 8).mapPartitions { it =>
          val slow = org.apache.spark.TaskContext.getPartitionId() == 0
          it.map { i => if (slow) Thread.sleep(15); i * 7L }
        }.toDF("v")
        df.write.mode("overwrite").parquet(out)
        val got = spark.read.parquet(out)
          .selectExpr("sum(v)", "count(*)").as[(Long, Long)].head()
        // the scheduler marked the straggler while it ran, so its
        // event is on the listener bus: drain it before reading
        org.apache.spark.sql.graftbridge.bridge.waitListenerBusEmpty(spark, 30000)
        if (specStarts.get() > 0)
          System.err.println(s"[speculation] ${specStarts.get()} speculative " +
            "copies actually LAUNCHED (multi-host rig?)")
        (sigs, specSubmitted.get(), got)
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    gates.foreach(n => assert(sigs(n) == refs(n),
      s"$n diverged under aggressive speculation"))
    val expectedSum = (0L until 4000L).map(_ * 7L).sum
    assert(sumCount == ((expectedSum, 4000L)),
      s"speculative write not exactly-once: got $sumCount, " +
        s"expected ($expectedSum, 4000) — duplicate or lost attempt files")
    assert(nSpeculative > 0,
      "the speculation scheduler never marked a straggler speculatable — " +
        "the run was vacuous (check interval/multiplier/quantile)")
    graft.Fs.deleteRecursively(outDir)
  }
}
