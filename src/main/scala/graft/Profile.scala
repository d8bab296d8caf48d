package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Stage-level profiler for one or more declared queries (guide §1:
  * measure first). Runs each query through the noop sink exactly like
  * Bench (same session shape), warm-up rep + measured rep, and prints
  * the measured rep's Spark job count and per-stage wall/CPU/shuffle
  * metrics sorted by task time — the offline stand-in for the Spark UI
  * job and stage tables (the bench runs with the UI disabled).
  * Diagnostic tool only: not part of any gate or bench artifact.
  *
  * Usage: runMain graft.Profile <sfDir> <name>[,<name>…]
  */
object Profile {
  final case class StageRow(id: Int, name: String, tasks: Int,
      wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
      inBytes: Long, shReadB: Long, shWriteB: Long, outRows: Long,
      spillB: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    SessionConf.applyEnv(spark)

    val stages = ArrayBuffer.empty[StageRow]
    // @volatile + listenerBus drain before every toggle/read (ADVICE
    // r16): the listener bus is asynchronous, so without the drain a
    // measured rep's stage-completed events can arrive after `record`
    // flips back to false (dropped rows) or warm-up events after it
    // flips true (leaked rows).
    @volatile var record = false
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(-1L)
          stages.synchronized {
            stages += StageRow(si.stageId, si.name, si.numTasks, wall,
              m.executorRunTime, m.executorCpuTime / 1000000,
              m.jvmGCTime, m.inputMetrics.bytesRead,
              m.shuffleReadMetrics.remoteBytesRead
                + m.shuffleReadMetrics.localBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.outputMetrics.recordsWritten,
              m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
    })

    def runOnce(name: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up for JIT + page cache, like Bench
    runOnce("q1_agg"); runOnce("join_inner")

    def drainListeners(): Unit =
      org.apache.spark.sql.graftbridge.bridge.waitListenerBusEmpty(spark, 30000)

    names.foreach { name =>
      val warm = runOnce(name) // rep 1: JIT/codegen warm-up, not reported
      drainListeners()
      stages.synchronized(stages.clear())
      jobs = 0
      record = true
      val sec = runOnce(name)
      drainListeners()
      record = false
      val snap = stages.synchronized(stages.toVector)
      println(f"===== $name%s: ${sec}%.3f s (warm-up rep: ${warm}%.3f s), " +
        s"$jobs jobs, ${snap.size} stages =====")
      val rows = snap.sortBy(-_.runMs).take(30)
      println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s " +
        f"${"cpu_ms"}%8s ${"gc_ms"}%6s ${"in_MB"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"spill_MB"}%8s  name")
      rows.foreach { r =>
        println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs}%8d ${r.runMs}%8d " +
          f"${r.cpuMs}%8d ${r.gcMs}%6d ${r.inBytes / 1e6}%8.1f " +
          f"${r.shReadB / 1e6}%8.1f ${r.shWriteB / 1e6}%8.1f " +
          f"${r.spillB / 1e6}%8.1f  ${r.name.take(110)}")
      }
      val totalRun = snap.map(_.runMs).sum
      println(f"total task run_ms: $totalRun%d over ${snap.size} stages")
    }
    spark.stop()
  }
}
