package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.bridge

/** The engine's one task-metrics collector: [[measure]] runs a body
  * and returns its value with the Spark jobs and stages it ran. How it
  * counts, tags and drains is described once, in docs/verification.md
  * ("Task metrics").
  */
object Metrics {

  /** One stage of a measured body, summed over the task-end events of
    * all its attempts. `tasks` counts successful tasks; the byte, time
    * and spill sums include failed ones. `shuffleReadRecords` holds one
    * entry per task, in arrival order.
    */
  final case class Stage(id: Int, label: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Seq[Long],
      shuffleWriteBytes: Long, memorySpilled: Long, diskSpilled: Long)

  /** What a measured body cost: its jobs' ids, one row per stage that
    * ran (by stage id) and the Janino classes compiled JVM-wide while
    * it ran.
    */
  final case class Report(jobs: Seq[Int], stages: Seq[Stage], compiles: Long) {
    def memorySpilled: Long = stages.map(_.memorySpilled).sum
    def diskSpilled: Long = stages.map(_.diskSpilled).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  /** The local property that tags a measured body's jobs. */
  private val TagKey = "graft.metrics.tag"
  private val lastTag = new AtomicLong

  /** Runs `body` with its jobs tagged and returns its value with their
    * [[Report]]. A job run outside `body`, or inside another
    * `measure`, is not counted. If `body` throws, so does `measure`.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val collector = new Collector(s"m${lastTag.incrementAndGet()}")
    val outer = sc.getLocalProperty(TagKey)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(collector)
    sc.setLocalProperty(TagKey, collector.tag)
    try {
      val out = body
      bridge.waitListenerBusEmpty(spark, 30000)
      (out, collector.report(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
    } finally {
      sc.setLocalProperty(TagKey, outer)
      sc.removeSparkListener(collector)
    }
  }

  private final class Collector(val tag: String) extends SparkListener {
    private val jobs = mutable.ArrayBuffer.empty[Int]
    private val tagged = mutable.HashSet.empty[Int]
    private val taskEnds = mutable.ArrayBuffer.empty[SparkListenerTaskEnd]
    private val attempts = mutable.ArrayBuffer.empty[StageInfo]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(TagKey) == tag)) {
        jobs += e.jobId
        tagged ++= e.stageIds
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized { if (tagged(e.stageId)) taskEnds += e }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (tagged(e.stageInfo.stageId)) attempts += e.stageInfo }

    def report(compiles: Long): Report = synchronized {
      val ends = taskEnds.groupBy(_.stageId)
      val infos = attempts.groupBy(_.stageId)
      val stages = (ends.keySet ++ infos.keySet).toSeq.sorted.map { id =>
        val es = ends.getOrElse(id, Nil)
        val ms = es.flatMap(e => Option(e.taskMetrics))
        def sum(f: TaskMetrics => Long) = ms.map(f).sum
        val is = infos.getOrElse(id, Nil)
        Stage(id, is.lastOption.map(bridge.stageLabel).getOrElse(""),
          es.count(_.taskInfo.successful),
          is.flatMap(i => for (t0 <- i.submissionTime; t1 <- i.completionTime) yield t1 - t0).sum,
          sum(_.executorRunTime), sum(_.executorCpuTime) / 1000000, sum(_.jvmGCTime),
          sum(_.inputMetrics.bytesRead), sum(_.shuffleReadMetrics.totalBytesRead),
          ms.map(_.shuffleReadMetrics.recordsRead).toList,
          sum(_.shuffleWriteMetrics.bytesWritten), sum(_.memoryBytesSpilled),
          sum(_.diskBytesSpilled))
      }
      Report(jobs.toList, stages, compiles)
    }
  }
}
