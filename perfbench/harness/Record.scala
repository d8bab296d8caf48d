package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read through `nanoTime` so that
  * spans and op timings are monotonic and comparable with the epoch
  * milliseconds Spark's listener events carry.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(ns: Long): Long = baseUs + (ns - baseNs) / 1000L
  def nowUs: Long = us(System.nanoTime())

  /** Names of the JVM's own threads: JIT compilers and garbage collectors. */
  private val Jvm = "^(C1 |C2 |Sweeper|GC |G1 |VM ).*".r
  /** Linux reports thread times in ticks of 1 / USER_HZ = 10 ms. */
  private val TickUs = 10000L

  /** CPU time of the process, every thread that ran so far, minus that
    * of the JVM's own threads (which never exit), in microseconds, from
    * /proc. The kernel leaves out of it the time the host gives this
    * machine's cores to other tenants, and leaving out the JIT compilers
    * and the GC keeps the warming JVM's background work out of the ops it
    * overlaps.
    */
  def appCpuUs: Long = {
    def ticks(stat: String): Long = {
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong
    }
    def read(p: Path): String = new String(Files.readAllBytes(p))
    val all = ticks(read(Paths.get("/proc/self/stat")))
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jvm = try {
      tasks.iterator().asScala.map { t =>
        try {
          val st = read(t.resolve("stat"))
          val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
          if (Jvm.pattern.matcher(name).matches) ticks(st) else 0L
        } catch { case _: java.io.IOException => 0L }
      }.sum
    } finally tasks.close()
    (all - jvm) * TickUs
  }
}

/** JSON text of the raw record and of pipeline specs. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
  def writeFile(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}

/** Everything one harness run records: timed ops, run info and, when
  * tracing, spans plus what the Spark, SQL and streaming listeners saw.
  * Spans are kept in memory and written out once, at the end.
  */
final class Rec(val trace: Boolean) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Long] = Nil
  private var nextSpan = 1L
  private var req = ""
  val probe = new SparkProbe

  /** Time `body`; returns its result and (startUs, endUs). */
  def timed[T](body: => T): (T, Long, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, Clock.us(t0), Clock.us(System.nanoTime()))
  }

  /** A span around a call into one layer. Untraced runs only run `body`. */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "req" -> req, "start_us" -> Clock.us(t0), "end_us" -> Clock.us(t1))
      }
    }

  /** Tags the Spark jobs `body` submits with request id `id`, so the
    * listener can attribute jobs, stages and tasks to the request.
    */
  def withReq[T](spark: SparkSession, id: String)(body: => T): T =
    if (!trace) body
    else {
      val sc = spark.sparkContext
      req = id
      sc.setLocalProperty(SparkProbe.ReqKey, id)
      try body
      finally { sc.setLocalProperty(SparkProbe.ReqKey, null); req = "" }
    }

  def op(kind: String, id: String, startUs: Long, endUs: Long, ok: Boolean,
      extra: (String, Any)*): Unit =
    ops += (Map[String, Any]("kind" -> kind, "req" -> id,
      "start_us" -> startUs, "end_us" -> endUs, "ok" -> ok) ++ extra)


  /** Listeners go on every session the run builds; only what they see
    * after [[reset]] is reported.
    */
  def attach(spark: SparkSession): Unit = if (trace) {
    spark.sparkContext.addSparkListener(probe)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(probe.sql)
    spark.streams.addListener(probe.stream)
  }

  def drain(spark: SparkSession): Unit = if (trace)
    org.apache.spark.sql.graftbridge.bridge.waitListenerBusEmpty(spark, 30000)

  def reset(spark: SparkSession): Unit = { drain(spark); probe.clear() }

  def result: Map[String, Any] = Map(
    "info" -> info, "ops" -> ops, "spans" -> spans, 
    "jobs" -> probe.jobs.toSeq, "stages" -> probe.stages.toSeq,
    "planning" -> probe.planning.toSeq, "batches" -> probe.batches.toSeq)
}

object SparkProbe { val ReqKey = "perfbench.req" }

/** Spark, SQL and streaming listener records for the traced run. */
final class SparkProbe extends SparkListener {
  import SparkProbe.ReqKey
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val planning = ArrayBuffer.empty[Map[String, Any]]
  val batches = ArrayBuffer.empty[Map[String, Any]]
  private val stageReq = scala.collection.mutable.HashMap.empty[Int, String]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, (String, Long)]

  private final class TaskAgg {
    var tasks = 0; var failed = 0
    val runMs = ArrayBuffer.empty[Long]
    var cpuNs = 0L; var gcMs = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
  }
  private val taskAgg = scala.collection.mutable.HashMap.empty[(Int, Int), TaskAgg]

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); planning.clear(); batches.clear()
    taskAgg.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqKey))).getOrElse("")
    e.stageIds.foreach(stageReq(_) = req)
    jobStart(e.jobId) = (req, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (req, t0) =>
      jobs += Map("id" -> e.jobId, "req" -> req, "start_ms" -> t0,
        "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val a = taskAgg.remove((s.stageId, s.attemptNumber())).getOrElse(new TaskAgg)
    stages += Map("id" -> s.stageId, "req" -> stageReq.getOrElse(s.stageId, ""),
      "submit_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> a.tasks, "failed_tasks" -> a.failed, "task_run_ms" -> a.runMs.toSeq,
      "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs, "shuffle_read_b" -> a.shRead,
      "shuffle_write_b" -> a.shWrite, "spill_b" -> a.spill,
      "failed" -> s.failureReason.isDefined)
  }

  /** Catalyst phase times (analysis, optimization, planning) per query. */
  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) SparkProbe.this.synchronized {
        planning += Map("start_ms" -> ph.values.map(_.startTimeMs).min,
          "ms" -> ph.values.map(_.durationMs).sum)
      }
    }
  }

  /** Micro-batch progress of every streaming query. */
  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      SparkProbe.this.synchronized {
        batches += Map("batch" -> p.batchId, "run_id" -> p.runId.toString,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "dropped_by_watermark" -> ops.map(o => o.operatorName -> o.numRowsDroppedByWatermark).toMap)
      }
    }
  }
}
