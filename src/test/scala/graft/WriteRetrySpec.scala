package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object WriteRetrySpec {
  /** JVM-wide: the injected failure fires exactly once, so attempt 1
    * of the poisoned partition dies mid-write and attempt 2 succeeds.
    */
  val failedOnce = new AtomicBoolean(false)
}

/** Write-side recovery proof: a task that dies MID-WRITE — after rows
  * have already gone through the parquet writer — must not leave its
  * partial output behind when Spark retries it. FaultVerify proves
  * the read/compute side of executor loss (lineage + shuffle replay);
  * this pins the sink side: FileFormatWriter's commit protocol keeps
  * every attempt in a task-attempt temp path and only task commit
  * (driver-arbitrated via OutputCommitCoordinator, which is also what
  * serializes speculative duplicate attempts) promotes it into the
  * output — an aborted attempt's rows must appear ZERO times, the
  * retried attempt's exactly once.
  *
  * At 100 TB this is the difference between "a flaky executor costs a
  * task retry" and "a flaky executor silently duplicates a shard of
  * the training set": a duplicated shard is exactly the corruption
  * the dedup family exists to remove, so the writer must never be the
  * thing that introduces it.
  *
  * Needs its own session: plain `local[4]` schedules with
  * maxFailures=1, where the first task failure fails the job instead
  * of retrying — `local[4,2]` allows the one retry the proof needs.
  */
class WriteRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    // ORDERING ASSUMPTION: stopping whatever session is active is safe
    // only because Test/parallelExecution := false serializes suites in
    // the one forked JVM — no other suite can be mid-test when this
    // lazy val initializes (or when afterAll re-stops). If parallel
    // suite execution is ever enabled, this must instead track and stop
    // only sessions this suite created.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("file commit protocol: a mid-write task failure leaves no partial or duplicate rows") {
    import spark.implicits._
    val n = 100000L
    val df = spark.range(0, n, 1, 4).toDF("id")
    // poison partition 0: die after 500 rows have ALREADY been handed
    // to the writer, once — deep enough that a partial parquet file
    // exists in the attempt dir when the task aborts
    val poisoned = df.as[Long].mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var handed = 0
      it.map { v =>
        handed += 1
        if (pid == 0 && handed == 500 &&
            !WriteRetrySpec.failedOnce.getAndSet(true))
          throw new RuntimeException(
            "injected mid-write failure (attempt 1, partition 0)")
        v
      }
    }.toDF("id")

    val out = Files.createTempDirectory("graft-write-retry").resolve("out")
    poisoned.write.parquet(out.toString) // must succeed via task retry
    assert(WriteRetrySpec.failedOnce.get(), "the injected failure never fired")

    val got = spark.read.parquet(out.toString)
    // exactly-once: right count, no duplicates, right content
    assert(got.count() === n)
    assert(got.distinct().count() === n)
    val sum = got.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
    assert(sum === n * (n - 1) / 2)
    // and nothing but committed outputs in the directory — no stray
    // attempt files survived the abort
    val stray = Option(out.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .filterNot(f => f.startsWith("part-") || f.startsWith("_SUCCESS") ||
        f.endsWith(".crc") || f == "_temporary") // .crc: local-FS checksum sidecars
    assert(stray.isEmpty, s"unexpected files in output: ${stray.mkString(", ")}")
    assert(!out.resolve("_temporary").toFile.exists(),
      "_temporary staging dir survived job commit")
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
