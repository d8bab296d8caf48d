package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._

/** The task-metrics collector counts exactly its body's jobs: the same
  * jobs and per-stage task counts Spark's own status store records,
  * read after one listener-bus drain, with no polling.
  */
class MetricsSpec extends SparkSpec {
  private def tracker = spark.sparkContext.statusTracker
  private def groupJobs(group: String) = tracker.getJobIdsForGroup(group).toSeq.sorted

  /** Measures `before`, then an adaptive query with two shuffles (AQE
    * submits its stages from futures), all in job group `group`.
    */
  private def measured(group: String, before: => Unit = ()): Metrics.Report =
    Metrics.measure(spark) {
      spark.sparkContext.setJobGroup(group, group)
      try {
        before
        spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count()
          .orderBy("count", "k").collect()
      } finally spark.sparkContext.clearJobGroup()
    }._2

  test("back-to-back measures count their own jobs, not each other's or another " +
      "thread's, with the status store's task counts and operator-named stages") {
    val go = new CountDownLatch(1)
    // started before the measure, so it does not inherit the tag
    val other = new Thread(() => {
      go.await()
      spark.sparkContext.setJobGroup("metrics-other", "unmeasured")
      spark.range(0, 5000, 1, 4).selectExpr("sum(id)").collect()
    })
    other.start()
    val a = measured("metrics-a", { go.countDown(); other.join() })
    val b = measured("metrics-b")
    assert(groupJobs("metrics-other").nonEmpty)
    for ((m, group) <- Seq(a -> "metrics-a", b -> "metrics-b")) {
      assert(m.jobs.nonEmpty && m.jobs.sorted == groupJobs(group), s"$group: ${m.jobs}")
      m.stages.foreach(s => assert(
        tracker.getStageInfo(s.id).map(_.numCompletedTasks).contains(s.tasks), s))
      val labels = m.stages.map(_.label)
      assert(labels.exists(_.contains("Exchange")) &&
        !labels.exists(_.contains("CompletableFuture")), labels)
    }
    assert(a.stages.size == b.stages.size,
      s"the same query measured ${a.stages.size} then ${b.stages.size} stages")
  }
}
