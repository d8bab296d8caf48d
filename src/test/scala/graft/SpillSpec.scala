package graft

/** CI guard for the spill path (companion to [[SpillVerify]]'s full
  * committed sweep): force every sorter/window buffer to spill via the
  * runtime force-spill thresholds, run a window-heavy gate, and pin
  * that (a) spill ACTUALLY happened — the task metrics show disk
  * bytes — and (b) the result signature is bit-identical to the
  * unforced run. Cheap by design: the thresholds are SQLConf (runtime
  * settable on the shared local[4] session), unlike SpillVerify's
  * memory.fraction squeeze which needs its own executor JVMs.
  *
  * Why it matters: at 100 TB partitions outgrow execution memory and
  * every design note in this repo answers "Spark spills and the result
  * is unchanged". This spec keeps the spill read/merge path executing
  * under OUR plans in every `sbt test`, so the claim can't silently
  * rot (before r12 no gate run had ever actually spilled).
  */
class SpillSpec extends SparkSpec {

  // SQL configs only: the core-side force threshold
  // (spark.shuffle.spill.numElementsForceSpillThreshold) is not
  // runtime-modifiable — SpillVerify sets it at session build instead
  private val thresholdKeys = Seq(
    "spark.sql.windowExec.buffer.spill.threshold",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold")

  test("forced spill: window gate hash-matches its in-memory run and reports disk spill") {
    val sf01 = "/root/testdata/sf0.01" // enough rows to cross the threshold
    val fn = SparkEntry.queries("window_rank")
    val ref = ClusterVerify.signature(fn(spark, sf01))

    try {
      thresholdKeys.foreach(spark.conf.set(_, "512"))
      val (forced, metrics) =
        Metrics.measure(spark)(ClusterVerify.signature(fn(spark, sf01)))
      assert(forced == ref,
        s"spilled run diverged from in-memory run: $forced vs $ref")
      assert(metrics.diskSpilled > 0,
        "force-spill thresholds at 512 elements produced no disk spill — " +
          "the spill path did not execute and this spec proved nothing")
    } finally thresholdKeys.foreach(spark.conf.unset)
  }
}
