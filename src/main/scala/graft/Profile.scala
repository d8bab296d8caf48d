package graft

/** Stage-level profiler for one or more declared queries (guide §1:
  * measure first). Runs each query through Bench's session and run
  * step, a warm-up rep and then a rep measured by [[Metrics]], and
  * prints the measured rep's job count and per-stage wall/CPU/shuffle
  * metrics sorted by task time, each stage labelled by its operators —
  * the offline stand-in for the Spark UI job and stage tables (the
  * bench runs with the UI disabled). What the counts mean:
  * docs/verification.md ("Task metrics").
  * Diagnostic tool only: not part of any gate or bench artifact.
  *
  * Usage: runMain graft.Profile <sfDir> <name>[,<name>…]
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Bench.session()
    SessionConf.applyEnv(spark)
    Bench.warmUp(spark, sfDir)

    names.foreach { name =>
      val warm = Bench.runOnce(spark, sfDir, name) // JIT/codegen warm-up, not reported
      val (sec, r) = Metrics.measure(spark)(Bench.runOnce(spark, sfDir, name))
      println(f"===== $name%s: ${sec}%.3f s (warm-up rep: ${warm}%.3f s), " +
        s"${r.jobs.size} jobs, ${r.stages.size} stages, ${r.compiles} classes compiled =====")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s " +
        f"${"cpu_ms"}%8s ${"gc_ms"}%6s ${"in_MB"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"spill_MB"}%8s  operators")
      r.stages.sortBy(-_.runMs).take(30).foreach { s =>
        println(f"${s.id}%6d ${s.tasks}%5d ${s.wallMs}%8d ${s.runMs}%8d " +
          f"${s.cpuMs}%8d ${s.gcMs}%6d ${s.inputBytes / 1e6}%8.1f " +
          f"${s.shuffleReadBytes / 1e6}%8.1f ${s.shuffleWriteBytes / 1e6}%8.1f " +
          f"${(s.memorySpilled + s.diskSpilled) / 1e6}%8.1f  ${s.label.take(110)}")
      }
      println(f"total task run_ms: ${r.stages.map(_.runMs).sum}%d over ${r.stages.size} stages")
    }
    spark.stop()
  }
}
