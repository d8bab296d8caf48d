package graft

/** Plan inspector: print a gate query's optimized + formatted physical
  * plan without executing it (generator-input vs project siting, scan
  * pushdown, join strategy — the SURVEY perf-rule checklist).
  * `--final` runs the query (collect) first and prints the formatted
  * final adaptive plan beside the initial one, so AQE's runtime
  * choices (broadcast conversion, coalesced widths) are visible.
  *
  * Usage: PlanDump <sfDir> <name>[,<name>…] [--optimized|--formatted|--final]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).toSeq
    val mode = if (args.length > 2) args(2) else "--formatted"
    val spark = GraftSession.start(GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      mode match {
        case "--optimized" => println(df.queryExecution.optimizedPlan.treeString)
        case "--final" =>
          df.collect()
          df.explain("formatted")
        case _ => df.explain("formatted")
      }
    }
    spark.stop()
  }
}
