package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The scale-curve runner's stream probe and fits, cheap enough for
  * every `sbt test`: a stream point's [[Curves.StatePeaks]] fields
  * against the gate's own progress and result, and [[Curves.expFields]]
  * and [[Curves.linearFit]] against hand-computed tables.
  */
class CurvesSpec extends SparkSpec {

  // Its own session, so the gate's memory-sink view stays out of the
  // shared one.
  override lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate().newSession()

  test("a stream point's state peak and out rows are the gate's own") {
    @volatile var started: Option[StreamingQuery] = None
    val grab = new StreamingQueryListener {
      // runs while the query is starting, so it is still active
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started = Option(spark.streams.get(e.id))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(grab)
    val point =
      try Curves.kinds("stream_sessionize").rep(spark, sfDir).toMap
      finally spark.streams.removeListener(grab)
    val q = started.get
    val peak = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).max
    assert(peak > 0 && point("state_rows_max") == peak, point)
    assert(point("out_rows") == spark.table(q.name).count(), point)
    assert(point("events") == Tables.load(spark, sfDir, "events").count(), point)
    assert(point("wall_s") > 0 && point("jobs") > 0, point)
  }

  test("expFields and linearFit: null below two positive points, exact on exact curves") {
    val noExp = """"exp_full":null,"exp_tail":null"""
    val exps = Seq(
      Seq.empty[(Long, Double)] -> noExp,
      Seq(1L -> 5.0) -> noExp,
      // zero and negative points (failed reps) are dropped
      Seq(1L -> 0.0, 3L -> -1.0, 10L -> 4.0) -> noExp,
      Seq(1L -> -1.0, 2L -> 4.0, 4L -> 16.0) -> """"exp_full":2.00,"exp_tail":2.00""",
      Seq(1L -> 2.0, 3L -> 18.0, 10L -> 200.0) -> """"exp_full":2.00,"exp_tail":2.00""",
      Seq(1L -> 1.0, 10L -> 10.0, 100L -> 10.0) -> """"exp_full":0.50,"exp_tail":0.00""")
    for ((pts, want) <- exps) assert(Curves.expFields(pts) == want, pts)

    val noFit = """"linear_fit":{"const_py_s":null,"marginal_us_per_doc":null,"r2":null}"""
    val fits = Seq(
      Seq(5000.0 -> 5.0) -> noFit,
      // a run without its work line records NaN work
      Seq(5000.0 -> Double.NaN, 15000.0 -> 5.0) -> noFit,
      Seq(5000.0 -> 0.0, 15000.0 -> -1.0, 50000.0 -> 3.0) -> noFit,
      Seq(5000.0 -> 6.0, 5000.0 -> 7.0) -> noFit,
      // py_work = 5.5 s + 100 µs per doc
      Seq(5000.0 -> 6.0, 15000.0 -> 7.0, 50000.0 -> 10.5) ->
        """"linear_fit":{"const_py_s":5.50,"marginal_us_per_doc":100.00,"r2":1.00}""")
    for ((pts, want) <- fits) assert(Curves.linearFit(pts) == want, pts)
  }
}
