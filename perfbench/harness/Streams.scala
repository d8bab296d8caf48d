package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import graft.pipeline.Pipeline

/** The streaming requests of `etl_pipeline`. Each one publishes seeded
  * event segments into the input dir (a rename of a closed file) and
  * runs one streaming pipeline over them through `Pipeline.run`
  * (AvailableNow): parquet `streamSource` → event time → `streamDedup`
  * → broadcast join to `customer` → `windowAgg` → checkpointed parquet
  * `streamSink`. An increment publishes one segment; a catch-up
  * publishes a backlog of `CatchupSegments` and drains it in one run.
  */
final class Streams(segs: Path, tables: Path, work: Path, perSeg: Long, nSegs: Int) {
  import Streams._

  private val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val base = work.resolve("stream")
  private val in = base.resolve("in")
  private lazy val json = spec(tables, Files.createDirectories(in), base.resolve("out"),
    base.resolve("ckpt"))
  private var next = 0

  /** Runs the stream's first `WarmUpRuns` increments, untimed, so that
    * every timed increment continues a running stream (state and logs
    * restored from its checkpoint) on warm code, instead of starting a
    * fresh one. Their ids start with "warm".
    */
  def warmUp(spark: SparkSession): Unit =
    (0 until WarmUpRuns).foreach(i => Pipeline.fromJson(publish(s"warm-$i", 1)._3).run(spark))

  /** Segments not yet published. */
  def left: Int = nSegs - next

  /** Publishes the next `n` segments; returns their names and the
    * streaming pipeline to time from this moment on.
    */
  def publish(id: String, n: Int): (Seq[String], Long, String) = {
    val names = (next until next + n).map(s => f"seg-$s%05d.parquet")
    json // creates the input dir
    names.foreach(f => Files.move(segs.resolve(f), in.resolve(f)))
    next += n
    runs += Map("req" -> id, "segments" -> names)
    (names, n * perSeg, json)
  }

  def info: Map[String, Any] = Map("runs" -> runs.toSeq, "in" -> in.toString,
    "sink" -> base.resolve("out").toString, "delay_us" -> Gen.DelayUs, "window_us" -> WindowUs)
}

object Streams {
  val CatchupSegments = 4
  /** Increments run before the warm-up blocks of `etl_pipeline`, which
    * hold one more each: the first timed increment ran 10–25 % slower
    * than later ones after a single warm-up increment.
    */
  val WarmUpRuns = 1
  val WindowUs = 60L * 1000000L

  private val SegmentSchema =
    """{"type":"struct","fields":[""" + Seq("event_id" -> "long", "user_id" -> "long",
      "event_type" -> "string", "value_c" -> "long", "ts_us" -> "long").map { case (n, t) =>
      s"""{"name":"$n","type":"$t","nullable":true,"metadata":{}}""" }.mkString(",") + "]}"

  private def stage(name: String, tpe: String, props: (String, String)*): Map[String, Any] =
    Map("name" -> name, "type" -> tpe, "properties" -> props.toMap)

  def spec(tables: Path, in: Path, out: Path, ckpt: Path): String = Json(Map(
    "stages" -> Seq(
      stage("src", "streamSource", "format" -> "parquet", "path" -> in.toString,
        "schema" -> SegmentSchema),
      stage("ts", "withColumn", "name" -> "ets", "expression" -> "timestamp_micros(ts_us)"),
      stage("dd", "streamDedup", "timeCol" -> "ets", "watermark" -> Gen.DelayText,
        "keys" -> "event_id"),
      stage("cust", "parquet", "path" -> s"$tables/customer.parquet"),
      stage("j", "join", "condition" -> "l.user_id = r.c_custkey", "broadcast" -> "true"),
      stage("agg", "windowAgg", "timeCol" -> "ets", "window" -> s"${WindowUs / 1000000L} seconds",
        "groupBy" -> "c_mktsegment",
        "aggregates" -> "count(*) AS n, sum(value_c) AS vsum, max(value_c) AS vmax"),
      stage("proj", "select",
        "columns" -> "unix_micros(window.start) AS w_start_us, c_mktsegment, n, vsum, vmax"),
      stage("out", "streamSink", "format" -> "parquet", "path" -> out.toString,
        "checkpoint" -> ckpt.toString, "outputMode" -> "append")),
    "connections" -> Seq("src" -> "ts", "ts" -> "dd", "dd" -> "j", "cust" -> "j",
      "j" -> "agg", "agg" -> "proj", "proj" -> "out").map { case (f, t) =>
      Map("from" -> f, "to" -> t) }))
}
