package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamStages

/** Streaming-state scale curves (VERDICT r10 task 4): replay the
  * `events` table of a ScaleGen slice through the three stateful
  * streaming gates — within-watermark dedup, windowed agg, custom
  * sessionization — and record wall time AND state-store size, so the
  * "state is bounded by the watermark horizon / active keys / open
  * windows" claims in StreamStages' docs become measured numbers
  * across 1×→10×→50× of the sf0.1 event volume.
  *
  * State metrics come from the StreamingQueryProgress stateOperators
  * section (numRowsTotal, memoryUsedBytes): the max across the run's
  * micro-batches — the peak the store actually held. CALIBRATION
  * (r12, measured by graft.StatePressure): memoryUsedBytes is a
  * SizeEstimator figure and OVERCOUNTS real heap demand — the 50×
  * point it reports as ≈1.1 GB fits and completes on a 1 GiB-heap
  * executor; genuine heap death arrives between 5 M and 15 M keys.
  * Use numRowsTotal for sizing decisions and treat the byte figure
  * as an upper bound, not a requirement. The RocksDB A/B
  * rides the same `SPARK_GRAFT_STATE_PROVIDER` env knob every gate
  * run honors (StreamStages.withGateConf), so provider numbers are
  * measured on the exact gate semantics.
  *
  * Usage: ScaleStream <sliceDir> [gateCsv]
  * Prints one JSON line per gate:
  *   {"gate":…,"events":N,"secs":…,"out_rows":…,
  *    "state_rows_max":…,"state_bytes_max":…,"provider":"hdfs|rocksdb"}
  */
object ScaleStream {

  final case class Run(gate: String, events: Long, secs: Double,
      outRows: Long, stateRowsMax: Long, stateBytesMax: Long)

  /** The stream_dedup gate shape, shared with [[StatePressure]] so
    * the pressure cell provably measures the SAME query these scale
    * curves calibrated (one definition, no copy-drift): the events
    * frame written DOUBLED to `inDir` (idempotent — skipped when the
    * dir exists so multiple sessions can reuse one input), then the
    * within-watermark dedup stream over it.
    */
  private[graft] def dedupShape(spark: SparkSession, events: DataFrame,
      inDir: String): DataFrame = {
    val ev = events.select(col("event_id"), col("event_type"),
      timestamp_micros(expr("ts div 1000")).as("ets"))
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(inDir))) {
      ev.coalesce(4).write.mode("overwrite").parquet(inDir)
      ev.coalesce(4).write.mode("append").parquet(inDir)
    }
    val schema = spark.read.parquet(inDir).schema
    val src = StreamStages.fileSource(spark, "parquet", inDir, schema.json)
    StreamStages.dedupWithinWatermark(src, "ets", "1 hour", Seq("event_id"))
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ets")).as("ts_us"))
  }

  private def stateMax(q: StreamingQuery): (Long, Long) = {
    val ps = q.recentProgress
    if (ps == null || ps.isEmpty) (0L, 0L)
    else {
      val rows = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsTotal)).foldLeft(0L)(math.max)
      val bytes = ps.map(p => Option(p.stateOperators).toSeq.flatten
        .map(_.memoryUsedBytes).sum).foldLeft(0L)(math.max)
      (rows, bytes)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(',').map(_.trim).toSet) else None
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
    val spark = GraftSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = Tables.load(spark, dir, "events")
    val nEvents = events.count()

    def measure(gate: String)(body: () => (StreamingQuery, DataFrame)): Run = {
      val t0 = System.nanoTime()
      val (q, out) = body()
      val outRows = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val (sr, sb) = stateMax(q)
      Run(gate, nEvents, secs, outRows, sr, sb)
    }

    // --- the three gate bodies, verbatim shapes from EngineQueries ---

    def dedup() = measure("stream_dedup") { () =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-sdedup")
      val deduped = ScaleStream.dedupShape(spark, events, s"$base/in")
      val q = StreamStages.withGateConf(spark, StreamStages.SkipNoDataBatch) {
        StreamStages.runToMemory(deduped, "scale_sdedup")
      }
      (q, spark.table("scale_sdedup"))
    }

    /** The eviction proof: the single-AvailableNow-batch replay above
      * necessarily peaks at |keys in slice| (the watermark only
      * advances AFTER the one data batch), so its curve measures
      * worst-case state, not the operator's bound. Here the same
      * doubled stream is range-partitioned by event time into 16 files
      * replayed one per micro-batch — the watermark advances between
      * batches and the store must EVICT: peak state ≈ one batch's keys
      * + the 1-hour horizon tail, far below |keys|. This is the
      * measured form of the "state is watermark-horizon × rate, not
      * stream length" claim (StreamStages.dedupWithinWatermark doc).
      * Duplicates ride in the same time-range file so eviction can
      * never un-dedup them (within-watermark semantics only guarantee
      * the horizon).
      */
    def dedupPaced() = measure("stream_dedup_paced") { () =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-sdedupp")
      val ev = events.select(col("event_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
      ev.union(ev).repartitionByRange(16, col("ets"))
        .sortWithinPartitions("ets")
        .write.mode("overwrite").parquet(s"$base/in")
      // FileStreamSource orders batches by file MODIFICATION TIME, and
      // the 16 parallel write tasks finish in arbitrary order — left
      // alone, later batches can carry OLDER ranges and the stateful
      // operator drops them as late. Stamp strictly increasing mtimes
      // in range (= part-file name) order so replay order is time
      // order, as a real ingestion directory's arrival order would be.
      // Files.setLastModifiedTime THROWS where File.setLastModified
      // fails silently (ADVICE r11) — a silent stamping failure would
      // scramble replay order and quietly invalidate the published
      // eviction-proof numbers instead of failing this run loudly.
      val dirList = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/in"))
      val parts =
        try dirList.iterator().asScala.toSeq
        finally dirList.close()
      parts.filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
        .zipWithIndex.foreach { case (p, i) =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(
              1704067200000L + i * 60000L))
        }
      val schema = spark.read.parquet(s"$base/in").schema
      val src = StreamStages.fileSource(spark, "parquet", s"$base/in",
        schema.json, maxFilesPerTrigger = Some(1))
      val deduped = StreamStages.dedupWithinWatermark(src, "ets", "1 hour",
        Seq("event_id"))
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ets")).as("ts_us"))
      val q = StreamStages.withGateConf(spark, StreamStages.SkipNoDataBatch) {
        StreamStages.runToMemory(deduped, "scale_sdedup_paced")
      }
      (q, spark.table("scale_sdedup_paced"))
    }

    def windowAgg() = measure("stream_window_agg") { () =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-swin")
      events.withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .select("ets", "event_type")
        .coalesce(4).write.mode("overwrite").parquet(base.toString)
      val schema = spark.read.parquet(base.toString).schema
      val src = StreamStages.fileSource(spark, "parquet", base.toString, schema.json)
      val agg = StreamStages.windowedAgg(src, "ets", watermark = Some("1 hour"),
        windowDuration = "1 day", slide = None,
        groupBy = Seq("event_type"), aggregates = Seq("count(*) AS n"))
      val q = StreamStages.withGateConf(spark) {
        StreamStages.runToMemory(agg, "scale_swin")
      }
      (q, spark.table("scale_swin"))
    }

    def sessionize() = measure("stream_sessionize") { () =>
      val base = java.nio.file.Files.createTempDirectory("graft-scale-ssess")
      events.select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ets"))
        .coalesce(4).write.mode("overwrite").parquet(base.toString)
      val schema = spark.read.parquet(base.toString).schema
      val src = StreamStages.fileSource(spark, "parquet", base.toString, schema.json)
      val sess = StreamStages.statefulSessions(src, "user_id", "ets",
        watermark = "1 hour", gapUs = 1800000000L)
      val q = StreamStages.withGateConf(spark) {
        StreamStages.runToMemory(sess, "scale_ssess")
      }
      (q, spark.table("scale_ssess"))
    }

    val gates = Seq("stream_dedup" -> (dedup _),
      "stream_dedup_paced" -> (dedupPaced _),
      "stream_window_agg" -> (windowAgg _),
      "stream_sessionize" -> (sessionize _))
    only.foreach { sel =>
      val unknown = sel -- gates.map(_._1).toSet
      if (unknown.nonEmpty) {
        System.err.println(s"[scale-stream] unknown gate name(s): " +
          unknown.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    val lines = gates.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (_, g) =>
        val r = g()
        // Jsons.num is Locale.ROOT: the f-interpolator would render a
        // decimal comma under e.g. de_DE and break the JSON (ADVICE r11)
        val line = s"""{"gate": "${r.gate}", "events": ${r.events}, """ +
          s""""secs": ${Jsons.num(r.secs)}, "out_rows": ${r.outRows}, """ +
          s""""state_rows_max": ${r.stateRowsMax}, """ +
          s""""state_bytes_max": ${r.stateBytesMax}, """ +
          s""""provider": "$provider"}"""
        println(line)
        line
      }
    // committed-artifact sink (r15): one JSON object collecting the
    // per-gate lines, same best-effort discipline as Bench. Guard: a
    // gate-filtered run, the rocksdb A/B (verify skill §6), or a full
    // run pointed at a different ladder slice (ADVICE r15) must not
    // silently clobber the committed full hdfs-provider 10× artifact —
    // default sink only on full default-provider runs at the committed
    // slice; anything else writes only with an explicit env override.
    val json = s"""{"dir":${Jsons.jq(dir)},"provider":${Jsons.jq(provider)},""" +
      s""""gates":[${lines.mkString(",")}]}"""
    val outPath = sys.env.get("SPARK_GRAFT_SCALESTREAM_OUT").orElse(
      if (only.isEmpty && provider == "hdfs" && dir.endsWith("scale10x"))
        Some("SCALE_STREAM.json") else None)
    outPath.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[scale-stream] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
