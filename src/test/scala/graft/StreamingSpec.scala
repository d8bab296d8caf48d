package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.StreamStages

class StreamingSpec extends SparkSpec {

  // Its own session on the shared SparkContext, so these streams'
  // memory-sink views and conf changes stay out of the shared
  // session. (Dynamic jars ship through sparkContext.addJar alone, so
  // no session holds jars a stream's session clone could register
  // again; DynamicSpec runs a stream gate after shipping one.)
  override lazy val spark: org.apache.spark.sql.SparkSession =
    GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate().newSession()

  /** events replayed as a file stream (FIXTURES.md §B streaming
    * fixture): copy the sf0.001 events parquet into a stream dir, run a
    * windowed agg, compare against the identical batch computation.
    */
  test("file stream: watermarked tumbling window agg matches batch") {
    val streamDir = Files.createTempDirectory("graft-stream")
    // materialize events with a proper timestamp column (ts is long ns)
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("ets", "event_type", "value")
    // single file → single micro-batch: with several files AvailableNow
    // may process them in multiple batches, and a mid-stream watermark
    // advance would (correctly) drop genuinely-late rows — file order
    // isn't deterministic, so pin one batch for a stable expectation
    ev.coalesce(1).write.mode("overwrite").parquet(streamDir.toString)

    val schema = spark.read.parquet(streamDir.toString).schema
    val src = StreamStages.fileSource(spark, "parquet", streamDir.toString, schema.json)
    val agg = StreamStages.windowedAgg(src, "ets", watermark = Some("1 hour"),
      windowDuration = "1 day", slide = None,
      groupBy = Seq("event_type"), aggregates = Seq("count(*) AS n"))
    StreamStages.runToMemory(agg, "win_agg", outputMode = "append")

    val got = spark.table("win_agg")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // append mode only emits windows the watermark has passed: the
    // final windows (max event time - 1h watermark) stay open forever
    // once input ends — correct streaming semantics, so the batch
    // expectation excludes them.
    val maxTs = spark.read.parquet(streamDir.toString)
      .agg(max(col("ets"))).collect().head.getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 3600 * 1000)
    val expect = spark.read.parquet(streamDir.toString)
      .groupBy(window(col("ets"), "1 day"), col("event_type")).count()
      .filter(col("window.end") <= lit(horizon))
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got == expect)
  }

  test("sliding windows emit overlapping buckets") {
    val streamDir = Files.createTempDirectory("graft-stream5")
    Tables.load(spark, sfDir, "events")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("ets", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val src = StreamStages.fileSource(spark, "parquet", streamDir.toString, schema.json)
    val agg = StreamStages.windowedAgg(src, "ets", watermark = Some("1 hour"),
      windowDuration = "2 days", slide = Some("1 day"),
      groupBy = Nil, aggregates = Seq("count(*) AS n"))
    StreamStages.runToMemory(agg, "slide_win")
    val starts = spark.table("slide_win")
      .select(col("window.start")).collect().map(_.getTimestamp(0)).sorted
    assert(starts.length > 2)
    // consecutive 2-day windows sliding by 1 day overlap
    assert(starts.sliding(2).forall { case Array(a, b) =>
      b.getTime - a.getTime == 86400000L })
  }

  test("dedup within watermark drops replayed events") {
    val streamDir = Files.createTempDirectory("graft-stream2")
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("event_id", "ets", "event_type")
    // write twice → every event duplicated across files
    ev.write.mode("overwrite").parquet(streamDir.toString)
    ev.write.mode("append").parquet(streamDir.toString)

    val schema = spark.read.parquet(streamDir.toString).schema
    val src = StreamStages.fileSource(spark, "parquet", streamDir.toString, schema.json)
    val dedup = StreamStages.dedupWithinWatermark(src, "ets", "10 minutes", Seq("event_id"))
    StreamStages.runToMemory(dedup, "dedup_stream")
    assert(spark.table("dedup_stream").count() == ev.count())
  }

  test("stateful sessionization (flatMapGroupsWithState) matches batch gap-fold across replayed batches") {
    val base = Files.createTempDirectory("graft-sess")
    val in = base.resolve("in"); val out = base.resolve("out"); val cp = base.resolve("cp")
    val gapUs = 1800000000L // 30 min, matching the batch sessionize query
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("user_id", "ets")
    ev.coalesce(1).write.mode("overwrite").parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema

    def runPhase(): Unit = {
      val src = StreamStages.fileSource(spark, "parquet", in.toString, schema.json)
      val sess = StreamStages.statefulSessions(src, "user_id", "ets", "1 minute", gapUs)
      // toParquet awaits termination internally (plan capture needs
      // the final batch) — no await at the call site
      StreamStages.toParquet(sess, out.toString, cp.toString)
    }
    runPhase() // phase 1: real events; final sessions still open (no timeout yet)

    // phase 2: a far-future sentinel for a fake user pushes the
    // watermark past every real session's timeout → they all emit
    val maxTs = ev.agg(max("ets")).collect().head.getTimestamp(0)
    spark.createDataFrame(Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 10L * 86400 * 1000))))
      .toDF("user_id", "ets").coalesce(1).write.mode("append").parquet(in.toString)
    runPhase()

    val got = spark.read.parquet(out.toString)
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("session_end_us"), r.getAs[Int]("n_events"))).toSet

    // batch expectation: per-user sort + gap fold
    val expect = ev.collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getTimestamp(1).toInstant.getEpochSecond * 1000000L
          + r.getTimestamp(1).toInstant.getNano / 1000L))
      .groupBy(_._1).flatMap { case (u, rows) =>
        val ts = rows.map(_._2).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        var (start, last, n) = (ts.head, ts.head, 1)
        ts.tail.foreach { t =>
          if (t - last <= gapUs) { last = t; n += 1 }
          else { sessions += ((start, last, n)); start = t; last = t; n = 1 }
        }
        sessions += ((start, last, n))
        sessions.map { case (s, e, c) => (u, s, e, c) }
      }.toSet
    assert(got == expect && got.nonEmpty)
  }

  test("stateful sessionization handles cross-batch out-of-order events") {
    val base = Files.createTempDirectory("graft-sess2")
    val in = base.resolve("in"); val out = base.resolve("out"); val cp = base.resolve("cp")
    val gapUs = 100L * 1000000L // 100 s
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def write(rows: Seq[(Long, Long)]): Unit =
      spark.createDataFrame(rows.map { case (u, s) => (u, ts(s)) })
        .toDF("user_id", "ets").coalesce(1).write.mode("append").parquet(in.toString)

    write(Seq((1L, 1000L), (1L, 1010L)))
    val schema = spark.read.parquet(in.toString).schema
    def runPhase(): Unit = {
      val src = StreamStages.fileSource(spark, "parquet", in.toString, schema.json)
      val sess = StreamStages.statefulSessions(src, "user_id", "ets", "1 hour", gapUs)
      // toParquet awaits termination internally (plan capture needs
      // the final batch) — no await at the call site
      StreamStages.toParquet(sess, out.toString, cp.toString)
    }
    runPhase() // open session for user 1: [1000 s, 1010 s], n=2

    // batch 2 arrives out of order (allowed: the watermark lags 1 h):
    // 500 s is more than gapUs BEFORE the open session's start → its own
    // earlier session, emitted; 950 s is within gapUs of start 1000 →
    // merges, lowering session_start
    write(Seq((1L, 500L), (1L, 950L)))
    runPhase()

    // sentinel pushes the watermark past the open session's timeout
    write(Seq((-1L, 1000000L)))
    runPhase()

    val got = spark.read.parquet(out.toString).filter(col("user_id") >= 0)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("session_end_us"), r.getAs[Int]("n_events"))).toSet
    assert(got == Set(
      (1L, 500000000L, 500000000L, 1),
      (1L, 950000000L, 1010000000L, 3)))
  }

  test("streaming pipeline via JSON spec: source → windowAgg → memory sink") {
    val streamDir = Files.createTempDirectory("graft-stream4")
    Tables.load(spark, sfDir, "events")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("ets", "event_type", "value")
      .write.mode("overwrite").parquet(streamDir.toString)
    val schemaJson = spark.read.parquet(streamDir.toString).schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val json =
      s"""{"stages": [
         |  {"name": "src", "type": "streamSource", "properties": {
         |    "format": "parquet", "path": "$streamDir", "schema": "$schemaJson"}},
         |  {"name": "agg", "type": "windowAgg", "properties": {
         |    "timeCol": "ets", "watermark": "1 hour", "window": "1 day",
         |    "groupBy": "event_type", "aggregates": "count(*) AS n"}},
         |  {"name": "out", "type": "streamSink", "properties": {"queryName": "pipe_win"}}
         |],
         |"connections": [{"from": "src", "to": "agg"}, {"from": "agg", "to": "out"}]}""".stripMargin
    graft.pipeline.Pipeline.fromJson(json).run(spark)
    assert(spark.table("pipe_win").count() > 0)
  }

  test("scalaProgram stage runs a whole program inside a pipeline") {
    val out = Files.createTempDirectory("graft-prog2").resolve("out")
    val code =
      s"""import graft.dynamic.{GraftContext, GraftMain}
         |object PipeProg extends GraftMain {
         |  def run(ctx: GraftContext): Unit =
         |    ctx.spark.range(5).toDF("i").write.parquet("$out")
         |}
         |""".stripMargin.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    val json =
      s"""{"stages": [
         |  {"name": "p", "type": "scalaProgram", "properties": {
         |    "mainClass": "PipeProg",
         |    "scalaCode": "$code"}},
         |  {"name": "out", "type": "count", "properties": {}}
         |],
         |"connections": [{"from": "p", "to": "out"}]}""".stripMargin
    graft.pipeline.Pipeline.fromJson(json).run(spark)
    assert(spark.read.parquet(out.toString).count() == 5)
  }

  test("foreachBatchUpsert: latest-wins snapshot across real micro-batches") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-upsert")
    val in = base.resolve("in").toString; val out = base.resolve("out").toString
    // batch A: user 1 @100, user 2 @150; batch B: user 1 @200 (update)
    Seq((1L, 1L, 100L), (2L, 2L, 150L)).toDF("event_id", "user_id", "ts_us")
      .coalesce(1).write.mode("overwrite").parquet(in)
    Seq((3L, 1L, 200L)).toDF("event_id", "user_id", "ts_us")
      .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val src = StreamStages.fileSource(spark, "parquet", in, schema.json,
      maxFilesPerTrigger = Some(1))
    StreamStages.foreachBatchUpsert(src, Seq("user_id"),
      Seq("ts_us", "event_id"), out)
    // two micro-batches ⇒ two snapshot versions (merge path exercised)
    val versions = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getName)
    assert(versions.toSet == Set("v0", "v1"))
    val got = StreamStages.latestSnapshot(spark, out)
      .select("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 200L), (2L, 2L, 150L)))
    // restart with the same checkpoint: no new files ⇒ no new
    // versions, snapshot unchanged (the idempotent-replay contract)
    val src2 = StreamStages.fileSource(spark, "parquet", in, schema.json,
      maxFilesPerTrigger = Some(1))
    StreamStages.foreachBatchUpsert(src2, Seq("user_id"),
      Seq("ts_us", "event_id"), out)
    val versions2 = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getName)
    assert(versions2.toSet == Set("v0", "v1"))
    val got2 = StreamStages.latestSnapshot(spark, out)
      .select("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == got)
  }

  test("stream_pipeline_e2e's dedup stage is load-bearing: dropping it doubles every count") {
    // The gate's harness writes every event TWICE and chains
    // streamDedup → windowAgg through the pipeline DSL. This pins the
    // gate's central claim: with the dedup stage removed (agg defines
    // its own watermark, everything else identical) every emitted
    // window count is EXACTLY 2x and min/max are unchanged — i.e. the
    // DAG really wires the stateful stage and the gate hash is
    // sensitive to it.
    import graft.pipeline.{Connection, Pipeline, PipelineSpec, StageSpec}
    val base = Files.createTempDirectory("graft-stream-lb")
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
    ev.coalesce(2).write.mode("overwrite").parquet(s"$base/in")
    ev.coalesce(2).write.mode("append").parquet(s"$base/in")
    val schemaJson = spark.read.parquet(s"$base/in").schema.json
    def spec(withDedup: Boolean, sink: String) = {
      val agg = StageSpec("agg", "windowAgg", Map("timeCol" -> "ets",
        "watermark" -> (if (withDedup) "" else "1 hour"),
        "window" -> "1 day", "groupBy" -> "event_type",
        "aggregates" -> "count(*) AS n, min(value) AS vmin, max(value) AS vmax"))
      val src = StageSpec("src", "streamSource", Map("format" -> "parquet",
        "path" -> s"$base/in", "schema" -> schemaJson))
      val out = StageSpec("out", "streamSink", Map("queryName" -> sink))
      if (withDedup) PipelineSpec(Seq(src,
        StageSpec("dd", "streamDedup", Map("timeCol" -> "ets",
          "watermark" -> "1 hour", "keys" -> "event_id")), agg, out),
        Seq(Connection("src", "dd"), Connection("dd", "agg"),
          Connection("agg", "out")))
      else PipelineSpec(Seq(src, agg, out),
        Seq(Connection("src", "agg"), Connection("agg", "out")))
    }
    StreamStages.withGateConf(spark) {
      new Pipeline(spec(withDedup = true, "lb_dd")).run(spark, Map.empty)
      new Pipeline(spec(withDedup = false, "lb_raw")).run(spark, Map.empty)
    }
    def rows(t: String) = spark.table(t)
      .select(col("window.start"), col("event_type"), col("n"),
        col("vmin"), col("vmax"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val dd = rows("lb_dd"); val raw = rows("lb_raw")
    assert(dd.nonEmpty && dd.keySet == raw.keySet)
    for ((k, (n, vmin, vmax)) <- dd)
      assert(raw(k) == ((2 * n, vmin, vmax)),
        s"$k: dedup=($n,$vmin,$vmax) raw=${raw(k)}")
  }

  /** The NON-replayable source (VERDICT r14 #4): every other streaming
    * test rides file/rate sources, which replay from durable input —
    * this one drives `socket`, where data exists only in the driver's
    * connection buffer, from a local ServerSocket. Pins (1) the
    * source wiring (schema `value: STRING`, line framing), (2) that a
    * downstream stateless transform + complete-mode agg over it
    * matches the batch computation on the same lines, and (3) the
    * in-session delivery contract: every line sent while connected
    * arrives exactly once (the at-most-once caveat is about RESTARTS —
    * documented on StreamStages.socketSource). Kafka (the replayable
    * production analog) has no broker in this sandbox — see
    * docs/verification.md's untestable register.
    */
  test("socket stream: lines from a local server feed a grouped count") {
    // try/finally from socket creation: if anything below throws
    // before the query starts, the accept-blocked writer thread and
    // the ServerSocket must still be torn down (a non-daemon thread
    // parked in accept() would otherwise pin the forked test JVM)
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    @volatile var client: java.net.Socket = null
    val writer = new Thread(() => {
      try {
        client = server.accept()
        val out = new java.io.PrintWriter(client.getOutputStream, true)
        (1 to 20).foreach(i => out.println(s"word$i ${i % 3}"))
        out.flush() // socket stays open until the test closes it: an
        // early close can abort the reader mid-batch
      } catch { case _: java.io.IOException => () } // closed server
    })
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      writer.start()
      val src = StreamStages.socketSource(spark, "127.0.0.1",
        server.getLocalPort)
      assert(src.schema.fieldNames.toSeq == Seq("value"))
      val counts = src
        .select(split(col("value"), " ").getItem(1).as("k"))
        .groupBy("k").count()
      q = counts.writeStream.format("memory").queryName("socket_counts")
        .outputMode("complete").start()
      def total(): Long = spark.table("socket_counts")
        .agg(coalesce(sum("count"), lit(0L))).collect()(0).getLong(0)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (total() < 20 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val got = spark.table("socket_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // i % 3 over 1..20: six 0s, seven 1s, seven 2s — each line
      // delivered exactly once while connected
      assert(got == Map("0" -> 6L, "1" -> 7L, "2" -> 7L),
        s"socket stream delivered $got")
    } finally {
      // stop() can throw (stopTimeout / surfaced query failure) — it
      // must not skip the socket teardown below
      try { if (q != null) q.stop() } catch { case _: Exception => () }
      server.close() // unblocks a still-parked accept()
      writer.join(10000)
      if (client != null) client.close()
    }
  }

  test("streamSource stage dispatches rate and socket formats") {
    import graft.pipeline.{PipelineContext, StageRegistry, StageSpec}
    val ctx = PipelineContext(spark)
    val rate = StageRegistry.build(StageSpec("src", "streamSource",
      Map("format" -> "rate", "rowsPerSecond" -> "5")))
      .asInstanceOf[graft.pipeline.SourceStage].read(ctx)
    assert(rate.isStreaming &&
      rate.schema.fieldNames.toSeq == Seq("timestamp", "value"))
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    try {
      val sock = StageRegistry.build(StageSpec("src", "streamSource",
        Map("format" -> "socket", "host" -> "127.0.0.1",
          "port" -> server.getLocalPort.toString)))
        .asInstanceOf[graft.pipeline.SourceStage].read(ctx)
      assert(sock.isStreaming && sock.schema.fieldNames.toSeq == Seq("value"))
    } finally server.close()
  }

  test("streaming parquet sink with checkpoint") {
    val base = Files.createTempDirectory("graft-stream3")
    val in = base.resolve("in"); val out = base.resolve("out"); val cp = base.resolve("cp")
    Tables.load(spark, sfDir, "events")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("event_id", "ets").limit(100)
      .write.parquet(in.toString)
    val schema = spark.read.parquet(in.toString).schema
    val src = StreamStages.fileSource(spark, "parquet", in.toString, schema.json)
    StreamStages.toParquet(src, out.toString, cp.toString) // awaits internally
    assert(spark.read.parquet(out.toString).count() == 100)
  }
}
