package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.schema.SchemaJson

/** Emitted by [[StreamStages.statefulSessions]]: one closed session. */
final case class SessionOut(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Int)

/** Open-session state carried between micro-batches (µs epoch). */
final case class SessionState(start: Long, last: Long, n: Int)

/** Structured Streaming layer (SURVEY.md §2.9): the engine's analogue
  * of the reference's data-streams deployment (pom:30,
  * `sc.fromStream`, ScalaSparkProgram-sparkprogram.md:32) — rebuilt on
  * readStream/writeStream instead of DStreams.
  *
  * Kept deliberately thin: streams are DataFrames, so every relational
  * stage and dynamic-compiled transform in the engine applies
  * unchanged; what this module adds is the source/sink wiring plus the
  * streaming-only concerns (watermarks, windows, within-watermark
  * dedup, stateful sessionization).
  */
object StreamStages {

  /** File-based stream source: new files under `path` become
    * micro-batches. Schema required (streaming reads cannot infer).
    */
  def fileSource(spark: SparkSession, format: String, path: String,
      schemaJson: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    var r = spark.readStream.schema(SchemaJson.parse(schemaJson))
    maxFilesPerTrigger.foreach(n => r = r.option("maxFilesPerTrigger", n))
    r.format(format).load(path)
  }

  /** Rate source for load/sanity testing. */
  def rateSource(spark: SparkSession, rowsPerSecond: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** Socket text source — the NON-replayable source in the engine's
    * `sc.fromStream` mapping (SURVEY §2.2: readStream rate/file/kafka;
    * file and rate are replayable, this one is not): one `value:
    * STRING` row per line from a TCP server. Spark reads it on the
    * DRIVER into an in-memory buffer, offsets index that buffer, and a
    * restart reconnects with the buffer EMPTY — so it provides
    * at-most-once delivery, no fault recovery, no backpressure, and
    * Spark itself flags it as a test-only source. It exists here to
    * exercise the non-replayable contract end-to-end (StreamingSpec
    * drives it from a local ServerSocket); the production
    * non-replayable ingest is Kafka (same readStream shape, per-topic
    * offsets make it replayable) — no broker exists in this sandbox,
    * see docs/verification.md's untestable-on-this-rig register.
    */
  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Replayable offset-tracked non-file source (VERDICT r15 #4): the
    * custom DataSourceV2 [[SegmentSourceProvider]] over an append-only
    * segment file — the Kafka shape (numeric offsets, deterministic
    * range replay, exactly-once restart resumption) without the
    * broker. Contract and scale posture documented on [[SegmentSource]].
    */
  def segmentSource(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format(classOf[SegmentSourceProvider].getName)
      .option("path", path).load()

  /** Tumbling/sliding event-time window aggregation with a watermark
    * for late data. `aggregates` are SQL expression strings, as in the
    * batch AggregateCompute stage.
    */
  def windowedAgg(df: DataFrame, timeCol: String, watermark: Option[String],
      windowDuration: String, slide: Option[String],
      groupBy: Seq[String], aggregates: Seq[String]): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(timeCol), windowDuration, s)
      case None    => window(col(timeCol), windowDuration)
    }
    val keys = win +: groupBy.map(col)
    // watermark None = inherit the one already defined upstream — with
    // chained stateful operators (dedup → agg) Spark 4 forbids
    // REDEFINING the watermark downstream of the first stateful op
    val wm = watermark.fold(df)(df.withWatermark(timeCol, _))
    wm.groupBy(keys: _*)
      .agg(expr(aggregates.head), aggregates.tail.map(expr): _*)
  }

  /** Watermarked stream-stream inner join — the two-stream correlation
    * primitive (view→purchase attribution, request→response pairing).
    * Both sides carry watermarks and the caller's `cond` must bound
    * the right event time relative to the left (e.g. r_ets BETWEEN
    * l_ets AND l_ets + INTERVAL 30 MINUTES): that is what lets Spark
    * PURGE join state — left rows once the watermark passes their
    * upper bound, right rows once it passes their event time. State is
    * then watermark-horizon × arrival-rate, independent of stream
    * length; without the time bound, state grows unboundedly and the
    * join is a 100 TB/day memory leak. Execution is a state-store
    * equi-join on the key columns inside `cond` — each side shuffles
    * once on the key, nothing is broadcast, matches emit in the
    * micro-batch they arrive (inner joins never wait on the
    * watermark).
    *
    * Caller renames columns to disjoint names first (the two sides of
    * a stream self-join otherwise share attribute ids).
    */
  /** `joinType` "inner" emits matches eagerly; "left_outer" also
    * emits null-extended left rows — but only once the watermark
    * proves they can never match (state eviction in the trailing
    * no-data micro-batch), which is the append-mode horizon the gate
    * oracle reproduces.
    */
  def streamStreamJoin(left: DataFrame, leftTs: String, right: DataFrame,
      rightTs: String, watermark: String,
      cond: org.apache.spark.sql.Column,
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark), cond, joinType)

  /** Exactly-once-style dedup on event keys within the watermark
    * horizon (bounded state — the unbounded form would leak state
    * forever at 100 TB/day).
    */
  def dedupWithinWatermark(df: DataFrame, timeCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Custom-state sessionization — the `flatMapGroupsWithState`
    * surface (SURVEY §2.9 / §2.11 "custom state"): per-user gap-based
    * sessions with an event-time timeout, the streaming twin of the
    * batch `sessionize` query. State per key is one open session
    * (bounded); a session closes either when a same-batch event
    * arrives more than `gapUs` after it (emitted immediately) or when
    * the watermark passes `last + gap` (emitted on timeout).
    *
    * Guarantee: output matches the batch gap-fold exactly when events
    * arrive in order ACROSS micro-batches (any order WITHIN a batch is
    * fine — each batch is sorted before folding). Out-of-order arrival
    * across batches (allowed while the watermark lags) is handled by
    * interval distance against the open session: an event within
    * `gapUs` of either end merges (extending `start` downward if
    * needed); an event more than `gapUs` BEFORE the open session's
    * start folds into a separate earlier session, emitted immediately.
    * The one divergence from batch left open by append-mode semantics:
    * a session already emitted cannot be re-opened by a yet-later
    * straggler that would have bridged it.
    *
    * At 100 TB/day the state store holds one small fixed-size row per
    * ACTIVE user — the watermark timeout is what keeps it from
    * growing without bound.
    */
  def statefulSessions(df: DataFrame, userCol: String, tsCol: String,
      watermark: String, gapUs: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val evts = df
      .select(col(userCol).cast("long").as("u"), col(tsCol).as("t"))
      .withWatermark("t", watermark)
      .as[(Long, java.sql.Timestamp)]
    evts.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user, events, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.last, s.n))
          } else {
            // within a batch events can arrive unordered; sort before
            // folding so intra-batch gaps close deterministically
            val times = events.map(e => us(e._2)).toArray.sorted
            val batch = scala.collection.mutable.ArrayBuffer.empty[SessionState]
            times.foreach { t =>
              batch.lastOption match {
                case Some(s) if t - s.last <= gapUs =>
                  batch(batch.length - 1) = SessionState(s.start, t, s.n + 1)
                case _ => batch += SessionState(t, t, 1)
              }
            }
            // merge the carried open session into the batch's sessions
            // by the same gap rule over intervals: sorted by start, two
            // intervals fuse when they are within gapUs of each other.
            // This lowers `start` on a backward merge and keeps an
            // event more than gapUs BEFORE the open session as its own
            // earlier session instead of silently absorbing it.
            val all = (state.getOption.toSeq ++ batch)
              .sortBy(s => (s.start, s.last))
            val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
            all.foreach { s =>
              merged.lastOption match {
                case Some(p) if s.start - p.last <= gapUs =>
                  merged(merged.length - 1) =
                    SessionState(p.start, math.max(p.last, s.last), p.n + s.n)
                case _ => merged += s
              }
            }
            val open = merged.last
            state.update(open)
            // fire once the event-time watermark passes the gap
            state.setTimeoutTimestamp(open.last / 1000L + gapUs / 1000L)
            merged.init.iterator.map(s => SessionOut(user, s.start, s.last, s.n))
          }
      }.toDF()
  }

  /** Gate-scoped streaming conf (VERDICT r7 #6): the state-store
    * partition count is frozen at query start from shuffle.partitions,
    * and EVERY store on every partition commits a delta file per
    * micro-batch — so size the width to the gate's STATE (tiny), not
    * the session's compute width. 4 partitions halves the per-batch
    * task-launch + store-commit overhead vs the previous 8 with zero
    * semantic effect (fresh checkpoint per gate run, so the frozen
    * width never has to match a prior run). `extra` carries per-gate
    * knobs (e.g. noDataMicroBatches for gates whose OUTPUT does not
    * depend on the trailing watermark batch). Restores on exit.
    */
  def withGateConf[T](s: SparkSession, extra: (String, String)*)(body: => T): T = {
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb switches every streaming gate
    // to RocksDBStateStoreProvider (rocksdbjni ships in the Spark
    // distribution) — one knob covering Verify, Bench and the specs, so
    // the provider A/B runs the EXACT gate semantics. Default stays
    // HDFS-backed: gate state is a few KB per partition, where the
    // in-memory map wins (A/B numbers in PLANS.md "Streaming gates");
    // RocksDB is the documented swap once per-partition state
    // approaches executor memory (native off-heap storage, incremental
    // changelog checkpointing instead of full snapshot rewrites).
    val provider = sys.env.get("SPARK_GRAFT_STATE_PROVIDER").map {
      case "rocksdb" => "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" => "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => throw new IllegalArgumentException(
        // fail fast: a typo'd provider silently measuring the default
        // would record bogus A/B numbers under the wrong label
        s"SPARK_GRAFT_STATE_PROVIDER='$other' (expected rocksdb|hdfs)")
    }.toSeq
    val conf = ("spark.sql.shuffle.partitions" -> "4") +: (provider ++ extra)
    val prev = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Per-gate knob: skip the trailing no-data micro-batch. ONLY legal
    * when the query's emitted rows don't depend on the final watermark
    * advance — inner stream-stream joins (matches emit in the data
    * batch; the no-data batch only evicts state the query teardown
    * frees anyway) and within-watermark dedup (first occurrence emits
    * on arrival). Append-mode aggs, outer joins, and event-time
    * timeouts REQUIRE the no-data batch — never pass this for those.
    */
  val SkipNoDataBatch: (String, String) =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Final micro-batch executedPlan per drained query, captured by the
    * three drain helpers below for the siting audit (VERDICT r11 #4):
    * a gate fn returns the drained sink table, so the streaming plan
    * is otherwise unreachable from outside. Reflection because the
    * StreamingQueryWrapper/StreamExecution chain is private[sql]; any
    * capture failure stays silent here (observability must never
    * break a drain) and turns loud in SitingAuditSpec's per-gate
    * non-empty assertion. Keyed by query name (runId for unnamed
    * queries) with LRU eviction past 64 entries, so a long-lived
    * session draining many unnamed queries can't accumulate plan
    * trees; SitingAuditSpec clears it per gate anyway.
    */
  val capturedPlans: scala.collection.mutable.Map[String,
      org.apache.spark.sql.execution.SparkPlan] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String,
          org.apache.spark.sql.execution.SparkPlan](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String,
            org.apache.spark.sql.execution.SparkPlan]): Boolean = size > 64
      }).asScala

  private def capturePlan(q: StreamingQuery): Unit =
    try {
      val se = q.getClass.getMethod("streamingQuery").invoke(q)
      val exec = se.getClass.getMethod("lastExecution").invoke(se)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      if (exec != null)
        capturedPlans.put(Option(q.name).getOrElse(q.runId.toString),
          exec.executedPlan)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Memory sink for tests/smoke: processes everything currently
    * available, synchronously, then returns the finished query.
    * `queryName` is a SESSION-GLOBAL resource (it names both the
    * memory table and the streaming query): two concurrent runs with
    * the same name collide. Batch gates are concurrency-safe
    * (ConcurrencySpec); callers running the SAME stream gate
    * concurrently must suffix the name themselves.
    */
  def runToMemory(df: DataFrame, queryName: String,
      outputMode: String = "append"): StreamingQuery =
    drain(df.writeStream.format("memory")
      .queryName(queryName).outputMode(outputMode))

  /** Runs `w` over everything currently available (AvailableNow) and
    * blocks until it has: the returned query is already drained, and
    * its final micro-batch plan is in [[capturedPlans]]. Callers must
    * not re-await it.
    */
  private[graft] def drain(w: DataStreamWriter[_]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    capturePlan(q)
    q
  }

  /** Micro-batch MERGE (the foreachBatch upsert pattern — how
    * Structured Streaming maintains a latest-wins keyed snapshot
    * without a transactional table format): per micro-batch, the
    * previous snapshot version is read, unioned with the batch, and
    * reduced to one latest row per key (`orderCols` descending, which
    * must totally order rows per key — include a unique tiebreak);
    * the result lands as a NEW versioned snapshot `v<batchId>` under
    * `baseDir` (write-new-then-switch — never read-and-overwrite one
    * path in the same job, and a restarted/replayed batch rewrites
    * the same version with identical bytes, so the checkpoint's
    * at-least-once delivery is idempotent). Latest-wins merge is
    * associative + commutative over batches, so the final snapshot is
    * independent of how the stream was micro-batched — the gate pins
    * it to the one-shot batch CDC oracle.
    *
    * Scale shape per batch: batch ∪ snapshot → Sort +
    * WindowGroupLimit(partial, rank ≤ 1) BEFORE the key exchange
    * (the cdc_upsert plan) — the shuffle carries ≈ |keys| rows. On a
    * real deployment the snapshot would be a Delta/Iceberg MERGE
    * target; the per-batch plan is the same.
    */
  /** Committed snapshot versions only: a version EXISTS once its
    * `_SUCCESS` marker does (one atomic file create = the "switch" in
    * write-new-then-switch). A batch killed mid-write leaves a torn
    * `v<id>` dir with `_temporary` debris and no marker — readers and
    * the replayed batch's prev-selection must both skip it, or a
    * restart window exposes a half-written snapshot
    * (UpsertSwitchFaultSpec kills a real write job between version
    * write and marker to pin this).
    */
  private def committedVersions(baseDir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(baseDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(f => (f.getName.drop(1).toLong, f)).sortBy(_._1)

  def foreachBatchUpsert(src: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], baseDir: String): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    def versionDirs(): Seq[(Long, java.io.File)] = committedVersions(baseDir)
    drain(src.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val spark = batch.sparkSession
      // a replayed batch must merge against the snapshot BEFORE it
      val prev = versionDirs().filter(_._1 < id).lastOption
      val all = prev match {
        case Some((_, dir)) =>
          batch.unionByName(spark.read.parquet(dir.getAbsolutePath))
        case None => batch
      }
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(orderCols.map(c => col(c).desc): _*)
      // snapshot is ≈|keys| rows — one file keeps the next batch's
      // read-back (and latestSnapshot) a single-split scan; at real
      // scale this coalesce widens with the key count (or the target
      // becomes a Delta/Iceberg MERGE and file layout is the table
      // format's problem)
      all.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .coalesce(1)
        .write.mode("overwrite")
        // the commit marker IS the switch: force it per-write so a
        // session/cluster conf that suppresses _SUCCESS files (common
        // on object stores) cannot silently make every version
        // invisible to committedVersions — losing the merge-against-
        // prev chain AND blinding readers
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .parquet(s"$baseDir/v$id")
      ()
    }
      .option("checkpointLocation", s"$baseDir/_ckpt"))
  }

  /** Latest COMMITTED snapshot written by [[foreachBatchUpsert]] — a
    * torn (markerless) version from a killed batch is invisible here.
    */
  def latestSnapshot(spark: SparkSession, baseDir: String): DataFrame = {
    val vs = committedVersions(baseDir)
    require(vs.nonEmpty, s"no committed snapshot versions under $baseDir")
    spark.read.parquet(vs.last._2.getAbsolutePath)
  }

  /** Production-shaped sink: parquet files + checkpoint dir (the
    * at-least-once restart contract). Blocks until drained ([[drain]]).
    */
  def toParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    drain(df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"))
}
