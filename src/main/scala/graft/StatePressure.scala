package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamStages

/** The state-store swap criterion, demonstrated rather than argued.
  *
  * The stream_dedup scale curve (`graft.Curves`) measures the
  * within-watermark dedup gate's state growth across slices; this main
  * makes the swap rule ("move to RocksDB once per-partition state
  * approaches executor memory") a measured life-or-death fact across a
  * real process boundary: the stream_dedup gate's shape ([[dedupShape]]),
  * on a ScaleGen **150×** slice (30 M doubled events, 15 M distinct
  * keys — 50×/5 M keys still FITS a 1 GiB heap, see the calibration
  * note in BASELINE.md), against a `local-cluster[1,2,1024]` executor
  * whose 1 GiB heap is smaller than the state:
  *
  *  - RocksDB provider: state lives off-heap in the native store —
  *    the run must COMPLETE and hash-match the unconstrained local[8]
  *    reference signature;
  *  - HDFS-backed provider: the in-memory map cannot fit — the run
  *    must fail LOUDLY, and the death must be the real thing: the
  *    sweep scans the executor stderr of the run's app for
  *    `java.lang.OutOfMemoryError` (Scala boxes the fatal error, so
  *    the OOM text never reaches the driver-side message) and only an
  *    OOM-EVIDENCED loud failure counts. `spark.task.maxFailures=2`
  *    keeps the expected-death run from cycling OOMs for minutes.
  *
  * The artifact is `ok` only when BOTH halves hold; an HDFS run that
  * completes means the slice no longer exceeds the heap and the cell
  * proved nothing — that reads as not-ok so it gets re-sized, not
  * waved through.
  *
  * Usage: StatePressure <sliceDir> [outJson]   (slice: ScaleGen 150×)
  */
object StatePressure {

  /** The stream_dedup gate shape: the events frame written DOUBLED to
    * `inDir` (idempotent — skipped when the dir exists so the phases
    * reuse one input), then the within-watermark dedup stream over it.
    */
  private def dedupShape(spark: SparkSession, events: DataFrame,
      inDir: String): DataFrame = {
    val ev = events.select(col("event_id"), col("event_type"),
      timestamp_micros(expr("ts div 1000")).as("ets"))
    if (!Files.exists(Paths.get(inDir))) {
      ev.coalesce(4).write.mode("overwrite").parquet(inDir)
      ev.coalesce(4).write.mode("append").parquet(inDir)
    }
    val schema = spark.read.parquet(inDir).schema
    val src = StreamStages.fileSource(spark, "parquet", inDir, schema.json)
    StreamStages.dedupWithinWatermark(src, "ets", "1 hour", Seq("event_id"))
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ets")).as("ts_us"))
  }

  /** The gate shape, parquet-sinked (the memory sink would
    * buffer |keys| rows in the driver; the parquet sink keeps the
    * pressure where the proof needs it — executor state). The state
    * provider rides withGateConf's `extra` varargs, which are applied
    * AFTER any env-derived provider pair and therefore win; main()
    * additionally rejects SPARK_GRAFT_STATE_PROVIDER outright so the
    * phase labels can never lie about what ran.
    */
  private def runDedup(spark: SparkSession, sliceDir: String,
      base: Path, provider: Option[String]): DataFrame = {
    val events = Tables.load(spark, sliceDir, "events")
    val deduped = dedupShape(spark, events,
      base.resolve("in").toString)
    val out = base.resolve(s"out-${System.nanoTime()}").toString
    val cp = base.resolve(s"cp-${System.nanoTime()}").toString
    val extra = StreamStages.SkipNoDataBatch +: provider.map(p =>
      "spark.sql.streaming.stateStore.providerClass" ->
        (if (p == "rocksdb")
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")).toSeq
    StreamStages.withGateConf(spark, extra: _*) {
      StreamStages.toParquet(deduped, out, cp)
    }
    spark.read.parquet(out)
  }

  /** Did any executor of an app started at/after `sinceMs` die with a
    * heap OOM? Reads the local-cluster work-dir stderr files — the
    * only place the real OOM is visible (the driver sees a boxed
    * stage failure).
    */
  private def executorOomEvidence(sinceMs: Long): Boolean = {
    val work = Paths.get(sys.env.getOrElse("SPARK_HOME", "target/spark-home"))
      .resolve("work")
    if (!Files.exists(work)) return false
    Option(work.toFile.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.lastModified() >= sinceMs)
      .flatMap(a => Option(a.listFiles()).getOrElse(Array.empty))
      .filter(_.isDirectory)
      .map(e => new java.io.File(e, "stderr"))
      .exists { f =>
        f.isFile && {
          val src = scala.io.Source.fromFile(f)
          try src.getLines().exists(_.contains("java.lang.OutOfMemoryError"))
          finally src.close()
        }
      }
  }

  private def deleteRecursively(p: Path): Unit = Fs.deleteRecursively(p)

  def main(args: Array[String]): Unit = {
    val sliceDir = args(0)
    val outPath = if (args.length > 1) args(1) else "STATE_PRESSURE.json"
    // the env knob would silently override BOTH phase providers via
    // withGateConf — the phase labels would lie about what ran
    if (sys.env.contains("SPARK_GRAFT_STATE_PROVIDER")) {
      System.err.println("[state-pressure] unset SPARK_GRAFT_STATE_PROVIDER " +
        "— this cell sets the provider per phase itself")
      sys.exit(2)
    }
    ClusterEnv.ensureSparkHomeSkeleton()
    val base = Files.createTempDirectory("graft-state-pressure")
    val allOk = cleanupThen(base) {
      System.err.println("[state-pressure] phase A: local[8] reference")
      val t0 = System.nanoTime()
      val ref = ClusterVerify.withSession(_.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")) { spark =>
        ClusterVerify.signature(runDedup(spark, sliceDir, base, None))
      }
      val refSecs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[state-pressure] reference: ${ref.rows} rows in " +
        f"$refSecs%.1fs")

      def pressureRun(provider: String): (String, Double) = {
        val t = System.nanoTime()
        val startMs = System.currentTimeMillis()
        val outcome =
          try ClusterVerify.withSession(b =>
            ClusterVerify.clusterBase(b, "local-cluster[1,2,1024]")
              .appName(s"graft-state-pressure-$provider")
              .config("spark.task.maxFailures", "2")
              .config("spark.sql.shuffle.partitions", "8")) { spark =>
            val sig = ClusterVerify.signature(
              runDedup(spark, sliceDir, base, Some(provider)))
            if (sig == ref) "match" else s"MISMATCH: $sig vs $ref"
          } catch {
            case e: Throwable =>
              val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                .map(t => String.valueOf(t.getMessage)).mkString(" | ")
              val failed = msgs.contains("Job aborted due to stage failure") ||
                msgs.contains("STREAM_FAILED") ||
                msgs.contains("ExecutorLostFailure")
              // "loud" alone is not enough — a classpath or IO failure
              // also aborts the stage. Only an executor-stderr-verified
              // heap OOM certifies the death this cell claims.
              if (failed && executorOomEvidence(startMs))
                s"loud_failure_oom_verified: ${msgs.take(300)}"
              else if (failed)
                s"loud_failure_no_oom_evidence: ${msgs.take(300)}"
              else s"error: ${msgs.take(300)}"
          }
        (outcome, (System.nanoTime() - t) / 1e9)
      }

      System.err.println("[state-pressure] phase B: rocksdb on 1 GiB executor")
      val (rocks, rocksSecs) = pressureRun("rocksdb")
      System.err.println(f"[state-pressure] rocksdb: $rocks ($rocksSecs%.1fs)")
      System.err.println("[state-pressure] phase C: hdfs-backed on 1 GiB executor")
      val (hdfs, hdfsSecs) = pressureRun("hdfs")
      System.err.println(f"[state-pressure] hdfs: $hdfs ($hdfsSecs%.1fs)")

      val ok = rocks == "match" && hdfs.startsWith("loud_failure_oom_verified")
      import Jsons.{jq, num}
      val json =
        s"""{"slice_dir": ${jq(sliceDir)},
           |"cluster_master": "local-cluster[1,2,1024]",
           |"dedup_out_rows": ${ref.rows},
           |"ref_secs": ${num(refSecs, 1)},
           |"rocksdb": {"outcome": ${jq(rocks)}, "secs": ${num(rocksSecs, 1)}},
           |"hdfs": {"outcome": ${jq(hdfs)}, "secs": ${num(hdfsSecs, 1)}},
           |"ok": $ok}
           |""".stripMargin
      Files.writeString(Paths.get(outPath), json)
      System.err.println(s"[state-pressure] ok=$ok — $outPath")
      ok
    }
    // the exit runs AFTER the cleanup: System.exit does not unwind the
    // stack, so calling it inside cleanupThen's body would skip finally
    if (!allOk) sys.exit(1)
  }

  /** ~0.5 GB of doubled input + per-phase outputs/checkpoints per run
    * would otherwise accumulate under /tmp across re-runs.
    */
  private def cleanupThen[T](base: Path)(body: => T): T =
    try body finally deleteRecursively(base)
}
