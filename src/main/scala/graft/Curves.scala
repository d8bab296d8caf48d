package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.dynamic.{PySparkPrograms, PySparkRunner}
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.operators.RelationalQueries
import graft.streaming.StreamStages

/** Scale curves: measures named gates, library ops and cost-model
  * counts on [[ScaleGen]] slices at several multiples of the sf0.1
  * shape, and writes one `scale_curves` JSON artifact (the shape
  * tools/merge_curves.py merges). Per name it holds one map per
  * recorded field, from multiple to value, and `exp_full`/`exp_tail`,
  * the growth exponents of the name's curve field ([[expFields]]).
  *
  * What a point records depends on the name ([[kinds]]):
  *  - a `SparkEntry` gate or an embedding-family library op: `wall_s`
  *    through the noop sink, and the measured rep's `jobs`,
  *    `shuffle_write_mb` and `spill_mb` (memory plus disk, as Profile
  *    prints it) from [[Metrics]];
  *  - a stream gate: the same, plus the slice's `events`, and the
  *    `out_rows`, `state_rows_max` and `state_bytes_max` that
  *    [[StatePeaks]] reads from the stream's progress;
  *  - a cost-model count: `count`, the number the operator's
  *    documented cost is proportional to, computed once;
  *  - `pyspark_pandas_decode`: the subprocess `wall_s` split into
  *    `py_work_s` (the program's own timer) and `boot_s`, with the
  *    slice's `n_docs` and a linear fit ([[linearFit]]).
  *
  * Timed names get one untimed warm-up on their smallest slice (the
  * first run of a heavy gate pays JIT and codegen that can invert a
  * curve), then per multiple the min of 2 reps while a rep stays
  * under 30 s, one rep above. The exponents fit the full range and
  * the last step, since the first step carries fixed per-job overhead.
  *
  * Usage: Curves <base> <outJson> <names> [multiples=1,3,10]
  *        [docs=dense|zipf|heaps]
  * A name may cap its multiples, as `dedup_containment@3`. Slices are
  * `<base>/scale<m>x`, generated when a table is missing: every table
  * in the dense regime, only `documents` in the Zipfian ones (zipf: a
  * fixed 10k-word power-law vocabulary; heaps: one that grows with the
  * slice). The session is Bench's, with the `SPARK_GRAFT_SESSION_CONF`
  * overrides recorded in the artifact.
  */
object Curves {

  /** How a name is measured: `rep` is one run on a slice directory,
    * `curve` the field its exponents fit, and `timed` whether it gets
    * the warm-up and min-of-2 loop (a count is exact and runs once).
    */
  private[graft] final case class Kind(curve: String, timed: Boolean,
      rep: (SparkSession, String) => Seq[(String, Double)])

  private def frameKind(name: String, frame: (SparkSession, String) => DataFrame) =
    Kind("wall_s", timed = true, (s, d) => frameRep(s, name, frame(s, d)))

  /** One rep of a frame through Bench's noop run step, with its metrics. */
  private def frameRep(spark: SparkSession, name: String,
      frame: => DataFrame): Seq[(String, Double)] = {
    val (wall, r) = Metrics.measure(spark)(Bench.runFrame(spark, name)(frame))
    Seq("wall_s" -> wall, "jobs" -> r.jobs.size.toDouble,
      "shuffle_write_mb" -> r.shuffleWriteBytes / 1e6,
      "spill_mb" -> (r.memorySpilled + r.diskSpilled) / 1e6)
  }

  /** The embedding-family library ops, timed without the brute-force
    * recall baseline their gates carry, on the gates' query set (every
    * 50th vector). Documented costs at these parameters, uniform data:
    * brute top-k Q·N cosine pairs (Q = N/50); ivf brute ÷ (cells /
    * nprobe); lsh ≈ brute·(1+bits)/2^bits; ivfpq the ivf probe set at
    * PQ-code width plus the k-means fit, which `pq_codes` (fit and
    * encode) and `pq_codes0` (no Lloyd iteration) time alone; exact
    * near-dup N²/2 pairs; lsh near-dup ≈ N²(1+bits)/2^(bits+1);
    * semdedup ≈ N²/(2k) plus its fit.
    */
  private val annOps: Map[String, DataFrame => DataFrame] = {
    def qs(emb: DataFrame) = emb.filter(col("vec_id") % 50 === 0)
    Map(
      "ann_brute" -> (emb => Similarity.bruteForceTopK(qs(emb), emb, k = 5)),
      "ann_ivf" -> (emb => Similarity.ivfTopK(qs(emb), emb, k = 5, nprobe = 3)),
      "ann_lsh" -> (emb => Similarity.lshTopK(qs(emb), emb, k = 5, bits = 6)),
      "ann_ivfpq" -> (emb => Similarity.ivfpqTopK(qs(emb), emb, k = 5, nprobe = 3,
        nSub = 4, codeK = 8, iters = 1, rerank = 32)),
      "pq_codes" -> (emb => Similarity.pqCodes(emb, nSub = 4, k = 8, iters = 1)),
      "pq_codes0" -> (emb => Similarity.pqCodes(emb, nSub = 4, k = 8, iters = 0)),
      "embed_neardup_exact" -> (emb =>
        Dedup.embeddingNearDups(emb, "embedding", "vec_id", threshold = 0.4)),
      "embed_neardup_lsh" -> (emb =>
        Dedup.embeddingNearDupsLsh(emb, "embedding", "vec_id", threshold = 0.4)),
      "semdedup" -> (emb => Dedup.semDeDup(emb, k = 4, iters = 2, threshold = 0.4)))
  }

  private def pairSum(postings: DataFrame, keyCol: String): Long =
    // coalesce: the sum over an empty postings frame (a slice whose
    // docs all fall under the shingle width) is NULL, not 0
    postings.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
      .head().getLong(0)

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** triangle_count's part co-occurrence edges. */
  private def partEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    li.as("a").join(li.as("b"), col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
  }

  /** Cost-model counts: per operator, the number its documented cost
    * is proportional to, computed with the code paths the operator runs
    * (same shingles, signatures and fingerprints), so the growth between
    * two slices is the model's own prediction.
    */
  private val counts: Map[String, (SparkSession, String) => Long] = Map(
    // dedup_ngram_jaccard and dedup_containment: Σ C(df,2) over the
    // 2-gram index (distinct shingles per doc, the gates' shape)
    "ngram_index_pairs" -> ((s, d) => pairSum(
      Dedup.shingleSets(docs(s, d), "text", "doc_id", 2)
        .select(col("doc_id"), explode(col("sh")).as("g")), "g")),
    // dedup_containment_prefix at t = 0.8: the rare-prefix probe join's
    // rows before their distinct, from the code containmentPairsPrefix runs
    "containment_prefix_candidates" -> ((s, d) => Dedup.prefixProbe(
      Dedup.postings(Dedup.shingleSets(docs(s, d), "text", "doc_id", 2)), 0.8).count()),
    // dedup_minhash_lsh: candidate pairs after the exact-dup collapse,
    // 3-gram sets, 64-hash signatures and 32×2 bands
    "lsh_candidates" -> { (s, d) =>
      val rep = docs(s, d).groupBy(md5(col("text")).as("ch"))
        .agg(min("doc_id").as("doc_id"), first("text").as("txt"))
      val sigs = Dedup.minhashSignatures(Dedup.shingleSets(rep, "txt", "doc_id", 3), 64)
      Dedup.lshCandidates(sigs, bands = 32, rowsPerBand = 2).count()
    },
    // winnow_neardup: Σ C(df,2) over the winnowed fingerprints (k=4, w=4)
    "winnow_index_pairs" -> ((s, d) => pairSum(
      TextAnalysis.winnow(docs(s, d), "text", "doc_id", 4, 4)
        .select(col("doc_id"), col("fp")).distinct(), "fp")),
    "triangle_edges" -> ((s, d) => partEdges(s, d).count()),
    // triangle_count: the wedge bound Σ_edges min(deg u, deg v)
    "triangle_wedges" -> { (s, d) =>
      val e = partEdges(s, d).localCheckpoint() // read 3x below
      val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      e.join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .agg(sum(least(col("du"), col("dv")))).head().getLong(0)
    },
    // graph_pagerank: edge rows per iteration (customer↔supplier, both ways)
    "pagerank_edge_rows" -> { (s, d) =>
      val li = Tables.load(s, d, "lineitem")
      val o = Tables.load(s, d, "orders")
      2L * li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    },
    // attribution_linear: purchases over their two covering 30-min
    // buckets (RelationalQueries.AttrBandUs), joined to views on (user, bucket)
    "attr_candidates" -> { (s, d) =>
      val band = 1800000000L
      val ev = Tables.load(s, d, "events").withColumn("ts_us", expr("ts div 1000"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr(s"ts_us div $band").as("bkt"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), explode(array(
          expr(s"ts_us div $band - 1"), expr(s"ts_us div $band"))).as("bkt"))
      purch.join(views, Seq("user_id", "bkt")).count()
    },
    // interval_overlap_join is band-bounded: its driver is its output
    "interval_rows" -> ((s, d) =>
      RelationalQueries.queries("interval_overlap_join")(s, d).count()))

  /** Reads the streams that run while it is registered: the largest
    * `numRowsTotal` of any stateful operator in any progress, the
    * largest per-progress sum of `memoryUsedBytes`, and the rows all
    * progresses wrote to their sinks. The byte figure is Spark's size
    * estimate and overcounts heap demand (STATE_PRESSURE.json: a point
    * it puts at ≈1.1 GB runs on a 1 GiB heap), so size by rows.
    */
  private final class StatePeaks extends StreamingQueryListener {
    private var rows, bytes, out = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val ops = e.progress.stateOperators.toSeq
        rows = (rows +: ops.map(_.numRowsTotal)).max
        bytes = math.max(bytes, ops.map(_.memoryUsedBytes).sum)
        out += math.max(e.progress.sink.numOutputRows, 0L)
      }
    def fields: Seq[(String, Double)] = synchronized {
      Seq("out_rows" -> out.toDouble, "state_rows_max" -> rows.toDouble,
        "state_bytes_max" -> bytes.toDouble)
    }
  }

  /** One rep of a stream gate: the frame rep with the slice's event
    * count and the stream's [[StatePeaks]]. `Metrics.measure` drains
    * the listener bus, so every progress has arrived when it returns.
    */
  private def streamRep(spark: SparkSession, dir: String, name: String,
      frame: (SparkSession, String) => DataFrame): Seq[(String, Double)] = {
    val peaks = new StatePeaks
    spark.streams.addListener(peaks)
    val rep = try frameRep(spark, name, frame(spark, dir))
      finally spark.streams.removeListener(peaks)
    (rep :+ ("events" -> Tables.load(spark, dir, "events").count().toDouble)) ++ peaks.fields
  }

  /** stream_dedup's doubled events replayed in event-time order, one
    * of 16 equal time ranges per micro-batch (the slices' event times
    * are uniform, so the ranges hold about as many events each): the
    * watermark advances between batches, so the store must evict, and
    * its peak is about one batch's keys plus the 1-hour horizon rather
    * than every key (the single-batch stream_dedup peaks at all of
    * them). Duplicates share a time range, so eviction never lets one
    * through. The ranges are computed, not sampled: a
    * `repartitionByRange` split seeds its sample with the RDD id, so its
    * ranges, and the peak, move with whatever ran before in the JVM.
    */
  private def dedupPaced(spark: SparkSession, dir: String): DataFrame = {
    val in = Files.createTempDirectory("graft-curves-sdedupp").resolve("in")
    val ev = Tables.load(spark, dir, "events").select(col("event_id"), col("event_type"),
      timestamp_micros(expr("ts div 1000")).as("ets"))
    val span = ev.agg(min(unix_micros(col("ets"))), max(unix_micros(col("ets")))).head()
    val (lo, width) = (span.getLong(0), span.getLong(1) - span.getLong(0) + 1)
    val ranged = ev.union(ev)
      .withColumn("range", expr(s"int((unix_micros(ets) - $lo) * 16 div $width)"))
    // an Int key's hash is itself, so range r is partition r
    spark.createDataFrame(ranged.rdd.keyBy(_.getInt(3))
        .partitionBy(new org.apache.spark.HashPartitioner(16)).values, ranged.schema)
      .drop("range").sortWithinPartitions("ets")
      .write.mode("overwrite").parquet(in.toString)
    // The file source orders batches by modification time, and the 16
    // write tasks finish in any order: stamp increasing times in range
    // (part-file name) order. setLastModifiedTime throws where
    // File.setLastModified fails silently and would scramble the replay.
    val listing = Files.list(in)
    val parts = try listing.iterator().asScala.toSeq finally listing.close()
    parts.filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1704067200000L + i * 60000L))
      }
    val src = StreamStages.fileSource(spark, "parquet", in.toString,
      spark.read.parquet(in.toString).schema.json, maxFilesPerTrigger = Some(1))
    val deduped = StreamStages.dedupWithinWatermark(src, "ets", "1 hour", Seq("event_id"))
      .select(col("event_id"), col("event_type"), unix_micros(col("ets")).as("ts_us"))
    try StreamStages.withGateConf(spark, StreamStages.SkipNoDataBatch) {
      StreamStages.runToMemory(deduped, "curves_sdedup_paced")
    } finally Fs.deleteRecursively(in.getParent) // the memory sink holds the output
    spark.table("curves_sdedup_paced")
  }

  /** One fresh `pyspark_pandas_decode` subprocess on the slice's media
    * table: the gate's program with its work timer, so the wall splits
    * into the data-dependent Arrow decode and the constant spark-submit
    * boot that Bench annotates as `const_s`.
    */
  private def arrowRep(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    require(PySparkRunner.available, PySparkRunner.unavailableReason)
    require(PySparkPrograms.pandasAvailable, "no pandas/pyarrow/numpy in the subprocess python")
    // absolute: the subprocess runs from its own temp cwd
    val in = Paths.get(s"$dir/arrow_media").toAbsolutePath.toString
    if (!Files.exists(Paths.get(in)))
      Multimodal.writePpmMediaTable(Tables.load(spark, dir, "documents"), in)
    val n = spark.read.parquet(in).count()
    val tmp = Files.createTempDirectory("graft-curves-arrow")
    try {
      val out = tmp.resolve("feat").toString
      val code = PySparkPrograms.pandasPpmDecodeTimed
        .replace("${input.path}", in).replace("${output.path}", out)
      val t0 = System.nanoTime()
      val stdout = PySparkRunner.run(code, appName = "graft-curves-arrow", timeoutSec = 1200)
      val wall = (System.nanoTime() - t0) / 1e9
      val work = stdout.linesIterator.collectFirst {
        case l if l.startsWith("ARROW_WORK_SECONDS=") =>
          l.stripPrefix("ARROW_WORK_SECONDS=").trim.toDouble
      }.getOrElse(Double.NaN)
      val got = spark.read.parquet(out).count()
      require(got == n, s"decode dropped rows in $dir: $got of $n")
      Seq("wall_s" -> wall, "py_work_s" -> work, "boot_s" -> (wall - work),
        "n_docs" -> n.toDouble)
    } finally Fs.deleteRecursively(tmp)
  }

  /** The name table. Later entries replace earlier ones: the stream
    * gates and `pyspark_pandas_decode` are `SparkEntry` gates measured
    * their own way.
    */
  private[graft] lazy val kinds: Map[String, Kind] = {
    val streams = Seq("stream_dedup", "stream_window_agg", "stream_sessionize")
      .map(n => n -> SparkEntry.queries(n)) :+ ("stream_dedup_paced" -> (dedupPaced _))
    SparkEntry.queries.map { case (n, q) => n -> frameKind(n, q) } ++
      annOps.map { case (n, op) =>
        n -> frameKind(n, (s, d) => op(Tables.load(s, d, "embeddings")))
      } ++
      counts.map { case (n, c) =>
        n -> Kind("count", timed = false, (s, d) => Seq("count" -> c(s, d).toDouble))
      } ++
      streams.map { case (n, f) => n -> Kind("wall_s", timed = true, streamRep(_, _, n, f)) } +
      ("pyspark_pandas_decode" -> Kind("py_work_s", timed = true, arrowRep))
  }

  /** One point per multiple: the warm-up and min-of-2 loop for a timed
    * name, keeping the fields of the rep with the least wall time.
    */
  private def points(spark: SparkSession, name: String, ms: Seq[Long],
      slice: Long => String): Seq[(Long, Seq[(String, Double)])] = {
    val k = kinds(name)
    def wall(r: Seq[(String, Double)]) = r.toMap.apply("wall_s")
    if (k.timed) k.rep(spark, slice(ms.head))
    ms.map { m =>
      val r1 = k.rep(spark, slice(m))
      val r =
        if (k.timed && wall(r1) >= 0 && wall(r1) < 30)
          Seq(r1, k.rep(spark, slice(m))).filter(wall(_) >= 0).minBy(wall)
        else r1
      println(s"[curves] $name @ ${m}x: " +
        r.map { case (f, v) => s"$f=${cell(v)}" }.mkString(" "))
      m -> r
    }
  }

  /** A field value as JSON: `null` for NaN, an integer when whole. */
  private def cell(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v)) v.toLong.toString
    else Jsons.num(v, 3)

  private def numOrNull(d: Double) =
    if (d.isNaN || d.isInfinite) "null" else Jsons.num(d)

  /** log-log growth exponent between two (multiple, value) points. */
  private def exp(p: (Long, Double), q: (Long, Double)): Double =
    math.log(q._2 / p._2) / math.log(q._1.toDouble / p._1)

  /** The `"exp_full":…,"exp_tail":…` JSON fields of a curve: exponents
    * over the positive points, first to last and over the last step;
    * `null` where fewer than two points are positive.
    */
  def expFields(pts: Seq[(Long, Double)]): String = {
    val ok = pts.filter(_._2 > 0)
    val (full, tail) =
      if (ok.size >= 2) (exp(ok.head, ok.last), exp(ok(ok.size - 2), ok.last))
      else (Double.NaN, Double.NaN)
    s""""exp_full":${numOrNull(full)},"exp_tail":${numOrNull(tail)}"""
  }

  /** The `"linear_fit"` JSON field of the arrow row: least squares of
    * py_work = const + marginal · n_docs over the (n_docs, py_work)
    * points with positive work. The log-log exponent understates
    * linearity there, because a constant (python worker launch and
    * Arrow session, ~5 s) dominates py_work at these sizes; a
    * near-constant marginal is the linear data term. `null` fields
    * where fewer than two points are positive or all share one n_docs.
    */
  def linearFit(pts: Seq[(Double, Double)]): String = {
    val ok = pts.filter(_._2 > 0)
    val (a, b, r2) =
      if (ok.size >= 2) {
        val mx = ok.map(_._1).sum / ok.size
        val my = ok.map(_._2).sum / ok.size
        val b = ok.map(p => (p._1 - mx) * (p._2 - my)).sum /
          ok.map(p => (p._1 - mx) * (p._1 - mx)).sum
        val a = my - b * mx
        val ssRes = ok.map(p => math.pow(p._2 - (a + b * p._1), 2)).sum
        val ssTot = ok.map(p => math.pow(p._2 - my, 2)).sum
        (a, b, if (ssTot > 0) 1 - ssRes / ssTot else Double.NaN)
      } else (Double.NaN, Double.NaN, Double.NaN)
    s""""linear_fit":{"const_py_s":${numOrNull(a)},""" +
      s""""marginal_us_per_doc":${numOrNull(b * 1e6)},"r2":${numOrNull(r2)}}"""
  }

  private def row(name: String, pts: Seq[(Long, Seq[(String, Double)])]): String = {
    val k = kinds(name)
    def byM(f: String) = pts.map { case (m, r) => m -> r.toMap.getOrElse(f, Double.NaN) }
    val maps = pts.flatMap(_._2.map(_._1)).distinct.map { f =>
      byM(f).map { case (m, v) => s""""${m}x":${cell(v)}""" }
        .mkString(s"${Jsons.jq(f)}:{", ",", "}")
    }
    val fit =
      if (k.curve != "py_work_s") ""
      else "," + linearFit(byM("n_docs").map(_._2).zip(byM("py_work_s").map(_._2)))
    s"${Jsons.jq(name)}:{${maps.mkString(",")},${expFields(byM(k.curve))}$fit}"
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Curves <base> <outJson> <names> [multiples] [docs=dense|zipf|heaps]")
    val (base, outJson) = (args(0), args(1))
    val ms = (if (args.length > 3) args(3) else "1,3,10")
      .split(",").map(_.trim.toLong).sorted.toSeq
    val vocab = if (args.length > 4) args(4) else "dense"
    val docTable = Map("dense" -> "documents", "zipf" -> "zipfdocs", "heaps" -> "heapsdocs")
      .getOrElse(vocab, throw new IllegalArgumentException(s"docs=$vocab (dense|zipf|heaps)"))
    val names: Seq[(String, Seq[Long])] =
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
        _.split("@") match {
          case Array(n) => n -> ms
          case Array(n, cap) => n -> ms.filter(_ <= cap.toLong)
        }
      }
    val unknown = names.map(_._1).filterNot(kinds.contains)
    require(unknown.isEmpty, s"unknown name(s): ${unknown.mkString(", ")}")

    val spark = Bench.session()
    // a curve measured under a conf override (SCALE_TRIANGLE_SM.json)
    // must say so in the artifact
    val sessionConf = SessionConf.applyEnv(spark)
    // Both compared scales always come from the same generator. The
    // Zipfian regimes keep their own base, and only documents differ.
    val tables =
      if (vocab == "dense") Seq("documents", "events", "orders", "lineitem", "embeddings")
      else Seq("documents")
    def slice(m: Long): String = {
      val dir = s"$base/scale${m}x"
      val missing = tables.filterNot(t => Files.exists(Paths.get(s"$dir/$t.parquet")))
      if (missing.nonEmpty)
        ScaleGen.generate(spark, base, m,
          missing.map(t => if (t == "documents") docTable else t).toSet)
      dir
    }

    val rows = names.map { case (n, nms) => row(n, points(spark, n, nms, slice)) }
    val json = s"""{"metric":"scale_curves","multiples":[${ms.mkString(",")}],""" +
      s""""base":${Jsons.jq(base)},"vocab":${Jsons.jq(vocab)},""" +
      s""""state_provider":${Jsons.jq(sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs"))},""" +
      s""""session_conf":${Jsons.conf(sessionConf)},"gates":{${rows.mkString(",")}}}"""
    println(json)
    Files.write(Paths.get(outJson), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
