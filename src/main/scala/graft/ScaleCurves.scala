package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Scale-curve timings for the heavy BATCH gates (VERDICT r12 #4) —
  * the gate-level companion to [[ScaleDrivers]] (complexity drivers)
  * and [[ScaleAnn]]/[[ScaleStream]] (family-specific timings): runs
  * the UNMODIFIED `SparkEntry.queries` entries against [[ScaleGen]]
  * slices at several multiples of the sf0.1 shape, fits the log-log
  * wall-time exponent per gate, and writes one JSON artifact
  * (SCALE_CURVES.json).
  *
  * Exponent fits: full-range fit plus the TAIL step (last multiple
  * pair) — the first step carries each job's fixed scheduling/codegen
  * overhead, which inflates full-range fits (the r10 finding,
  * docs/HISTORY.md "Round 10: measured scale curves"). A gate whose
  * tail exponent exceeds its documented driver's is the signal the
  * audit exists for.
  *
  * Reps: min-of-2 while the previous slice's wall is under 30 s,
  * single rep above (the two exact-quadratic dedups cost O(10 min) at
  * 10× — re-measuring them twice buys no precision the min doesn't).
  *
  * Usage: ScaleCurves <scaleBase> <outJson> [gates] [multiples]
  * (defaults: the six r12-named heavy gates + profile_table_approx;
  * 1,3,10). Missing slices are generated on the fly.
  */
object ScaleCurves {
  private val DefaultGates = Seq(
    "profile_table", "profile_table_approx", "bpe_encode",
    "triangle_count", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_containment")

  /** The measurement discipline (docs in the class comment): per-gate
    * untimed warm-up on the smallest slice, then per multiple
    * min-of-2 while under 30 s, single rep above. Each run is
    * `Bench.runOnce` (noop sink, plan cache cleared first, −1 on
    * failure), shared with [[ScaleContain]], so every curve artifact
    * measures as Bench does.
    */
  def timeGates(spark: SparkSession, gates: Seq[String], ms: Seq[Long],
      dirs: Map[Long, String]): Seq[(String, Seq[(Long, Double)])] =
    gates.map { g =>
      Bench.runOnce(spark, dirs(ms.head), g)
      val times = ms.map { m =>
        val t1 = Bench.runOnce(spark, dirs(m), g)
        val t =
          if (t1 >= 0 && t1 < 30) {
            val t2 = Bench.runOnce(spark, dirs(m), g)
            if (t2 >= 0) math.min(t1, t2) else t1
          } else t1
        println(s"[scalecurves] $g @ ${m}x: ${Jsons.num(t, 3)} s")
        (m, t)
      }
      g -> times
    }

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
    def numOrNull(d: Double) = if (d.isNaN || d.isInfinite) "null" else Jsons.num(d)
    s""""exp_full":${numOrNull(full)},"exp_tail":${numOrNull(tail)}"""
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "target/testdata"
    val outJson = if (args.length > 1) args(1) else "SCALE_CURVES.json"
    val gates = if (args.length > 2)
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq else DefaultGates
    val ms = (if (args.length > 3) args(3) else "1,3,10")
      .split(",").map(_.trim.toLong).sorted.toSeq

    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Captured for the artifact: a curve measured under a conf
    // override (e.g. graft.triangle.sortMerge=true for
    // SCALE_TRIANGLE_SM.json) must be distinguishable from a
    // default-conf run by the JSON alone (ADVICE r14).
    val sessionConf = SessionConf.applyEnv(spark)

    // slices on demand — both compared scales always come from the
    // same generator (the ScaleGen discipline)
    val dirs: Map[Long, String] = ms.map { m =>
      val dir = s"$base/scale${m}x"
      if (!Files.exists(Paths.get(s"$dir/lineitem.parquet")) ||
          !Files.exists(Paths.get(s"$dir/documents.parquet")))
        ScaleGen.generate(spark, base, m, Set.empty)
      m -> dir
    }.toMap

    // PER-GATE warm-up on the smallest slice, untimed (inside
    // timeGates): the first execution of a heavy gate pays one-off
    // JIT/codegen cost that dwarfs the 1× data cost (measured:
    // profile_table_approx 36-47 s cold vs ~6 s warm — enough to
    // INVERT a curve), so without this the 1× anchor measures the
    // JVM, not the plan
    val results = timeGates(spark, gates, ms, dirs)
    val rows = results.map { case (g, ts) =>
      val tsJson = ts.map { case (m, t) => s""""${m}x":${Jsons.num(t, 3)}""" }
        .mkString("{", ",", "}")
      s"""${Jsons.jq(g)}:{"wall_s":$tsJson,${expFields(ts)}}"""
    }
    val json = s"""{"metric":"scale_curves","multiples":[${ms.mkString(",")}],""" +
      s""""base":${Jsons.jq(base)},"session_conf":${Jsons.conf(sessionConf)},""" +
      s""""gates":{${rows.mkString(",")}}}"""
    println(json)
    Files.write(Paths.get(outJson), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
