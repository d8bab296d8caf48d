package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the embed_anisotropy two-level swap threshold (VERDICT
  * r11 #5): at what embedding width d does the single-pass
  * (label, idx) moment aggregation — whose per-task partial hash-agg
  * state is (d(d+1)/2+d)·|labels| keys — lose to a two-level subspace
  * reduce that tiles the same upper triangle into S diagonal
  * [[graft.functions.OuterMoments]] triangles plus S(S-1)/2
  * [[graft.functions.CrossMoments]] rectangles, one bounded-state
  * aggregation pass per block, unioned?
  *
  * Work is identical by construction (the blocks tile the triangle
  * exactly once, term-for-term — the harness asserts rows and the
  * global decimal sum match between variants), so the A/B isolates
  * the aggregation-state effect: spill onset in the wide hash-agg vs
  * S(S+1)/2 extra scans of the same parquet.
  *
  * Usage: ScaleAniso [nRows] [dCsv] [wCsv] — defaults 10000,
  * 256,512,1024 and w=128 (N only scales the linear work; the per-task agg
  * state under test is N-independent because every row emits every
  * key). Synthetic (vec_id, label, v) parquet per d under
  * target/testdata/aniso_d<d>, splitmix-deterministic, |labels| = 10,
  * components uniform in [-1, 1) (well inside OuterMoments'
  * |x| ≲ 3·10³ domain). Prints one JSON line per (d, variant).
  */
object ScaleAniso {

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 10000
    val ds = (if (args.length > 1) args(1) else "256,512,1024")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def fmt(v: Double): String = Jsons.num(v, 3)

    // one aggregation pass over an exploded moment column; the final
    // global checksum both consumes the result and validates tiling
    def reduceMoments(labeled: DataFrame): (Long, String) = {
      val agg = labeled
        .groupBy("label", "idx")
        .agg(sum(col("x").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("cnt"))
      val r = agg.agg(count(lit(1)).as("rows"),
        sum(col("s")).as("total")).head()
      (r.getLong(0), String.valueOf(r.getDecimal(1)))
    }

    def singleLevel(df: DataFrame): (Long, String) =
      reduceMoments(df.select(col("label"),
        posexplode(graft.functions.OuterMoments(col("v"))))
        .toDF("label", "idx", "x"))

    // block passes: S OuterMoments triangles on the diagonal (these
    // also carry the d raw first-moment components, each exactly
    // once) + S(S-1)/2 CrossMoments rectangles; block-local idx is
    // offset into disjoint global ranges so the union's key space
    // stays collision-free without a triangle-index decode
    def twoLevel(df: DataFrame, d: Int, w: Int): (Long, String) = {
      val s = d / w
      require(s * w == d, s"subspace width $w must divide d=$d")
      val diagW = w * (w + 1) / 2 + w
      val crossBase = s * diagW
      var blockId = 0
      val blocks = (for (i <- 0 until s) yield {
        val base = i * diagW
        df.select(col("label"),
          posexplode(graft.functions.OuterMoments(
            slice(col("v"), i * w + 1, w))))
          .toDF("label", "bidx", "x")
          .select(col("label"), (col("bidx") + lit(base)).as("idx"), col("x"))
      }) ++ (for { i <- 0 until s; j <- (i + 1) until s } yield {
        val base = crossBase + { val b = blockId * w * w; blockId += 1; b }
        df.select(col("label"),
          posexplode(graft.functions.CrossMoments(
            slice(col("v"), i * w + 1, w), slice(col("v"), j * w + 1, w))))
          .toDF("label", "bidx", "x")
          .select(col("label"), (col("bidx") + lit(base)).as("idx"), col("x"))
      })
      // each block is reduced independently (bounded hash-agg state),
      // then the already-tiny per-block aggregates merge
      val reduced = blocks.map { b =>
        b.groupBy("label", "idx")
          .agg(sum(col("x").cast("decimal(38,0)")).as("s"),
            count(lit(1)).as("cnt"))
      }.reduce(_ unionByName _)
      val r = reduced.agg(count(lit(1)).as("rows"),
        sum(col("s")).as("total")).head()
      (r.getLong(0), String.valueOf(r.getDecimal(1)))
    }

    for (d <- ds) {
      val path = s"target/testdata/aniso_d$d"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        // component k of row r: uniform [-1, 1) from ScaleGen's
        // splitmix(r*d + k) — a UDF because the JVM's wrapping long
        // mix would THROW under ANSI Column arithmetic; generator
        // only, never a measured path
        val dLocal = d
        val genVec = udf((id: Long) => Array.tabulate(dLocal)(k =>
          (ScaleGen.mix(id * dLocal + k).toDouble /
            Long.MaxValue.toDouble).toFloat))
        spark.range(n.toLong)
          .select(col("id").as("vec_id"), pmod(col("id"), lit(10)).as("label"),
            genVec(col("id")).as("v"))
          .repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      val df = spark.read.parquet(path)

      def time(tag: String, body: () => (Long, String)): (Long, String) = {
        var best = Double.MaxValue
        var out: (Long, String) = null
        for (_ <- 1 to reps) {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          out = body()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        println(s"""{"d": $d, "n": $n, "variant": "$tag", """ +
          s""""secs": ${fmt(best)}, "rows": ${out._1}, "total": "${out._2}"}""")
        out
      }
      val single = time("single", () => singleLevel(df))
      // twoLevel requires w | d; a non-dividing width would `require`
      // out of the whole sweep mid-run, discarding the measurements
      // already taken — skip it (loudly) for this d instead.
      val (widths, skipped) = (if (args.length > 2) args(2) else "128")
        .split(",").map(_.trim.toInt).toSeq.map(math.min(_, d)).distinct
        .partition(w => d % w == 0)
      skipped.foreach(w => System.err.println(
        s"[scale-aniso] skipping w=$w for d=$d (block width must divide d)"))
      for (w <- widths) {
        val two = time(s"two_w$w", () => twoLevel(df, d, w))
        require(single == two,
          s"d=$d w=$w: two-level tiling diverged from single-level: $single vs $two")
      }
    }
    spark.stop()
  }
}
