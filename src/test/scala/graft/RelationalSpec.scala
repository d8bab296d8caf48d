package graft

import org.apache.spark.sql.functions._
import graft.dynamic.{DynamicCompiler, GraftContext}
import graft.pipeline.{Connection, MemorySink, Pipeline, PipelineSpec, StageSpec}

class RelationalSpec extends SparkSpec {

  test("pageRank: 2-cycle is a fixed point; dangling mass decays; total mass bounded") {
    import spark.implicits._
    // symmetric 2-cycle: uniform rank is the exact stationary point of
    // the integer recurrence (base 75e6 + 85% of 5e8 = 5e8)
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = graft.operators.Graph.pageRank(cyc, iters = 4).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 500000000L, "b" -> 500000000L), s"got $r")
    // dangling sink: a's inbound mass is only the base term; b holds
    // base + 85% of a's previous rank; total mass strictly below S
    val dang = Seq(("a", "b")).toDF("src", "dst")
    val d = graft.operators.Graph.pageRank(dang, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(d("a") == 75000000L && d("b") == 500000000L, s"got $d")
    assert(d.values.sum < 1000000000L)
  }

  test("pageRank: deep iteration reaches the integer fixed point with bounded plan depth") {
    import spark.implicits._
    // complete digraph K3: from uniform S/3, one step lands on the
    // exact integer fixed point 333333332 (floor loses 1 nano: contrib
    // = 333333333 div 2 = 166666666, msum = 333333332, rank' =
    // 50000000 + 85*333333332 div 100 = 333333332, which then maps to
    // itself) — so 12 and 20 iterations must agree bit-for-bit
    val g = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"),
      ("c", "a"), ("c", "b")).toDF("src", "dst")
    def run(iters: Int) = graft.operators.Graph.pageRank(g, iters)
    val r12 = run(12).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val r20 = run(20).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r12 == Map("a" -> 333333332L, "b" -> 333333332L, "c" -> 333333332L),
      s"not the hand-computed fixed point: $r12")
    assert(r12 == r20, s"not stable across deep iteration: $r12 vs $r20")
    // lineage-cut check: the localCheckpoint every 5 supersteps must
    // keep the analyzed plan size bounded by the residual iterations
    // SINCE the last cut, not total iters — 7 and 22 iterations both
    // sit 2 past their last checkpoint, so their plans must be the
    // same size (without the cut, depth grows ~linearly in iters)
    val d7 = run(7).queryExecution.analyzed.numberedTreeString.linesIterator.size
    val d22 = run(22).queryExecution.analyzed.numberedTreeString.linesIterator.size
    assert(d22 <= d7 + 5, s"plan depth grows with iters: $d7 -> $d22")
  }

  test("triangleCounts: K4 plus a pendant — hand-counted; orientation counts each triangle once") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5-1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("u", "v")
    val got = graft.operators.Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // total triangles = sum/3
    assert(got.values.sum == 12L)
  }

  test("triangleCounts: the closing join broadcasts when it fits, shuffle-hashes " +
      "when it does not, sort-merges only under graft.triangle.sortMerge; rows identical") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    // a denser graph than K4 so the A/B is non-trivial: 252 edges over
    // 60 nodes, 84 triangles (brute-force count below)
    val pairs = for (u <- 0L until 60L; v <- u + 1 until 60L
      if (u * 31 + v * 17) % 7 == 0) yield (u, v)
    val edges = pairs.toDF("u", "v")
    val adj = pairs.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val bruteForce = pairs.map { case (u, v) =>
      (adj(u) & adj(v)).count(_ > v) }.sum
    val aqe = new AdaptiveSparkPlanHelper {}
    def onXY(keys: Seq[Expression]) =
      keys.collect { case a: Attribute => a.name }.toSet == Set("x", "y")
    // rows plus every join on (x, y) of the FINAL adaptive plan, read
    // after collect() so AQE's runtime strategy choice is in it
    def run(): (Map[Long, Long], Seq[SparkPlan], String) = {
      val df = graft.operators.Graph.triangleCounts(edges)
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val plan = df.queryExecution.executedPlan
      val closing = aqe.collect(plan) {
        case j: BroadcastHashJoinExec if onXY(j.leftKeys) => j
        case j: ShuffledHashJoinExec if onXY(j.leftKeys) => j
        case j: SortMergeJoinExec if onXY(j.leftKeys) => j
      }
      (rows, closing, plan.toString())
    }
    val (fitRows, fit, fitPlan) = run()
    assert(bruteForce == 84 && fitRows.values.sum == 3L * bruteForce,
      s"triangle total ${fitRows.values.sum / 3} vs brute force $bruteForce")
    assert(fit.map(_.getClass) == Seq(classOf[BroadcastHashJoinExec]),
      "default path must broadcast a closing edge list that fits:\n" + fitPlan)
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      thresholds.foreach(spark.conf.set(_, "-1"))
      val (bigRows, big, bigPlan) = run()
      assert(big.size == 1 &&
        big.collect { case j: ShuffledHashJoinExec => j.buildSide } == Seq(BuildRight),
        "default path must shuffle-hash (build right) a closing edge list " +
        "over the broadcast threshold:\n" + bigPlan)
      assert(!big.exists(_.isInstanceOf[SortMergeJoinExec]),
        "default path must never sort-merge the wedge stream:\n" + bigPlan)
      assert(bigRows == fitRows,
        s"shuffled hash diverged: ${(fitRows.toSet -- bigRows.toSet).take(3)}")
    } finally thresholds.foreach(spark.conf.unset)
    spark.conf.set("graft.triangle.sortMerge", "true")
    try {
      val (mergedRows, merged, mergedPlan) = run()
      assert(merged.map(_.getClass) == Seq(classOf[SortMergeJoinExec]),
        "sortMerge path must close with a sort-merge join:\n" + mergedPlan)
      assert(mergedRows == fitRows,
        s"sort-merge diverged: ${(fitRows.toSet -- mergedRows.toSet).take(3)}")
    } finally spark.conf.unset("graft.triangle.sortMerge")
  }

  test("fuzzy join ed<=1: deletion-neighborhood blocking finds sub/ins/del/exact pairs, nothing more") {
    import spark.implicits._
    val rows = Seq(
      1L -> "kitten",  // vs sitten: substitution
      2L -> "sitten",
      3L -> "kittens", // vs kitten: insertion at end
      4L -> "itten",   // vs kitten/sitten: deletion at front
      5L -> "kitten",  // exact duplicate of 1
      6L -> "mitten",  // vs kitten/sitten: substitution
      7L -> "banana"   // no neighbor
    ).toDF("id", "name")
    val got = graft.operators.FuzzyJoin.editDistance1Pairs(rows, "id", "name")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // brute-force truth over the same rows
    val vals = Map(1L -> "kitten", 2L -> "sitten", 3L -> "kittens",
      4L -> "itten", 5L -> "kitten", 6L -> "mitten", 7L -> "banana")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- vals.keys; b <- vals.keys if a < b && lev(vals(a), vals(b)) <= 1
    } yield (a, b)).toSet
    assert(got == want, s"got $got want $want")
    // the truth set itself must exercise every edit kind
    assert(want.contains(1L -> 5L), "exact-duplicate pair missing from fixture")
    assert(want.contains(1L -> 3L), "insertion pair missing from fixture")
    assert(want.contains(1L -> 4L), "deletion pair missing from fixture")
    assert(want.contains(1L -> 2L), "substitution pair missing from fixture")
  }

  test("snmPairs: banded rank equals a global sort, window pairs cross band boundaries") {
    import spark.implicits._
    // bands by 2-char prefix: "aa"(×2), "ab", "ba", "bb" — window 2
    // must pair the last "ab" row with the first "ba" row ACROSS the
    // band boundary, and the in-band ("aaX","aaY") neighbors.
    val rows = Seq(
      10L -> "aaX", 11L -> "aaY", 12L -> "abX", 13L -> "baX", 14L -> "bbQ")
      .toDF("id", "name").repartition(4)
    // sorted order: aaX(1) aaY(2) abX(3) baX(4) bbQ(5)
    val got = graft.operators.FuzzyJoin
      .snmPairs(rows, "id", "name", w = 2, maxDist = 3)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    // window-2 candidates: (1,2)(1,3)(2,3)(2,4)(3,4)(3,5)(4,5);
    // lev: aaX~aaY=1 aaX~abX=1 aaY~abX=2 aaY~baX=2 abX~baX=2
    //      abX~bbQ=2 baX~bbQ=2  — all within maxDist=3
    val want = Set((10L, 11L, 1), (10L, 12L, 1), (11L, 12L, 2),
      (11L, 13L, 2), (12L, 13L, 2), (12L, 14L, 2), (13L, 14L, 2))
    assert(got == want, s"got $got want $want")
    // tighter verify keeps only the true near-matches
    val tight = graft.operators.FuzzyJoin
      .snmPairs(rows, "id", "name", w = 2, maxDist = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(tight == Set((10L, 11L), (10L, 12L)), s"got $tight")
    // against a single-task global row_number SNM: a null key sorts
    // first, and keys outside the BMP sort by UTF-8 bytes ("～" U+FF5E
    // before "😀" U+1F600, the reverse of UTF-16 order)
    def globalSnm(df: org.apache.spark.sql.DataFrame, w: Int, maxDist: Int) = {
      val r = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("name", "id")))
      r.as("a").join(r.as("b"), $"b.rn" > $"a.rn" && $"b.rn" <= $"a.rn" + w)
        .select($"a.id", $"b.id", levenshtein($"a.name", $"b.name").as("dist"))
        .filter(col("dist") <= maxDist)
        .as[(Long, Long, Int)].collect().toSet
    }
    val withNull = rows.union(Seq(15L -> (null: String)).toDF("id", "name"))
    val unicode = Seq(1L -> "～a", 2L -> "😀b", 3L -> "😀c").toDF("id", "name")
    for ((df, w) <- Seq(withNull -> 2, unicode -> 1, unicode.union(withNull) -> 2)) {
      val banded = graft.operators.FuzzyJoin.snmPairs(df, "id", "name", w, maxDist = 3)
        .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
      assert(banded == globalSnm(df, w, 3), s"w=$w")
    }
    assert(graft.operators.FuzzyJoin.snmPairs(unicode, "id", "name", w = 1, maxDist = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet == Set((1L, 2L), (2L, 3L)))
  }

  test("approx_count_distinct stays within HLL error of exact") {
    // the gate query now emits the bound verdict; assert the raw
    // estimate directly here
    val rows = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"approx $approx vs exact $exact off by >10%")
    }
    // and the gate query's verdict column is all-ones (what the
    // DuckDB oracle pins)
    val gate = SparkEntry.queries("agg_approx_distinct")(spark, sfDir).collect()
    assert(gate.forall(_.getInt(2) == 1))
  }

  test("profileApproxAgg plans no Expand; the exact profile does") {
    // the 100 TB contract behind profile_table_approx: the production
    // aggregation is ONE scan of mergeable sketches — Spark's Expand
    // (which multiplies scan rows by the number of exact distinct
    // aggregates) must not appear in its plan, while the exact
    // profile_table plan DOES carry it (proving the audit looks at the
    // right node and the swap removes a real cost, not a phantom)
    import org.apache.spark.sql.execution.ExpandExec
    val orders = Tables.load(spark, sfDir, "orders")
    val approxPlan = graft.operators.RelationalQueries
      .profileApproxAgg(orders).queryExecution.sparkPlan
    assert(approxPlan.collect { case e: ExpandExec => e }.isEmpty,
      s"approx profile planned an Expand:\n$approxPlan")
    val exactPlan = SparkEntry.queries("profile_table")(spark, sfDir)
      .queryExecution.sparkPlan
    assert(exactPlan.collect { case e: ExpandExec => e }.nonEmpty,
      "exact profile no longer plans an Expand — update PLANS.md's trade note")
    // and the gated twin's verdict holds at spec scale too
    val gate = SparkEntry.queries("profile_table_approx")(spark, sfDir).collect()
    assert(gate.nonEmpty && gate.forall(_.getInt(2) == 1))
  }

  test("rolling_distinct_hll: sketch union tracks the exact 24h reach") {
    val rows = SparkEntry.queries("rolling_distinct_hll")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) == 1),
      "an hourly HLL union estimate fell outside the 5% verdict band")
  }

  test("quantile-banded RANGE frame: exact under pathological skew, bands stay balanced") {
    import spark.implicits._
    import graft.operators.RelationalQueries
    // 90% of the mass on ONE key value — the regime that degenerated
    // round-5's value-uniform bands into a single partition.
    // Plus a null value: Spark's global window orders it first, as a
    // peer of every other null.
    val hot = 9000
    val rows = (0 until hot).map(i => (i.toLong, Option(100.0))) ++
      (0 until 1000).map(i => (hot + i.toLong, Option(i.toDouble * 7.3 + 1))) :+
      ((hot + 1000).toLong, Option.empty[Double])
    val df = rows.toDF("id", "v").repartition(8)

    val got = RelationalQueries.cumulativeRangeCount(df, "v")
      .select("id", "n_cheaper_or_eq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: the single-task global RANGE window
    import org.apache.spark.sql.expressions.Window
    val want = df.select(col("id"), count(lit(1)).over(Window.orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.size == rows.size && want((hot + 1000).toLong) == 1L)
    rows.foreach { case (id, v) =>
      assert(got(id) == want(id), s"id=$id v=$v got=${got(id)} want=${want(id)}")
    }

    // band balance: the hot value's band is irreducible (RANGE peers
    // must be co-partitioned), but every OTHER band must stay near the
    // ideal N/nBands share — the quantile sketch collapses ~90% of its
    // boundaries onto the hot value (dedup'd to one) and spends the
    // rest on the cold tail, so cold rows land ~nBands-proportional.
    // (Round-5's value-uniform bands put hot AND all colds below it in
    // one band and left the rest empty.)
    val nBands = 256
    val counts = df
      .withColumn("band", graft.operators.BandedWindow.quantileBand(df, "v", nBands))
      .groupBy("band").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hotBand = counts.maxBy(_._2)
    assert(hotBand._2 >= hot, "hot value must share one band (RANGE peers)")
    val rest = counts - hotBand._1
    val ideal = rows.size.toDouble / nBands
    assert(rest.size >= 16, s"skew collapsed banding to ${rest.size} cold bands")
    assert(rest.values.max <= 4 * ideal,
      s"cold band ${rest.values.max} rows vs ideal $ideal — banding unbalanced")
  }

  test("RDD-mode dynamic transform (reference 4-shape matrix)") {
    import spark.implicits._
    val code =
      """def transform(rdd: RDD[Row], ctx: GraftContext): RDD[Row] =
        |  rdd.filter(r => r.getString(0).endsWith("1"))
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("rddmode")
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    compiled.shipTo(spark)
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    assert(fn.isRddMode && fn.takesContext)
    val df = (0 until 10).map(i => s"Line $i").toDF("body")
    val prevCl = Thread.currentThread().getContextClassLoader
    Thread.currentThread().setContextClassLoader(compiled.loader)
    try {
      val out = fn.invoke(df, GraftContext(spark, Map.empty))
        .asInstanceOf[org.apache.spark.sql.DataFrame]
      assert(out.schema == df.schema)
      assert(out.collect().map(_.getString(0)).toSeq == Seq("Line 1"))
    } finally Thread.currentThread().setContextClassLoader(prevCl)
  }

  test("zorder cluster yields disjoint per-partition key ranges") {
    import graft.operators.ZOrder
    val df = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        (col("o_custkey") % 65536).as("x"),
        (expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000") % 65536).as("y"))
    val clustered = ZOrder.cluster(df, col("x"), col("y"), bits = 16,
      numPartitions = 8)
    // each output partition must own a contiguous, non-overlapping
    // zkey range — that's the property that makes parquet footer
    // min/max stats prunable on either source dimension
    val ranges = clustered.select("zkey").rdd
      .mapPartitions(it => {
        val v = it.map(_.getLong(0)).toSeq
        if (v.isEmpty) Iterator.empty else Iterator((v.min, v.max, v.length))
      }).collect().sortBy(_._1)
    assert(ranges.nonEmpty)
    ranges.sliding(2).foreach {
      case Array((_, hi, _), (lo, _, _)) => assert(hi <= lo,
        s"partition ranges overlap: max $hi vs next min $lo")
      case _ =>
    }
    // interleave sanity: zkey of (x=3,y=5) = 0b100111 = 39
    val probe = spark.range(1).select(
      ZOrder.zkey(lit(3L), lit(5L), 16).as("z")).head().getLong(0)
    assert(probe == 39L, s"interleave formula broken: got $probe")
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // a previous JVM's warehouse dirs survive the (per-JVM) metastore
    Seq("li_b", "ord_b").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) { org.apache.commons.io.FileUtils.deleteDirectory(d) }
    }
    val spec = PipelineSpec(Seq(
      StageSpec("li", "parquet", Map("path" -> s"$sfDir/lineitem.parquet")),
      StageSpec("ord", "parquet", Map("path" -> s"$sfDir/orders.parquet")),
      StageSpec("liSink", "parquetSink",
        Map("bucketBy" -> "4:l_orderkey", "sortBy" -> "l_orderkey", "table" -> "li_b")),
      StageSpec("ordSink", "parquetSink",
        Map("bucketBy" -> "4:o_orderkey", "sortBy" -> "o_orderkey", "table" -> "ord_b"))),
      Seq(Connection("li", "liSink"), Connection("ord", "ordSink")))
    new Pipeline(spec).run(spark)

    // force a non-broadcast join so the bucketed (co-located) path is
    // what's being demonstrated — at real scale neither side broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed read not used:\n$plan")
      assert(joined.count() == spark.table("li_b").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pareto front: window form equals the O(n^2) dominance definition; exact duplicates both survive") {
    import spark.implicits._
    // hand-built frontier on (maximize size, minimize price):
    //  (1, s=10, 5.0) frontier     (2, s=10, 5.0) exact duplicate — both stay
    //  (3, s=20, 7.0) dominated by 5 (s=30 > 20, 6.0 < 7.0)
    //  (4, s=20, 9.0) dominated by 3 (same size, pricier) and by 5
    //  (5, s=30, 6.0) frontier (max size)
    //  (6, s=5, 4.0)  frontier     (7, s=5, 5.5) dominated by 1 (bigger and cheaper)
    //  (8, s=25, 6.0) dominated by 5 (s=30 > 25, 6.0 <= 6.0, strict on size)
    val p = Seq((1L, 10, 5.0), (2L, 10, 5.0), (3L, 20, 7.0), (4L, 20, 9.0),
      (5L, 30, 6.0), (6L, 5, 4.0), (7L, 5, 5.5), (8L, 25, 6.0))
      .toDF("p_partkey", "p_size", "p_retailprice")
    p.createOrReplaceTempView("pareto_fix")
    val m = p.groupBy("p_size").agg(min("p_retailprice").as("m"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("p_size").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val mm = m.withColumn("bigM", min(col("m")).over(w))
    val got = p.join(broadcast(mm), "p_size")
      .filter(col("p_retailprice") === col("m")
        && (col("bigM").isNull || col("p_retailprice") < col("bigM")))
      .select("p_partkey").as[Long].collect().sorted.toSeq
    // O(n^2) reference: NOT EXISTS a strict dominator
    val ref = spark.sql(
      """SELECT p_partkey FROM pareto_fix p WHERE NOT EXISTS (
        |  SELECT 1 FROM pareto_fix q
        |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
        |""".stripMargin).as[Long].collect().sorted.toSeq
    assert(got == ref, s"window form $got != dominance definition $ref")
    assert(got == Seq(1L, 2L, 5L, 6L), s"unexpected frontier $got")
  }

  test("signed random projection matches a naive per-dim recompute and is sign-matrix-stable") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 2.0f, -3.0f, 0.5f)),
      (2L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = graft.llm.Similarity
      .signedRandomProjection(vecs, outDim = 3, dim = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val signs = graft.llm.Similarity.projectionSigns(outDim = 3, dim = 4)
    // same seed twice -> same matrix (the oracle-generation contract)
    assert(signs.map(_.toSeq) ==
      graft.llm.Similarity.projectionSigns(outDim = 3, dim = 4).map(_.toSeq))
    val v1 = Array(1.0, 2.0, -3.0, 0.5)
    for (j <- 0 until 3) {
      val want = v1.indices.foldLeft(0.0)((a, i) => a + v1(i) * signs(j)(i))
      assert(got((1L, j)) == want, s"dim $j: ${got((1L, j))} != $want")
      assert(got((2L, j)) == 0.0)
    }
  }
}
