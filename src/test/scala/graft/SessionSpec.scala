package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

class SessionSpec extends SparkSpec {

  test("poly_hash / vector_dot registered as SQL functions") {
    GraftSession.registerFunctions(spark)
    val got = spark.sql("SELECT poly_hash('ab') AS h").collect().head.getLong(0)
    assert(got == 97L * 31 + 98)
    val dot = spark.sql(
      "SELECT vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(dot == 11.0)
  }

  test("GraftExtensions class wires into a session builder") {
    // separate session instance via newSession would share extensions;
    // just verify the class instantiates and applies cleanly.
    val ext = new GraftExtensions()
    val holder = new org.apache.spark.sql.SparkSessionExtensions
    ext.apply(holder) // must not throw
  }

  test("a session carrying GraftExtensions resolves every engine SQL function") {
    // a fresh session on the shared context, built with the extension
    // alone: nothing registers functions on it after the build
    spark
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
    assert(ext ne spark)
    val names = Seq("poly_hash", "vector_dot", "word_shingles", "winnow_keys")
    names.foreach(n => assert(ext.catalog.functionExists(n), s"$n not resolved"))
    val r = ext.sql("SELECT poly_hash('ab'), " +
      "vector_dot(array(CAST(1.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))), " +
      "word_shingles('a b a b', 2), size(winnow_keys('a b c d', 2, 2))").head()
    assert(r.getLong(0) == 97L * 31 + 98)
    assert(r.getDouble(1) == 3.0)
    assert(r.getSeq[String](2) == Seq("a b", "b a"))
    assert(r.getInt(3) > 0)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the 100 TB behavior worth pinning: with a selective filter on
    // the dimension side, Spark injects a bloom-filter semi-join
    // (InjectRuntimeFilter) so fact rows that can't match are dropped
    // at scan/filter time instead of surviving to the join shuffle
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // sf0.001 sits under the default 10GB/10MB thresholds' radar
      // only because stats are tiny; force the feature observable
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sfDir, "lineitem")
      val ord = Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter") ||
        plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      assert(j.collect().nonEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // skew: one hot key with 10k rows
    val big = ((1 to 10000).map(i => (1L, s"v$i")) ++ (1 to 100).map(i => (i.toLong + 1, "x")))
      .toDF("k", "payload")
    val small = (1 to 50).map(i => (i.toLong, s"dim$i")).toDF("k2", "dim")
    val plain = big.join(small, big("k") === small("k2"))
      .select("k", "payload", "dim").collect().map(_.toString).sorted
    val salted = SkewJoin.saltedJoin(big, small, "k", "k2", saltBuckets = 8)
      .select("k", "payload", "dim").collect().map(_.toString).sorted
    assert(salted.toSeq == plain.toSeq)
    val shares = SkewJoin.topKeyShares(big, "k", 1).collect().head
    assert(shares.getLong(1) == 10000L)
  }

  test("salted join balances tasks under a 10%-hot key (no task >4x median shuffle read)") {
    val conf = spark.conf
    val prev = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions")
      .map(k => k -> conf.get(k))
    // scoped: AQE off so coalescing can't merge the tiny test
    // partitions, broadcast off so the join actually shuffles (a
    // broadcast join is skew-immune and wouldn't exercise salting)
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val n = 200000
      // hot key 77 carries 10% of the big side; 5000 cold keys the rest
      val big = spark.range(n).select(
        when(pmod(col("id"), lit(10)) === 0, lit(77L))
          .otherwise(pmod(col("id"), lit(5000)) + 1000).as("k"),
        col("id").as("payload"))
      val small = spark.range(7000).select(col("id").as("sk"), (col("id") * 3).as("attr"))

      // per-task shuffle-read record counts of the join stage, the
      // stage reading the most records
      def joinStageStats(df: org.apache.spark.sql.DataFrame): (Long, Seq[Long]) = {
        val (total, metrics) = Metrics.measure(spark)(
          df.agg(sum(col("payload") + col("attr"))).head().getLong(0))
        (total, metrics.stages.map(_.shuffleReadRecords).maxBy(_.sum))
      }

      val (plainTotal, plainTasks) = joinStageStats(big.join(small, big("k") === small("sk")))
      val (saltedTotal, saltedTasks) =
        joinStageStats(SkewJoin.saltedJoin(big, small, "k", "sk", saltBuckets = 32))
      assert(saltedTotal == plainTotal, "salted join changed the result")

      def ratio(ts: Seq[Long]): Double = {
        val s = ts.sorted
        s.last.toDouble / math.max(s(s.size / 2), 1L)
      }
      // the unsalted plan funnels the hot key into one task (the
      // pathology the test must be able to see)...
      assert(ratio(plainTasks) > 2.5,
        s"skew fixture too mild: plain-join max/median ${ratio(plainTasks)}")
      // ...the salted plan spreads it: max task <= 4x median input
      assert(ratio(saltedTasks) <= 4.0,
        s"salted join unbalanced: max/median ${ratio(saltedTasks)} over ${saltedTasks.size} tasks")
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }
}
