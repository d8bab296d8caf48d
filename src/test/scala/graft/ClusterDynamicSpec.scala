package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.dynamic.{DynamicCompiler, GraftContext}

/** Cross-JVM proof of the dynamic-code shipping path (SURVEY §7 risk
  * 1). Every other suite runs `local[*]`, where the driver and the
  * executors share one JVM and one classloader — so a runtime-compiled
  * class "loading on the executor" was never actually proven. This
  * suite boots `local-cluster[2,1,1024]`: a real standalone
  * master/worker pair that spawns TWO SEPARATE EXECUTOR JVM PROCESSES,
  * which is what `Compiled.shipTo`'s one `addJar` channel must reach
  * for SQL-derived and bare-RDD tasks alike (the reference ships its
  * interpreter output the same way, ScalaSparkTest.java:179-180 /
  * saveAsJar).
  *
  * What ships how (and what would break if shipping failed):
  *  - the graft library itself rides `spark.executor.extraClassPath`
  *    (= this JVM's full classpath) — on a real cluster that is the
  *    app assembly / --jars path, legitimately static;
  *  - the RUNTIME-COMPILED stage classes are NOT on that classpath:
  *    they exist only in a driver temp dir created after the executors
  *    launched, so every test here fails with ClassNotFoundException
  *    on the executor unless the addJar transfer works.
  *
  * Each test collects the executing JVM's pid inside the shipped
  * closure and asserts it is NOT the driver pid — positive proof the
  * code ran across the process boundary, not merely that a result came
  * back.
  */
class ClusterDynamicSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val driverPid = ProcessHandle.current().pid()
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // build.sbt's Tests.Setup materializes the SPARK_HOME skeleton
    // before any forked test JVM starts; this is the idempotent
    // classpath-derived fallback for JVMs not launched through sbt.
    ClusterEnv.ensureSparkHomeSkeleton()
    // one SparkContext per JVM: stop the suites' shared local[4]
    // context (later suites' getOrCreate rebuilds it — getOrCreate
    // discards sessions whose context is stopped)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = GraftSession.start(GraftSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName("graft-cluster-dynamic")
      // the application classpath executors start from — graft +
      // spark + scala, NEVER the runtime-compiled temp jars
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      // JDK17 module opens for the spawned executor JVMs (the same
      // list spark-submit injects; build.sbt injects it for THIS jvm)
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      // block job submission until BOTH executor JVMs register, so
      // the two-distinct-pids assertion below cannot flake on a slow
      // second executor
      .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
      .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "90s")
      .config("spark.sql.shuffle.partitions", "4"))
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def lines = {
    val s = spark // stable identifier for the implicits import
    import s.implicits._
    (0 until 10).map(i => s"Line $i").toDF("body")
  }

  test("local-cluster boots two executor JVMs distinct from the driver") {
    val pids = spark.sparkContext.parallelize(1 to 16, 8)
      .map(_ => ProcessHandle.current().pid()).collect().toSet
    assert(!pids.contains(driverPid),
      s"tasks ran in the driver JVM ($driverPid) — not a real cluster")
    assert(pids.size == 2, s"expected 2 executor JVMs, saw pids $pids")
  }

  test("(a) runtime-compiled udf executes in the executor JVMs (addJar channel)") {
    // the udf lambda below is a class INSIDE the runtime-compiled jar:
    // deserializing it on the executor forces the executor classloader
    // to resolve the shipped artifact — in local[*] this resolution is
    // free (same JVM), here it must cross the process boundary
    val code =
      """def transform(df: DataFrame): DataFrame = {
        |  val whereAmI = udf((s: String) =>
        |    ProcessHandle.current().pid())
        |  df.select(explode(split(col("body"), "\\s+")).as("word"))
        |    .withColumn("exec_pid", whereAmI(col("word")))
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("clusterwc", code)
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    compiled.shipTo(spark)
    val fn = DynamicCompiler.resolveFunction(
      compiled.loadObject(objName), "transform", isVoid = false)
    val rows = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    val words = rows.map(_.getString(0))
    assert(words.length == 20 && words.count(_ == "Line") == 10)
    val pids = rows.map(_.getLong(1)).toSet
    assert(!pids.contains(driverPid) && pids.nonEmpty,
      s"dynamic closure ran driver-side (driver=$driverPid, saw $pids)")
  }

  test("(b) native codegen expression inside dynamic code runs executor-side") {
    // the dynamic stage calls the SQL-registered native expressions
    // (poly_hash — real doGenCode); codegen compiles and evaluates in
    // the executor JVM, and the result must match the same expression
    // evaluated through the engine's own (driver-verified) plan
    val code =
      """def transform(df: DataFrame, ctx: GraftContext): DataFrame = {
        |  val tagged = df.select(
        |    explode(split(col("body"), "\\s+")).as("word"))
        |    .withColumn("ph", expr("poly_hash(word)"))
        |  val pidOf = udf((x: Long) => ProcessHandle.current().pid())
        |  tagged.withColumn("exec_pid", pidOf(col("ph")))
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("clusterhash", code)
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    compiled.shipTo(spark)
    val fn = DynamicCompiler.resolveFunction(
      compiled.loadObject(objName), "transform", isVoid = false)
    val got = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // independent expected values: the same native expression run
    // through a plain engine plan (no dynamic code involved)
    val expected = lines
      .select(explode(split(col("body"), "\\s+")).as("word"))
      .withColumn("ph", expr("poly_hash(word)"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    got.foreach { case (w, ph, pid) =>
      assert(ph == expected(w), s"poly_hash($w) diverged across JVMs")
      assert(pid != driverPid)
    }
  }

  test("(c) dependency-jar symbol resolves in the executor JVMs") {
    // trio part 3 (reference T/ScalaSparkTest.java:175-215): user code
    // compiled against a SEPARATE dependency jar, both jars shipped;
    // the executor must load the dep's class through the addJar
    // classloader when the closure calls it
    val helper = DynamicCompiler.compile(
      "object ClusterDepConstants { def scale(x: Long): Long = x * 7L }")
    helper.shipTo(spark)
    val code =
      """def transform(df: DataFrame): DataFrame = {
        |  val scaled = udf((x: Long) =>
        |    ClusterDepConstants.scale(x) * 0 + ProcessHandle.current().pid())
        |  val f = udf((x: Long) => ClusterDepConstants.scale(x))
        |  df.select(col("id"), f(col("id")).as("x7"),
        |    scaled(col("id")).as("exec_pid"))
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("clusterdep", code)
    val compiled = DynamicCompiler.compile(
      DynamicCompiler.wrap(objName, code), extraClasspath = Seq(helper.jar))
    compiled.shipTo(spark)
    val fn = DynamicCompiler.resolveFunction(
      compiled.loadObject(objName), "transform", isVoid = false)
    val df = spark.range(0, 32, 1, 8).toDF("id")
    val rows = fn.invoke(df, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect()
    assert(rows.length == 32)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 7L)
      assert(r.getLong(2) != driverPid)
    }
  }

  test("pipeline DSL scalaCompute stage runs on the cluster (DAG executor's shipping path)") {
    // the reference's production shape: a declared pipeline whose
    // dynamic stage is compiled and shipped BY THE DAG EXECUTOR
    // (Stages.DynamicCompute → compileCached → shipTo), not by test
    // code calling the compiler directly — proven here across the
    // process boundary with the wordcount golden. The udf forces a
    // runtime-compiled lambda class into the executor classloaders.
    import graft.pipeline.{Connection, Pipeline, PipelineSpec, StageSpec}
    val in = Files.createTempDirectory("graft-cluster-pipe").resolve("in")
    lines.coalesce(2).write.parquet(in.toString)
    val code =
      """def transform(df: DataFrame): DataFrame = {
        |  val tag = udf((w: String) => w + ":" + (ProcessHandle.current().pid() > 0))
        |  df.select(explode(split(col("body"), "\\s+")).as("word"))
        |    .withColumn("tagged", tag(col("word")))
        |    .filter(col("tagged").endsWith(":true"))
        |    .groupBy("word").count().withColumnRenamed("count", "n")
        |}
        |""".stripMargin
    val spec = PipelineSpec(Seq(
      StageSpec("src", "parquet", Map("path" -> in.toString)),
      StageSpec("wc", "scalaCompute", Map("scalaCode" -> code)),
      StageSpec("srt", "sort", Map("columns" -> "n DESC, word"))),
      Seq(Connection("src", "wc"), Connection("wc", "srt")))
    val got = new Pipeline(spec).run(spark)("srt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val golden = Map("Line" -> 10L) ++ (0 until 10).map(i => i.toString -> 1L)
    assert(got == golden)
  }

  test("stateful streaming op runs with executor-side state stores cross-JVM") {
    // the streaming family's cross-JVM proof: within-watermark dedup
    // keeps its dedup state in per-partition state stores INSIDE the
    // executor processes (local[*] never exercises that boundary).
    // The harness writes every row twice; any state loss across the
    // two executor JVMs would double counts and fail the exact
    // row-set assertion.
    import graft.streaming.StreamStages
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-cluster-stream")
    val ev = (0L until 500L)
      .map(i => (i, new java.sql.Timestamp(1704067200000L + i * 60000L)))
      .toDF("event_id", "ets")
    ev.coalesce(2).write.mode("overwrite").parquet(s"$base/in")
    ev.coalesce(2).write.mode("append").parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val src = StreamStages.fileSource(spark, "parquet", s"$base/in", schema.json)
    val deduped = StreamStages.dedupWithinWatermark(src, "ets", "1 hour",
      Seq("event_id"))
    StreamStages.withGateConf(spark, StreamStages.SkipNoDataBatch) {
      StreamStages.runToMemory(deduped, "cluster_sdedup")
    }
    val got = spark.table("cluster_sdedup").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 500L))
  }

  test("closure-heavy gates from the inventory execute on real executor JVMs") {
    // CI guard for the round-11 cluster-parity property: the full
    // signature compare lives in graft.ClusterVerify (one-shot
    // artifact, CLUSTER_VERIFY.json); this keeps the closure-
    // serialization half from ROTTING between rounds by running a
    // deliberately diverse slice of the inventory on this suite's real
    // two-executor cluster. Chosen per closure family: mapPartitions
    // decoder (multimodal_decode), typed Dataset lambdas (typed_map),
    // driver union-find broadcast-back (dedup_clusters), broadcast
    // literal dictionary (dict_tag), native codegen expressions inside
    // shuffles (dedup_minhash_lsh), interpreted HOF lambdas
    // (text_quality), runtime-compiled pipeline (dynamic_wordcount).
    // The relative-classpath regression this guards against failed
    // with ClassCastException on exactly these shapes (r11 sweep 1).
    val picks = Seq("multimodal_decode", "typed_map", "dedup_clusters",
      "dict_tag", "dedup_minhash_lsh", "text_quality", "dynamic_wordcount")
    picks.foreach { name =>
      val n = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      assert(n > 0, s"$name returned no rows on the cluster")
    }
  }

  test("bare-RDD closure ships through the addJar channel cross-JVM") {
    // the same channel as the SQL-derived tests above: a GraftMain
    // program using raw RDDs runs jobs that no SQL execution wraps,
    // exercised here across the process boundary
    val src =
      """import org.apache.spark.sql._
        |import graft.dynamic.{GraftContext, GraftMain}
        |object ClusterClosure extends GraftMain {
        |  val factor = 3L
        |  var result: Seq[(Long, Long)] = Nil
        |  def run(ctx: GraftContext): Unit = {
        |    result = ctx.spark.sparkContext
        |      .parallelize(1L to 8L, 4)
        |      .map(x => (x * factor, ProcessHandle.current().pid()))
        |      .collect().toSeq
        |  }
        |}
        |""".stripMargin
    val compiled = DynamicCompiler.compile(src)
    compiled.shipTo(spark)
    val obj = compiled.loadObject("ClusterClosure")
    DynamicCompiler.runProgram(obj, spark, Map.empty)
    val result = obj.getClass.getMethod("result").invoke(obj)
      .asInstanceOf[Seq[(Long, Long)]]
    assert(result.map(_._1).sorted == (1L to 8L).map(_ * 3L))
    assert(result.forall(_._2 != driverPid))
  }
}
