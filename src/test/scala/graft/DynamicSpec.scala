package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.dynamic.{DynamicCompiler, GraftContext}

/** Ports of the reference's golden tests (ScalaSparkTest.java; fixture
  * A1-A4 in FIXTURES.md): wordcount over 10 "Line i" records must give
  * 11 distinct words, "Line"→10, each digit→1.
  */
class DynamicSpec extends SparkSpec {

  private def lines = {
    import spark.implicits._
    (0 until 10).map(i => s"Line $i").toDF("body")
  }

  private def golden: Map[String, Long] =
    Map("Line" -> 10L) ++ (0 until 10).map(i => i.toString -> 1L)

  test("dynamic compute DataFrame wordcount (testScalaSparkComputeDataFrame)") {
    val code =
      """def transform(df: DataFrame): DataFrame =
        |  df.select(explode(split(col("body"), "\\s+")).as("word"))
        |    .groupBy("word").count()
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("wc")
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    val out = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == golden)
  }

  test("dynamic compute with context + SQL over temp view (testScalaSparkSinkDataFrame shape)") {
    val code =
      """def transform(df: DataFrame, ctx: GraftContext): DataFrame = {
        |  df.select(explode(split(col("body"), "\\s+")).as("word"))
        |    .createOrReplaceTempView("splitted")
        |  ctx.spark.sql(
        |    "SELECT word, count(*) AS count FROM splitted GROUP BY word")
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("wcsql")
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    assert(fn.takesContext)
    val out = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == golden)
  }

  test("dynamic sink writes files (testScalaSparkSinkRDD)") {
    val dir = Files.createTempDirectory("graft-sink").resolve("out")
    val code =
      s"""def sink(df: DataFrame): Unit =
         |  df.select(explode(split(col("body"), "\\\\s+")).as("word"))
         |    .groupBy("word").count()
         |    .select(concat_ws(" ", col("word"), col("count")))
         |    .write.format("text").save("$dir")
         |""".stripMargin
    val objName = DynamicCompiler.classNameFor("sink1")
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "sink", isVoid = true)
    fn.invoke(lines, GraftContext(spark, Map.empty))
    val got = spark.read.text(dir.toString).collect()
      .map(_.getString(0).split(" ")).map(a => a(0) -> a(1).toLong).toMap
    assert(got == golden)
  }

  test("Spark 2.1 user-code idioms run unchanged: df.explode(in, out)(fn) + registerTempTable (reference ScalaSparkTest.java:276-280,397-400)") {
    // verbatim reference-era idioms. Both APIs are deprecated-but-
    // present in Spark 4 (verified against spark-sql-api Dataset), so
    // migrated user code compiles natively; the one real migration
    // hazard is that the explode LAMBDA is a user class that must ship
    // to executors — shipTo (which the scalaCompute stage always
    // calls) covers it.
    val code =
      """def transform(df: DataFrame, ctx: GraftContext): DataFrame = {
        |  val words = df.explode("body", "word")((line: String) => line.split(" "))
        |  words.registerTempTable("exploded21")
        |  ctx.spark.sql(
        |    "SELECT word, count(*) AS count FROM exploded21 GROUP BY word")
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("compat21", code)
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    compiled.shipTo(spark)
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    val out = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == golden)
  }

  test("classNameFor: same stage name, different code → distinct class names") {
    val a = DynamicCompiler.classNameFor("stage", "def transform(df: DataFrame) = df")
    val b = DynamicCompiler.classNameFor("stage", "def transform(df: DataFrame) = df.limit(1)")
    assert(a != b)
    assert(DynamicCompiler.classNameFor("stage",
      "def transform(df: DataFrame) = df") == a) // stable
  }

  test("whole program: GraftMain + run(SparkSession) + main(args) dispatch (testScalaProgram)") {
    val out1 = Files.createTempDirectory("graft-prog").resolve("p1")
    val src =
      s"""import org.apache.spark.sql._
         |import org.apache.spark.sql.functions._
         |import graft.dynamic.{GraftContext, GraftMain}
         |object ProgA extends GraftMain {
         |  def run(ctx: GraftContext): Unit = {
         |    import ctx.spark.implicits._
         |    (0 until 10).map(i => s"Line " + i).toDF("body")
         |      .select(explode(split(col("body"), "\\\\s+")).as("word"))
         |      .groupBy("word").count()
         |      .write.parquet("$out1")
         |  }
         |}
         |object ProgB { def run(spark: SparkSession): Unit = spark.range(1).count() }
         |object ProgC {
         |  var got: Array[String] = null
         |  def main(args: Array[String]): Unit = { got = args }
         |}
         |""".stripMargin
    val compiled = DynamicCompiler.compile(src)
    DynamicCompiler.runProgram(compiled.loadObject("ProgA"), spark, Map.empty)
    val got = spark.read.parquet(out1.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == golden)
    DynamicCompiler.runProgram(compiled.loadObject("ProgB"), spark, Map.empty)
    val progC = compiled.loadObject("ProgC")
    DynamicCompiler.runProgram(progC, spark, Map("input.path" -> "/x", "k" -> "v"))
    val args = progC.getClass.getMethod("got").invoke(progC).asInstanceOf[Array[String]]
    assert(args.toSeq == Seq("--input.path=/x", "--k=v"))
  }

  test("dependency jar on compile classpath (testScalaProgramDependency)") {
    val helper = DynamicCompiler.compile(
      "object SparkConstants { val COLLECTION: Array[Int] = Array(1, 2, 3, 4, 5) }")
    val code =
      """def transform(df: DataFrame): DataFrame =
        |  df.limit(SparkConstants.COLLECTION.length)
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("dep")
    val compiled = DynamicCompiler.compile(
      DynamicCompiler.wrap(objName, code), extraClasspath = Seq(helper.jar))
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    val out = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(out.count() == 5)
  }

  test("MLlib side-artifact flow: one program trains+saves a model, another loads+applies it (PySparkProgram-sparkprogram.md:48)") {
    // The reference docs' model save/load use case: user code persists
    // an ML model as a side artifact during one pipeline run and a
    // later run reloads it. Same shape here via the dynamic Scala
    // stage — MLlib resolves from the session classpath like any other
    // Spark API inside user code.
    val modelDir = Files.createTempDirectory("graft-mllib").resolve("model").toString
    val train =
      s"""def sink(df: DataFrame, ctx: GraftContext): Unit = {
         |  import org.apache.spark.ml.feature.StringIndexer
         |  val m = new StringIndexer().setInputCol("word").setOutputCol("idx")
         |    .setStringOrderType("frequencyDesc")
         |    .fit(df.select(explode(split(col("body"), "\\\\s+")).as("word")))
         |  m.write.overwrite().save("$modelDir")
         |}
         |""".stripMargin
    val trainObj = DynamicCompiler.classNameFor("mltrain")
    val trainFn = DynamicCompiler.resolveFunction(
      DynamicCompiler.compile(DynamicCompiler.wrap(trainObj, train)).loadObject(trainObj),
      "sink", isVoid = true)
    trainFn.invoke(lines, GraftContext(spark, Map.empty))

    val apply =
      s"""def transform(df: DataFrame): DataFrame = {
         |  import org.apache.spark.ml.feature.StringIndexerModel
         |  StringIndexerModel.load("$modelDir")
         |    .transform(df.select(explode(split(col("body"), "\\\\s+")).as("word")))
         |}
         |""".stripMargin
    val applyObj = DynamicCompiler.classNameFor("mlapply")
    val applyFn = DynamicCompiler.resolveFunction(
      DynamicCompiler.compile(DynamicCompiler.wrap(applyObj, apply)).loadObject(applyObj),
      "transform", isVoid = false)
    val out = applyFn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val got = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // frequencyDesc: "Line" (10 occurrences) must index to 0.0; the
    // ten digit words fill 1.0..10.0
    assert(got("Line") == 0.0)
    assert(got.size == 11 && got.values.toSeq.sorted == (0 to 10).map(_.toDouble))
  }

  test("ctx.fromDataset/saveAsDataset idiom parity (ScalaSparkTest.java:118-128)") {
    // reference-widget-style body: address named datasets through the
    // context, produce one, read it back — runs unchanged here.
    lines.createOrReplaceTempView("dyn_lines")
    val code =
      """def transform(df: DataFrame, ctx: GraftContext): DataFrame = {
        |  val counts = ctx.fromDataset("dyn_lines")
        |    .select(explode(split(col("body"), "\\s+")).as("word"))
        |    .groupBy("word").count()
        |  ctx.saveAsDataset(counts, "counts")
        |  ctx.fromDataset("counts")
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("ctxds")
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    val out = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == golden)
    // the published view is visible to downstream stages too
    assert(spark.table("counts").count() == 11)
  }

  test("remote-URI dependency jars: file:// fetch + remote wildcard (SparkCompilers.java:176-187)") {
    // build a real dependency jar, then reference it ONLY through a
    // scheme-qualified URI — expandDependencies must fetch it to a
    // local temp path that compiles.
    val helper = DynamicCompiler.compile(
      "object RemoteDepConstants { val LIMIT: Int = 4 }")
    val uri = helper.jar.toUri.toString // file:///tmp/...jar
    assert(uri.startsWith("file:"))
    val fetched = DynamicCompiler.expandDependencies(uri)
    assert(fetched.size == 1 && java.nio.file.Files.exists(fetched.head))
    assert(fetched.head != helper.jar, "URI deps must be copied, not aliased")

    val code =
      """def transform(df: DataFrame): DataFrame =
        |  df.limit(RemoteDepConstants.LIMIT)
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("remotedep")
    val compiled = DynamicCompiler.compile(
      DynamicCompiler.wrap(objName, code), extraClasspath = fetched)
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    val out = fn.invoke(lines, GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(out.count() == 4)

    // remote wildcard: file://<dir>/* lists jars through Hadoop FS
    val viaWildcard = DynamicCompiler.expandDependencies(
      helper.jar.getParent.toUri.toString.stripSuffix("/") + "/*")
    assert(viaWildcard.exists(_.getFileName == helper.jar.getFileName))
    // local (schemeless) paths keep their no-copy behavior
    val local = DynamicCompiler.expandDependencies(helper.jar.toString)
    assert(local == Seq(helper.jar))
  }

  test("scalaSink stage through Pipeline: the deploy check rejects a non-Unit sink, run writes its rows") {
    import graft.pipeline.{Connection, Pipeline, PipelineSpec, StageSpec}
    val dir = Files.createTempDirectory("graft-pipe-sink").resolve("out")
    def spec(body: String) = PipelineSpec(Seq(
      StageSpec("src", "range", Map("end" -> "6")),
      StageSpec("snk", "scalaSink", Map("scalaCode" -> body))),
      Seq(Connection("src", "snk")))
    val bad = spec("def sink(df: DataFrame): DataFrame = df")
    val errs = new Pipeline(bad).validate()
    assert(errs.exists(e => e.startsWith("stage 'snk'") && e.contains("must return Unit")),
      errs.mkString("; "))
    val e = intercept[IllegalStateException](new Pipeline(bad).run(spark))
    assert(e.getMessage.contains("must return Unit"))
    val good = spec(
      s"""def sink(df: DataFrame, ctx: GraftContext): Unit =
         |  df.write.parquet("$dir")
         |""".stripMargin)
    assert(new Pipeline(good).validate().isEmpty)
    new Pipeline(good).run(spark)
    assert(spark.read.parquet(dir.toString).count() == 6)
  }

  test("scalaProgram stage compiles against its dependencies jar and is deploy-checked") {
    import graft.pipeline.{Pipeline, PipelineSpec, StageSpec}
    val helper = DynamicCompiler.compile("object ProgDepConst { val N = 6 }")
    val out = Files.createTempDirectory("graft-prog-dep").resolve("out")
    val code =
      s"""import graft.dynamic.{GraftContext, GraftMain}
         |object ProgDep extends GraftMain {
         |  def run(ctx: GraftContext): Unit =
         |    ctx.spark.range(ProgDepConst.N).toDF("i").write.parquet("$out")
         |}
         |""".stripMargin
    def spec(mainClass: String) = PipelineSpec(Seq(StageSpec("p", "scalaProgram", Map(
      "mainClass" -> mainClass, "scalaCode" -> code,
      "dependencies" -> helper.jar.toString))), Nil)
    assert(new Pipeline(spec("ProgDep")).validate().isEmpty)
    new Pipeline(spec("ProgDep")).run(spark)
    assert(spark.read.parquet(out.toString).count() == 6)
    val errs = new Pipeline(spec("NoSuchProg")).validate()
    assert(errs.exists(_.contains("'NoSuchProg' not found")), errs.mkString("; "))
    val noMain = spec("ProgDep").stages.map(st => st.copy(properties = st.properties - "mainClass"))
    val missing = new Pipeline(PipelineSpec(noMain, Nil)).validate()
    assert(missing.exists(_.contains("missing required property")), missing.mkString("; "))
  }

  test("file:// dependency: fetched and compiled once per process, a repeat run ships nothing new") {
    import graft.pipeline.{Connection, MemorySink, Pipeline, PipelineSpec, StageSpec}
    val helper = DynamicCompiler.compile("object FileDepConst { val N = 3 }")
    val uri = helper.jar.toUri.toString
    val spec = PipelineSpec(Seq(
      StageSpec("src", "range", Map("end" -> "10")),
      StageSpec("c", "scalaCompute", Map(
        "scalaCode" -> "def transform(df: DataFrame): DataFrame = df.limit(FileDepConst.N)",
        "dependencies" -> uri)),
      StageSpec("out", "memorySink", Map("key" -> "filedep"))),
      Seq(Connection("src", "c"), Connection("c", "out")))
    def newJars(body: => Unit): Set[String] = {
      val before = spark.sparkContext.listJars().toSet
      body
      spark.sparkContext.listJars().toSet -- before
    }
    val first = newJars(new Pipeline(spec).run(spark))
    assert(MemorySink.results("filedep").size == 3)
    val compiledJars = first.map(_.split('/').last) - helper.jar.getFileName.toString
    assert(compiledJars.size <= 1, first.mkString(", "))
    val second = newJars {
      assert(new Pipeline(spec).validate().isEmpty)
      new Pipeline(spec).run(spark)
    }
    assert(second.isEmpty, second.mkString(", "))
    // an unchanged jar keeps its local copy; a rewritten one is fetched again
    val local = DynamicCompiler.expandDependencies(uri)
    assert(DynamicCompiler.expandDependencies(uri) == local)
    assert(helper.jar.toFile.setLastModified(helper.jar.toFile.lastModified() + 60000))
    val refetched = DynamicCompiler.expandDependencies(uri)
    assert(refetched != local && Files.exists(refetched.head))
  }

  test("scalaCode: an escaped \\${ is a literal ${, so a Scala interpolation deploy-checks and runs") {
    import graft.pipeline.{Connection, MemorySink, Pipeline, PipelineSpec, StageSpec}
    def spec(body: String) = PipelineSpec(Seq(
      StageSpec("src", "range", Map("end" -> "2")),
      StageSpec("c", "scalaCompute", Map("scalaCode" -> body)),
      StageSpec("out", "memorySink", Map("key" -> "escape"))),
      Seq(Connection("src", "c"), Connection("c", "out")))
    // `\${n}` is Scala interpolation; `${suffix}` stays a pipeline macro
    val good = spec("""def transform(df: DataFrame): DataFrame = {
                      |  val n = 7
                      |  df.select(lit(s"v\${n}-${suffix}").as("tag"))
                      |}""".stripMargin)
    val args = Map("suffix" -> "x")
    assert(new Pipeline(good).validate(args).isEmpty)
    // the deploy check compiles the interpolating body: an undefined
    // name in it is reported before run
    val bad = spec("""def transform(df: DataFrame): DataFrame =
                     |  df.select(lit(s"v\${undefinedName}").as("tag"))""".stripMargin)
    val errs = new Pipeline(bad).validate(args)
    assert(errs.exists(_.contains("undefinedName")), errs.mkString("; "))
    // so does run's own check: strict resolution leaves `${n}`, no macro
    val typeError = spec(
      """def transform(df: DataFrame): DataFrame = { val n = 7; df.select(lit(s"v\${n}")).count }""")
    val e = intercept[IllegalStateException](new Pipeline(typeError).run(spark))
    assert(e.getMessage.startsWith("pipeline validation failed") &&
      e.getMessage.contains("type mismatch"), e.getMessage)
    // an unresolved macro still defers the deploy check
    assert(new Pipeline(good).validate().isEmpty)
    new Pipeline(good).run(spark, args)
    assert(MemorySink.results("escape").map(_.getString(0)) == Seq("v7-x", "v7-x"))
  }

  test("closure serialization incl. nested arrays (testScalaSparkProgramClosure)") {
    val src =
      s"""import org.apache.spark.sql._
         |import graft.dynamic.{GraftContext, GraftMain}
         |object Closure extends GraftMain {
         |  val factor = 2
         |  def run(ctx: GraftContext): Unit = {
         |    import ctx.spark.implicits._
         |    val n = ctx.spark.sparkContext
         |      .parallelize(Seq(("a", Array(1, 2)), ("a", Array(3, 4))))
         |      .mapValues(arr => arr.map(x => x * x * factor))
         |      .values.map(_.sum).sum()
         |    require(n == (1 + 4 + 9 + 16) * 2, s"got " + n)
         |  }
         |}
         |""".stripMargin
    val compiled = DynamicCompiler.compile(src)
    compiled.shipTo(spark)
    DynamicCompiler.runProgram(compiled.loadObject("Closure"), spark, Map.empty)
  }

  test("signature validation matrix (ScalaSparkCodeExecutor.java:267-335)") {
    val objName = DynamicCompiler.classNameFor("badsig")
    def resolve(code: String, method: String = "transform", isVoid: Boolean = false) = {
      val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
      DynamicCompiler.resolveFunction(compiled.loadObject(objName), method, isVoid)
    }
    // missing method
    val e1 = intercept[IllegalArgumentException](resolve("def other(df: DataFrame): DataFrame = df"))
    assert(e1.getMessage.contains("not found"))
    // wrong parameter types
    val e2 = intercept[IllegalArgumentException](resolve("def transform(x: Int): DataFrame = null"))
    assert(e2.getMessage.contains("must take (DataFrame)"))
    // wrong return type for compute
    val e3 = intercept[IllegalArgumentException](resolve("def transform(df: DataFrame): Long = 1L"))
    assert(e3.getMessage.contains("must return DataFrame"))
    // sink must return Unit
    val e4 = intercept[IllegalArgumentException](
      resolve("def sink(df: DataFrame): DataFrame = df", "sink", isVoid = true))
    assert(e4.getMessage.contains("must return Unit"))
    // compile error surfaces line-numbered messages
    val e5 = intercept[DynamicCompiler.CompileException](resolve("def transform(df: DataFrame = df"))
    assert(e5.errors.nonEmpty)
  }

  test("concurrent compiles: 4 distinct transforms compiled+run in parallel stay isolated") {
    // The reference serves many concurrently-deployed pipelines from
    // one JVM, so runtime compilation must be safe under concurrency:
    // compiles share a warm scala.tools.nsc Global under one lock
    // (a Global is not thread-safe), each into its own output dir,
    // and SHA-suffixed object names keep the classloaders from
    // colliding. 4 different multipliers compiled and invoked at once
    // must each see their own code.
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map { k =>
        Future {
          val code =
            s"""def transform(df: DataFrame): DataFrame =
               |  df.select((col("v") * $k).as("v"))
               |""".stripMargin
          val objName = DynamicCompiler.classNameFor(s"conc$k")
          val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
          val fn = DynamicCompiler.resolveFunction(
            compiled.loadObject(objName), "transform", isVoid = false)
          import spark.implicits._
          val out = fn.invoke(Seq(10L).toDF("v"), GraftContext(spark, Map.empty))
            .asInstanceOf[org.apache.spark.sql.DataFrame]
          (k, out.collect().head.getLong(0))
        }
      }
      val got = Await.result(Future.sequence(futures), 5.minutes)
      assert(got.toMap == Map(1 -> 10L, 2 -> 20L, 3 -> 30L, 4 -> 40L))
    } finally pool.shutdownNow()
  }

  /** Errors of `source` from a scalac `Global` built for it alone,
    * worded as `CompileException` words them.
    */
  private def freshErrors(source: String): Seq[String] = {
    import scala.tools.nsc.{Global, Settings}
    import scala.tools.nsc.reporters.StoreReporter
    val settings = new Settings()
    settings.usejavacp.value = true
    settings.classpath.value = System.getProperty("java.class.path", "")
    settings.outputDirs.setSingleOutput(Files.createTempDirectory("graft-fresh").toString)
    val reporter = new StoreReporter(settings)
    val global = new Global(settings, reporter)
    new global.Run().compileSources(List(
      new scala.reflect.internal.util.BatchSourceFile("<graft-dynamic>", source)))
    reporter.infos.filter(_.severity == reporter.ERROR)
      .map(i => (if (i.pos.isDefined) s"line ${i.pos.line}: " else "") + i.msg).toSeq
  }

  test("warm compiler: one Global compiles distinct sources, fails like a fresh one, then rebuilds") {
    def body(i: Int) = s"def transform(df: DataFrame): DataFrame = df.limit($i)"
    val names = (1 to 5).map(i => DynamicCompiler.classNameFor(s"warm$i", body(i)))
    val ctx = GraftContext(spark, Map.empty)
    def runs(name: String, i: Int): Long = DynamicCompiler.resolveFunction(
      DynamicCompiler.compile(DynamicCompiler.wrap(name, body(i))).loadObject(name),
      "transform", isVoid = false).invoke(lines, ctx)
      .asInstanceOf[org.apache.spark.sql.DataFrame].count()
    val built0 = DynamicCompiler.compilersBuilt.get
    names.zipWithIndex.foreach { case (n, i) => assert(runs(n, i + 1) == i + 1) }
    assert(DynamicCompiler.compilersBuilt.get - built0 <= 1, "the five compiles shared one Global")
    // a type error, and an object an earlier run of this Global
    // defined: a fresh compiler knows neither
    val bad = DynamicCompiler.wrap(DynamicCompiler.classNameFor("warmbad"),
      s"""def transform(df: DataFrame): DataFrame = {
         |  val n: Int = "five"
         |  df.limit(${names.head}.hashCode)
         |}""".stripMargin)
    val e = intercept[DynamicCompiler.CompileException](DynamicCompiler.compile(bad))
    val fresh = freshErrors(bad)
    assert(e.errors == fresh)
    assert(fresh.exists(_.startsWith("line 11: type mismatch")), fresh.mkString("; "))
    assert(fresh.exists(m => m.startsWith("line 12:") && m.contains(s"not found: value ${names.head}")),
      fresh.mkString("; "))
    val built1 = DynamicCompiler.compilersBuilt.get
    assert(runs(DynamicCompiler.classNameFor("warm6", body(6)), 6) == 6)
    assert(DynamicCompiler.compilersBuilt.get == built1 + 1, "a failed compile drops its Global")
  }

  test("scalaProgram recompiled under the same object name with edited code runs the new code") {
    import graft.pipeline.{Pipeline, PipelineSpec, StageSpec}
    def run(n: Int): Long = {
      val code =
        s"""import graft.dynamic.{GraftContext, GraftMain}
           |object ProgEdit extends GraftMain {
           |  def run(ctx: GraftContext): Unit =
           |    ctx.saveAsDataset(ctx.spark.range($n).toDF("i"), "prog_edit")
           |}
           |""".stripMargin
      new Pipeline(PipelineSpec(Seq(StageSpec("p", "scalaProgram",
        Map("mainClass" -> "ProgEdit", "scalaCode" -> code))), Nil)).run(spark)
      spark.table("prog_edit").count()
    }
    assert(run(4) == 4)
    assert(run(7) == 7)
    assert(run(4) == 4)
  }

  test("a session with isolated artifacts fails at shipTo, naming the conf") {
    val iso = spark.newSession()
    iso.conf.set(GraftSession.ArtifactIsolationKey, "true")
    val objName = DynamicCompiler.classNameFor("isolated")
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName,
      "def transform(df: DataFrame): DataFrame = df"))
    val jars = spark.sparkContext.listJars().toSet
    val e = intercept[IllegalArgumentException](compiled.shipTo(iso))
    assert(e.getMessage.contains(s"${GraftSession.ArtifactIsolationKey}=false"), e.getMessage)
    assert(spark.sparkContext.listJars().toSet == jars, "nothing shipped")
  }

  test("a shipped jar survives a stream gate on the same session: later jobs fetch nothing stale") {
    // A stream runs on a clone of its session. With session-isolated
    // artifacts the clone would register every session jar again
    // under its own path, and a later job could fail fetching one
    // once the clone is cleaned up; addJar jars are not cloned.
    val code =
      """def transform(df: DataFrame, ctx: GraftContext): DataFrame = {
        |  import ctx.spark.implicits._
        |  df.as[Long].map(x => x * 5L + 1L).toDF("v")
        |}
        |""".stripMargin
    val objName = DynamicCompiler.classNameFor("streamship", code)
    val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
    compiled.shipTo(spark)
    val fn = DynamicCompiler.resolveFunction(compiled.loadObject(objName), "transform", isVoid = false)
    def typed(): Seq[Long] = fn.invoke(spark.range(8).toDF("x"), GraftContext(spark, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect().map(_.getLong(0)).toSeq.sorted
    assert(typed() == (0L until 8L).map(_ * 5L + 1L))
    val jars = spark.sparkContext.listJars().toSet
    assert(SparkEntry.queries("stream_dedup")(spark, sfDir).count() > 0)
    assert(spark.sparkContext.listJars().toSet == jars, "the stream registered jars")
    assert(typed() == (0L until 8L).map(_ * 5L + 1L))
    assert(SparkEntry.queries("span_corruption")(spark, sfDir).count() > 0)
  }
}
