package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.{Connection, MemorySink, Pipeline, PipelineSpec, StageSpec}
import graft.streaming.StreamStages

/** Spark keeps compiled generated classes in one JVM-wide cache whose
  * size the first code-generating session fixes. The engine sizes it in
  * `GraftSession.builder`; at Spark's default of 100 entries a query
  * whose plans need about as many classes compiles most of them again
  * on every run. The cache is keyed by the context classloader too, so
  * a session whose jars change its classloader compiles again as well.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles started while `body` runs, JVM-wide. */
  private def compiles(body: => Unit): Long = Metrics.measure(spark)(body)._2.compiles

  test("the suites' session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a repeated heavy query compiles almost none of its classes again") {
    // On sf0.001 a cold run of this query compiles about 100 classes.
    // Its second run compiles none at the engine's cache size and 50-70
    // at Spark's default, so the bound below separates the two. Stage
    // ids stay out of the class names while it runs: AQE numbers
    // whole-stage codegen stages in the order it plans them, which
    // timing changes, and a renumbered stage is new code to the cache.
    val q = SparkEntry.queries("dedup_keep_representatives")
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    val (first, second) =
      try (compiles(q(spark, sfDir).collect()), compiles(q(spark, sfDir).collect()))
      finally spark.conf.unset("spark.sql.codegen.useIdInClassName")
    assert(second <= 10, s"second run compiled $second classes (first run: $first)")
  }

  test("a shipped dynamic jar leaves batch codegen cached and streams add no jars") {
    // Each run ships a jar never seen before (the nonce makes the code
    // new). Session-isolated artifacts would give the session a new
    // classloader per jar, so the query below would compile again, and
    // the stream's session clone would register the jar again.
    val nonce = System.nanoTime()
    val spec = PipelineSpec(Seq(
      StageSpec("src", "range", Map("end" -> "20")),
      StageSpec("c", "scalaCompute", Map("scalaCode" ->
        s"""def transform(df: DataFrame): DataFrame = {
           |  val tag = udf((i: Long) => i * 0 + ${nonce}L)
           |  df.withColumn("tag", tag(col("id")))
           |}""".stripMargin)),
      StageSpec("out", "memorySink", Map("key" -> "codegen_ship"))),
      Seq(Connection("src", "c"), Connection("c", "out")))
    def query(): Unit = spark.range(0, 1000, 1, 4)
      .filter(col("id") % 7 === 3).select((col("id") * 3).as("v")).collect()
    query()
    val jars0 = spark.sparkContext.listJars().toSet
    new Pipeline(spec).run(spark)
    assert(MemorySink.results("codegen_ship").map(_.getLong(1)).toSet == Set(nonce))
    val shipped = spark.sparkContext.listJars().toSet -- jars0
    val again = compiles(query())
    assert(again == 0, s"the repeated query compiled $again classes after a jar was shipped")

    val dir = Files.createTempDirectory("graft-codegen-stream")
    spark.range(10).write.mode("overwrite").parquet(dir.toString)
    val jars1 = spark.sparkContext.listJars().toSet
    val src = StreamStages.fileSource(spark, "parquet", dir.toString,
      spark.read.parquet(dir.toString).schema.json)
    StreamStages.runToMemory(src, "codegen_ship_stream")
    assert(spark.table("codegen_ship_stream").count() == 10)
    val streamed = spark.sparkContext.listJars().toSet -- jars1
    assert(streamed.isEmpty, streamed.mkString(", "))
    assert(shipped.size == 1, s"one jar per ship, got: ${shipped.mkString(", ")}")
  }
}
