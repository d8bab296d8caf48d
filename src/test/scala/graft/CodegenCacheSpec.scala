package graft

/** Spark keeps compiled generated classes in one JVM-wide cache whose
  * size the first code-generating session fixes. The engine sizes it in
  * `GraftSession.builder`; at Spark's default of 100 entries a query
  * whose plans need about as many classes compiles most of them again
  * on every run.
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
}
