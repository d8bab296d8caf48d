package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.bridge
import graft.functions.{PolyHash, VectorDot, WinnowKeys, WordShingles}

/** Session wiring for the engine.
  *
  * `GraftExtensions` is the cluster-grade path: register the engine's
  * native expressions as SQL functions via
  * `--conf spark.sql.extensions=graft.GraftExtensions` (the public
  * SparkSessionExtensions injection point), so `spark.sql("SELECT
  * poly_hash(text) ...")` works in any session of the cluster.
  *
  * `GraftSession.build` is the local/default path: engine-tuned conf
  * (AQE on, UTC, right-sized shuffle partitions, nanos-timestamp
  * acceptance, a codegen cache sized to the engine's working set) + the
  * same function registrations applied post-build. The harness mains
  * start from `GraftSession.builder` and add their own master and
  * partitioning.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftSession.sqlFunctions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(build.getClass.getName, name), build))
    }
}

object GraftSession {

  /** The engine's SQL functions, by name: the one table that both
    * `GraftExtensions` and `registerFunctions` register.
    */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def int(e: Expression): Int = e.eval().asInstanceOf[Int]
    Seq(
      "poly_hash" -> (exprs => PolyHash(exprs.head)),
      "vector_dot" -> (exprs => VectorDot(exprs(0), exprs(1))),
      "word_shingles" -> (exprs => WordShingles(exprs(0), int(exprs(1)))),
      "winnow_keys" -> (exprs => WinnowKeys(exprs(0), int(exprs(1)), int(exprs(2)))))
  }

  /** Register the engine's SQL functions on an existing session (for
    * sessions not built with `spark.sql.extensions`).
    */
  def registerFunctions(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, build) => bridge.registerFunction(spark, name, build) }

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The engine's
    * working set is far larger: one cold round of the 204 non-const
    * `SparkEntry.queries` at sf0.01 compiled 3,092 distinct classes with
    * an unbounded cache, and `dedup_keep_representatives` alone needs
    * more than 100, so at the default every repeated query compiles its
    * plans again. A static conf: the first session that generates code
    * fixes the size for the whole JVM.
    */
  val CodegenCacheEntries: Int = 4096

  /** Spark's session-isolated artifacts, off. Dynamic stages ship their
    * jars through `sparkContext.addJar` alone (`Compiled.shipTo`), which
    * every task sees when no session carries artifact state. With
    * isolation on, each session jar gives SQL work a new classloader,
    * and Spark's codegen cache, keyed by (context classloader, code),
    * compiles byte-identical classes again; a stream's session clone
    * also re-registers the jars under its own path. A session built
    * without this conf fails at `shipTo`.
    */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** The conf every graft session carries, whatever its master and
    * partitioning: the codegen cache size, no artifact isolation, UTC,
    * no UI. Callers add their own master and shuffle settings, then
    * `start` it.
    */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config(ArtifactIsolationKey, "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** Gets or creates the session and registers the engine's SQL functions. */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    registerFunctions(spark)
    spark
  }

  /** Engine-tuned local session. `cores` should match the box in
    * local mode; shuffle partitions follow it (not the 200 default —
    * SURVEY.md perf rules).
    */
  def build(master: String, cores: Int, appName: String = "graft"): SparkSession =
    start(builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 4).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
}
