package graft

import org.apache.spark.sql.SparkSession

/** Env-var channel for runtime session conf in the harness mains:
  * `SPARK_GRAFT_SESSION_CONF="k=v;k2=v2"` — build.sbt forwards env
  * (not -D) to forked JVMs, so A/B'ing a conf-gated path (e.g.
  * `graft.triangle.sortMerge=true`) through Verify/Bench/Curves
  * needs no per-main plumbing.
  */
object SessionConf {
  /** The session shuffle width as an Int for explicit-width
    * repartitions (pinJoinWidth and the triangle pins), falling back
    * to `defaultParallelism` when `spark.sql.shuffle.partitions` is
    * non-numeric — some platforms set it to "auto" (ADVICE r16).
    */
  def shuffleWidth(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").trim.toInt)
      .toOption.filter(_ > 0)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Applies the env conf and returns what was set, so callers can
    * record it in their artifact (a conf-modified bench window must
    * say so in its JSON, or it silently contaminates the vs_prev
    * chain). Diagnostics go to stderr — stdout is the driver-parsed
    * single-JSON-line channel in these mains.
    */
  def applyEnv(spark: SparkSession): Map[String, String] =
    sys.env.get("SPARK_GRAFT_SESSION_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"bad SPARK_GRAFT_SESSION_CONF entry: '$kv'")
        val (k, v) = (kv.take(i).trim, kv.drop(i + 1).trim)
        spark.conf.set(k, v)
        System.err.println(s"[sessionconf] $k=$v")
        k -> v
      }.toMap
}
