package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [comma-separated query filter]
  * (the filter is a builder-side iteration aid; the driver passes 2 args)
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.start(GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
    spark.sparkContext.setLogLevel("WARN")
    val sessionConf = SessionConf.applyEnv(spark)
    new java.io.File(outDir).mkdirs()
    // Flakiness must be visible in the round artifact, not just stderr
    // (ADVICE r5): queries that needed the retry, and queries that
    // failed both attempts, are recorded in verify_meta.json next to
    // the results the driver hashes.
    val retried = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Per-query retry sidecar INSIDE the result dir (VERDICT r7 #4):
    // underscore-prefixed files are invisible to Spark/DuckDB parquet
    // globs, so the status rides along with exactly the rows it
    // annotates — flakiness is visible where the correctness artifact
    // is built, not only in a separate stderr/meta channel. Written
    // only for non-clean queries (absence = clean first attempt).
    def sidecar(name: String, status: String, e: Throwable): Unit =
      try {
        val dir = Paths.get(outDir, name)
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_verify_meta.json"),
          s"""{"query": ${jq(name)}, "status": ${jq(status)}, """ +
            s""""error": ${jq(String.valueOf(e.getMessage).take(500))}}""")
      } catch { case _: Throwable => () } // never fail the run over meta
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // one retry: a rare transient task failure must not zero a
        // whole round's row for a query that is deterministic and
        // green on re-run
        def attempt(): Unit = fn(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        try attempt()
        catch { case e1: Throwable =>
          System.err.println(s"[verify] $name failed (retrying): ${e1.getMessage}")
          retried += name
          try { attempt(); sidecar(name, "retried", e1) }
          catch { case e2: Throwable =>
            System.err.println(s"[verify] $name failed: ${e2.getMessage}")
            failed += name
            sidecar(name, "failed", e2)
          }
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // session_conf: a dump produced under a conf override must say so
    // in its meta (same self-description rule as Bench's session_conf)
    val meta = s"""{"retried": [${retried.map(jq).mkString(", ")}], """ +
      s""""failed": [${failed.map(jq).mkString(", ")}], """ +
      s""""session_conf": ${Jsons.conf(sessionConf)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    // Round-artifact copy (VERDICT r7 #4): the driver commits leftover
    // working-tree files at round end, so writing the meta into the
    // repo cwd makes retry status part of the committed record even
    // though the driver's outDir is a temp dir. Best-effort: a
    // read-only cwd must not fail the correctness dump.
    try {
      if (only.isEmpty && Files.isDirectory(Paths.get("src/main/scala/graft")))
        Files.writeString(Paths.get("VERIFY_META_LAST.json"), meta)
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
