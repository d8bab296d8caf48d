package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cluster-parity sweep (VERDICT r10 task 1): run the ENTIRE
  * `SparkEntry.queries` inventory twice in one JVM — once on
  * `local[…]` (the gate configuration every CORRECTNESS round runs
  * under) and once on `local-cluster[2,1,1024]` (two real separate
  * executor JVM processes) — and compare per-query result signatures.
  *
  * What this closes: ClusterDynamicSpec proves the four hand-picked
  * dynamic-code paths cross a process boundary, but the other 190+
  * gates' closures (mapPartitions decoders, typed lambdas, broadcast
  * dictionaries, the union-find fallback) had only ever executed on
  * local[*], where every closure deserializes trivially in the same
  * JVM. Here every gate's tasks MUST serialize to, and execute in,
  * executor JVMs that are not the driver — the same boundary a
  * 1000-executor cluster has (the reference's shipping mechanism
  * exists precisely for this, T/ScalaSparkTest.java:179-180).
  *
  * Signature = (row count, bit_xor of per-row xxhash64 over all
  * columns sorted by name, decimal sum of the same hashes, schema
  * DDL). Order-independent — sorted-output gates may legally emit a
  * different row order across masters; content must match. Hashing
  * rides to_json so every output type (arrays, structs, maps, binary)
  * hashes uniformly; both sides are the same Spark build, so JSON
  * rendering is bit-stable.
  *
  * Usage: ClusterVerify <sfDir> [outJson] [onlyCsv]
  * Writes one JSON artifact (default CLUSTER_VERIFY.json) with
  * per-query match/mismatch/error and a summary; exits 1 on any
  * mismatch or cluster-side failure.
  */
object ClusterVerify {

  final case class Sig(rows: Long, xor: Long, sum: String, schema: String)

  private[graft] def signature(df: DataFrame): Sig = {
    val cols = df.columns.sorted.map(c => col(c))
    val h = xxhash64(to_json(struct(cols: _*)))
    // sum in DECIMAL(38,0): BIGINT sum of 64-bit hashes overflows, and
    // this session is ANSI (Spark 4 default) so it would THROW, not
    // wrap
    val r = df.select(h.as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
        coalesce(sum(col("h").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))).as("s"))
      .head()
    Sig(r.getLong(0), r.getLong(1), String.valueOf(r.getDecimal(2)),
      df.schema.toDDL)
  }

  final case class Outcome(sig: Option[Sig], err: Option[String],
      retried: Boolean, secs: Double)

  private def sweep(spark: SparkSession, sfDir: String,
      names: Seq[String]): Map[String, Outcome] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      def attempt(): Sig = signature(fn(spark, sfDir))
      val t0 = System.nanoTime()
      val out =
        try Outcome(Some(attempt()), None, retried = false, 0)
        catch {
          case e1: Throwable =>
            System.err.println(s"[cluster-verify] $name failed (retrying): " +
              String.valueOf(e1.getMessage).take(300))
            try Outcome(Some(attempt()), None, retried = true, 0)
            catch {
              case e2: Throwable =>
                Outcome(None, Some(String.valueOf(e2.getMessage).take(500)),
                  retried = true, 0)
            }
        }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[cluster-verify] $name%-28s ${secs}%6.1fs " +
        out.sig.map(_ => "ok").getOrElse("FAIL"))
      name -> out.copy(secs = secs)
    }.toMap

  /** One session per phase; a stopped context is rebuilt by the next
    * builder (the ClusterDynamicSpec recipe). Shared with FaultVerify.
    */
  private[graft] def withSession[T](build: SparkSession.Builder => SparkSession.Builder)
      (body: SparkSession => T): T = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.start(build(GraftSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")))
    spark.sparkContext.setLogLevel("WARN")
    try body(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Common local-cluster session base, shared by ClusterVerify,
    * FaultVerify and SpillVerify so a launcher/classpath fix never has
    * to be patched in three places: the driver classpath is shipped to
    * the executor JVMs with every entry ABSOLUTIZED (executor JVMs
    * launch in their own work dir, so a relative entry — e.g.
    * target/scala-2.13/classes from a bare `java -cp` launch —
    * silently drops the library from the executor classpath: the
    * canonical SerializedLambda / DefaultSerializationProxy
    * ClassCastException on every task whose plan closes over a
    * library class), plus JDK-17 module opens and full-registration
    * barriers so the first gate doesn't race executor startup.
    */
  private[graft] def clusterBase(b: SparkSession.Builder,
      master: String): SparkSession.Builder = {
    val execCp = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparatorChar)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    b.master(master)
      .config("spark.executor.extraClassPath", execCp)
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
      .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "90s")
  }

  /** Gates that CANNOT run with executors in separate JVMs, with the
    * reason in writing (they still run in phase A). The first sweep is
    * itself the evidence for the one entry: the task failed with
    * "Table/View 'CUST_GATE' does not exist" ON THE EXECUTOR — proof
    * the JDBC scan executes executor-side, which is exactly why a
    * driver-JVM-private database cannot back it.
    */
  val clusterExcluded: Map[String, String] = Map(
    "source_jdbc_roundtrip" ->
      ("embedded in-memory Derby lives in the driver JVM only (no derbynet " +
        "jar in the distribution, and embedded Derby is single-booter by " +
        "design); executor processes cannot see it. On a real cluster the " +
        "JDBC URL targets a network database server reachable from every " +
        "executor — the operator is cluster-native, the test fixture is not."))

  // JSON rendering shared across all artifact writers (graft.Jsons)
  private def jq(s: String): String = Jsons.jq(s)
  private def num(d: Double, decimals: Int): String = Jsons.num(d, decimals)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "CLUSTER_VERIFY.json"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    val clusterMaster =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,1,1024]")

    ClusterEnv.ensureSparkHomeSkeleton()
    // A mistyped onlyCsv must fail loudly, not write an all-green
    // artifact over an empty (or silently narrowed) slice.
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[cluster-verify] unknown query name(s): " +
          unknown.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // Phase A — the gate configuration (local mode, shared-JVM
    // executors), the baseline every CORRECTNESS round certifies.
    System.err.println(s"[cluster-verify] phase A: local[8], ${names.size} queries")
    val local = withSession(_.master("local[8]")
      .appName("graft-cluster-verify-local")
      .config("spark.sql.shuffle.partitions", "8"))(sweep(_, sfDir, names))

    // Phase B — two real executor JVMs. The graft library rides the
    // executor classpath (= a cluster's app assembly / --jars);
    // runtime-compiled gate code still ships via addJar.
    System.err.println(s"[cluster-verify] phase B: $clusterMaster")
    val cluster = withSession(b => clusterBase(b, clusterMaster)
      .appName("graft-cluster-verify-cluster")
      .config("spark.sql.shuffle.partitions", "8"))(
      sweep(_, sfDir, names.filterNot(clusterExcluded.contains)))

    val compared = names.filterNot(clusterExcluded.contains)
    val rows = compared.map { n =>
      val l = local(n); val c = cluster(n)
      val matches = (l.sig, c.sig) match {
        case (Some(a), Some(b)) =>
          a.rows == b.rows && a.xor == b.xor && a.sum == b.sum &&
            a.schema == b.schema
        case _ => false
      }
      def sigJson(o: Outcome): String = o.sig match {
        case Some(s) =>
          s"""{"rows": ${s.rows}, "xor": ${s.xor}, "sum": ${jq(s.sum)}, """ +
            s""""secs": ${num(o.secs, 2)}, "retried": ${o.retried}}"""
        case None =>
          s"""{"err": ${jq(o.err.getOrElse("?"))}, """ +
            s""""secs": ${num(o.secs, 2)}, "retried": ${o.retried}}"""
      }
      (n, matches, l, c,
        s"${jq(n)}: {\"match\": $matches, \"local\": ${sigJson(l)}, " +
          s"\"cluster\": ${sigJson(c)}}")
    }
    val nMatch = rows.count(_._2)
    val mismatched = rows.filter(r => !r._2 && r._3.sig.isDefined &&
      r._4.sig.isDefined).map(_._1)
    val failedCluster = rows.filter(_._4.sig.isEmpty).map(_._1)
    val failedLocal = rows.filter(_._3.sig.isEmpty).map(_._1)

    val excludedJson = clusterExcluded
      .filter { case (n, _) => names.contains(n) }
      .map { case (n, why) => s"${jq(n)}: ${jq(why)}" }.mkString(", ")
    val json =
      s"""{"sf_dir": ${jq(sfDir)}, "cluster_master": ${jq(clusterMaster)},
         |"total": ${compared.size}, "match": $nMatch,
         |"excluded": {$excludedJson},
         |"mismatch": [${mismatched.map(jq).mkString(", ")}],
         |"failed_local": [${failedLocal.map(jq).mkString(", ")}],
         |"failed_cluster": [${failedCluster.map(jq).mkString(", ")}],
         |"local_secs": ${num(local.values.map(_.secs).sum, 1)},
         |"cluster_secs": ${num(cluster.values.map(_.secs).sum, 1)},
         |"queries": {
         |${rows.map(_._5).mkString(",\n")}
         |}}
         |""".stripMargin
    Files.writeString(Paths.get(outPath), json)
    System.err.println(s"[cluster-verify] $nMatch/${compared.size} match " +
      s"(${names.size - compared.size} excluded with reasons) — $outPath")
    if (nMatch != compared.size) sys.exit(1)
  }
}
