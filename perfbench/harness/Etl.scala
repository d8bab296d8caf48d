package perfbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.pipeline.Pipeline

/** `etl_pipeline`: a closed loop, one client, of JSON pipeline requests
  * over the sf0.01 tables. Requests come in blocks of five, in a fixed
  * order: one run request of each batch template, one deploy and one
  * streaming increment; the seed draws their literals and pool picks. A run request is parsed, validated and
  * run, including its parquet sink write. A deploy is a `scalaCompute`
  * body never seen before, validated (a cold scalac run) and run once.
  * The streaming requests are [[Streams]]; a traced run ends with a
  * catch-up.
  */
final class Etl(tables: Path, out: Path, streams: Streams) extends Workload {
  import Etl._

  private var deploys = 0
  /** Index of the next request of the schedule. */
  private var next = 0
  /** Records the untimed warm-up block, which the report leaves out. */
  private val quiet = new Rec(false)
  private val requests = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Validates (so compiles) the deployed `scalaCompute` pool, starts
    * the stream, then runs `WarmBlocks` blocks of requests untimed. The
    * JVM goes on warming for minutes: after one request of each kind, the
    * next block used up to twice the CPU time of later ones, and after one
    * untimed block the first timed block still used 20–50 % more.
    */
  def warmUp(spark: SparkSession, rec: Rec, seed: Long): Unit = {
    Pool.indices.foreach { p =>
      val r = request(seed, -1 - p, Some("dynamic_window"), Some(p), out.resolve(s"warm-pool-$p"))
      val errs = Pipeline.fromJson(r.json).validate()
      require(errs.isEmpty, s"warm-up request invalid: ${errs.mkString("; ")}")
    }
    streams.warmUp(spark)
    (0 until WarmBlocks * Block.length).foreach(_ => step(spark, quiet, seed))
  }

  /** Whole blocks of requests: the first, then more while the next one is
    * expected to end before the deadline, so every op class gets the same
    * number of samples. A traced run then adds one catch-up.
    */
  def measure(spark: SparkSession, rec: Rec, seed: Long, deadlineNs: Long): Unit = {
    var blockNs = 0L
    while (streams.left > Streams.CatchupSegments &&
        (blockNs == 0 || System.nanoTime() + blockNs < deadlineNs)) {
      val b0 = System.nanoTime()
      Block.foreach(_ => step(spark, rec, seed))
      blockNs = System.nanoTime() - b0
    }
    if (rec.trace) stream(spark, rec, s"s$next", "catchup", Streams.CatchupSegments)
  }

  private def step(spark: SparkSession, rec: Rec, seed: Long): Unit = {
    if (kindOf(next) == "stream") stream(spark, rec, s"s$next", "increment", 1)
    else batch(spark, rec, seed, next)
    next += 1
  }

  private def batch(spark: SparkSession, rec: Rec, seed: Long, i: Int): Unit = {
    val r = request(seed, i, None, None, out.resolve(f"req-$i%05d"))
    val id = s"r$i"
    val jars0 = if (rec.trace) spark.sparkContext.listJars().size else 0
    val c0 = Clock.appCpuUs
    val t0 = System.nanoTime()
    val err = attempt {
      rec.withReq(spark, id) {
        rec.span(s"etl.${r.kind}") {
          val pipe = rec.span("pipeline.parse")(Pipeline.fromJson(r.json))
          val errs = rec.span(if (r.kind == "deploy") "dynamic.deploy_validate" else "pipeline.validate")(
            pipe.validate())
          if (errs.nonEmpty) throw new IllegalStateException(s"validation: ${errs.mkString("; ")}")
          rec.span("pipeline.run")(pipe.run(spark))
        }
      }
    }
    val t1 = System.nanoTime()
    val c1 = Clock.appCpuUs
    val jars1 = if (rec.trace) spark.sparkContext.listJars().size else 0
    val kind = if (r.kind == "deploy") "deploy" else "run"
    rec.op(kind, id, Clock.us(t0), Clock.us(t1), err.isEmpty, "template" -> r.kind,
      "error" -> err, "new_jars" -> (jars1 - jars0), "cpu_us" -> (c1 - c0))
    if (rec ne quiet) requests += r.meta + ("req" -> id) + ("ok" -> err.isEmpty)
  }

  private def stream(spark: SparkSession, rec: Rec, id: String, kind: String, n: Int): Unit = {
    val (names, events, json) = streams.publish(id, n)
    val c0 = Clock.appCpuUs
    val t0 = System.nanoTime()
    val err = attempt {
      rec.withReq(spark, id) {
        rec.span(s"stream.$kind") {
          val pipe = rec.span("pipeline.parse")(Pipeline.fromJson(json))
          rec.span("pipeline.run")(pipe.run(spark))
        }
      }
    }
    val t1 = System.nanoTime()
    val c1 = Clock.appCpuUs
    rec.op(kind, id, Clock.us(t0), Clock.us(t1), err.isEmpty, "segments" -> names,
      "events" -> events, "error" -> err, "cpu_us" -> (c1 - c0))
  }

  private def attempt(body: => Any): String =
    try { body; "" }
    catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }

  def finish(spark: SparkSession, rec: Rec): Unit = {
    rec.info("etl_requests") = requests.toSeq
    rec.info("session_jars") = spark.sparkContext.listJars().size
    rec.info("stream") = streams.info
  }

  /** Kind of request i: blocks of `Block`, always in the same order, so
    * every run warms the JVM along the same path.
    */
  private def kindOf(i: Int): String = Block(i % Block.length)

  /** Request i of the seed's schedule; negative i are warm-up requests. */
  private def request(seed: Long, i: Int, forceTemplate: Option[String],
      forcePool: Option[Int], sink: Path): Req = {
    def draw(slot: Long, m: Long): Long = Gen.mod(Gen.h(seed, 31, i.toLong, slot), m)
    val kind = forceTemplate.getOrElse(kindOf(i))
    val path = sink.toString
    kind match {
      case "join_agg" =>
        val q = 10 + draw(1, 36)
        val d = f"0.0${draw(2, 7)}"
        Req(kind, joinAgg(tables, q, d, path), Map("q" -> q, "d" -> d))
      case "agg_window" =>
        val d0 = Gen.mod(Gen.h(seed, 31, i.toLong, 3), 2000)
        val from = java.time.LocalDate.of(1992, 1, 1).plusDays(d0)
        Req(kind, aggWindow(tables, from.toString, from.plusDays(365).toString, path),
          Map("from" -> from.toString, "to" -> from.plusDays(365).toString))
      case _ =>
        val st = IndexedSeq("O", "F", "P")(draw(4, 3).toInt)
        val p = 50000 + draw(5, 250000)
        val k = 3 + draw(6, 18)
        val (w, salt) =
          if (kind == "deploy") {
            deploys += 1
            (1000 + Gen.mod(Gen.h(seed, 33, deploys.toLong, 0), 9000), seed * 100000L + deploys)
          } else (Pool(forcePool.getOrElse(draw(7, Pool.length).toInt)), 0L)
        Req(kind, dynamicWindow(tables, st, p, k, code(w, salt), path),
          Map("status" -> st, "price" -> p, "k" -> k, "width" -> w, "salt" -> salt))
    }
  }
}

object Etl {
  val Block = IndexedSeq("join_agg", "dynamic_window", "agg_window", "deploy", "stream")
  val WarmBlocks = 2
  /** Band widths of the already-deployed `scalaCompute` pool. */
  val Pool = IndexedSeq(2500L, 10000L)

  final case class Req(kind: String, json: String, params: Map[String, Any]) {
    def meta: Map[String, Any] = Map("template" -> kind, "params" -> params)
  }

  def code(width: Long, salt: Long): String =
    s"""def transform(df: DataFrame): DataFrame =
       |  df.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
       |    expr("CAST(floor(o_totalprice / $width) AS BIGINT) + $salt").as("band"))
       |""".stripMargin

  private val BandSchema =
    """{"type":"struct","fields":[""" + Seq("o_orderkey" -> "long", "o_custkey" -> "long",
      "o_totalprice" -> "double", "band" -> "long").map { case (n, t) =>
      s"""{"name":"$n","type":"$t","nullable":true,"metadata":{}}""" }.mkString(",") + "]}"

  private def stage(name: String, tpe: String, props: (String, String)*): Map[String, Any] =
    Map("name" -> name, "type" -> tpe, "properties" -> props.toMap)
  private def spec(stages: Seq[Map[String, Any]], edges: (String, String)*): String =
    Json(Map("stages" -> stages, "connections" -> edges.map { case (f, t) => Map("from" -> f, "to" -> t) }))

  def joinAgg(t: Path, q: Long, d: String, sink: String): String = spec(Seq(
    stage("li", "parquet", "path" -> s"$t/lineitem.parquet"),
    stage("f", "filter", "condition" -> s"l_quantity < $q AND l_discount >= $d"),
    stage("o", "parquet", "path" -> s"$t/orders.parquet"),
    stage("j1", "join", "condition" -> "l.l_orderkey = r.o_orderkey"),
    stage("c", "parquet", "path" -> s"$t/customer.parquet"),
    stage("j2", "join", "condition" -> "l.o_custkey = r.c_custkey", "broadcast" -> "true"),
    stage("agg", "aggregate", "groupBy" -> "c_mktsegment, l_returnflag",
      "aggregates" -> "count(*) AS n, sum(l_quantity) AS qty, max(o_totalprice) AS maxp"),
    stage("out", "parquetSink", "path" -> sink)),
    "li" -> "f", "f" -> "j1", "o" -> "j1", "j1" -> "j2", "c" -> "j2", "j2" -> "agg", "agg" -> "out")

  def dynamicWindow(t: Path, status: String, price: Long, k: Long, scala: String,
      sink: String): String = spec(Seq(
    stage("o", "parquet", "path" -> s"$t/orders.parquet"),
    stage("f", "filter", "condition" -> s"o_orderstatus = '$status' AND o_totalprice > $price"),
    stage("sc", "scalaCompute", "scalaCode" -> scala, "outputSchema" -> BandSchema),
    stage("w", "sql", "sql" -> ("SELECT *, row_number() OVER (PARTITION BY band " +
      "ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM sc")),
    stage("top", "filter", "condition" -> s"rk <= $k"),
    stage("out", "parquetSink", "path" -> sink)),
    "o" -> "f", "f" -> "sc", "sc" -> "w", "w" -> "top", "top" -> "out")

  def aggWindow(t: Path, from: String, to: String, sink: String): String = spec(Seq(
    stage("li", "parquet", "path" -> s"$t/lineitem.parquet"),
    stage("f", "filter", "condition" -> s"l_shipdate >= DATE '$from' AND l_shipdate < DATE '$to'"),
    stage("agg", "aggregate", "groupBy" -> "l_suppkey",
      "aggregates" -> "count(*) AS n, sum(l_quantity) AS qty"),
    stage("w", "sql", "sql" -> "SELECT l_suppkey, n, qty, rank() OVER (ORDER BY qty DESC) AS rk FROM agg"),
    stage("out", "parquetSink", "path" -> sink)),
    "li" -> "f", "f" -> "agg", "agg" -> "w", "w" -> "out")
}
