package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.dynamic.{DynamicCompiler, GraftContext}

/** Cluster-ship stress for the dynamic compiler (VERDICT r7 #5 /
  * SURVEY §7 risk 1): many dynamic jars in ONE session, typed-lambda
  * actions from all of them running CONCURRENTLY, one stage re-compiled
  * with edited code every round (the classNameFor digest path — each
  * edit ships a fresh jar because addJar is append-only).
  *
  * 10 rounds × 3 stages × concurrent collect()s ≈ 40 shipped-jar
  * actions per run, all through the one `sparkContext.addJar` channel.
  * The spec runs on a fresh `newSession()` (StreamingSpec's own-session
  * discipline), so its views and conf stay out of other suites.
  *
  * Outcome record (round 8): 10 in-spec rounds × repeated suite runs
  * never reproduced the one jar-fetch 404 seen in a full-suite run
  * while jars also shipped as session-isolated artifacts (a stream's
  * session clone re-registered them); that channel is gone. The
  * production guard (Verify's one retry + the per-query
  * _verify_meta.json sidecar) stays.
  */
class DynamicStressSpec extends SparkSpec {

  private def stageCode(mult: Int, offset: Int): String =
    s"""def transform(df: DataFrame, ctx: GraftContext): DataFrame = {
       |  import ctx.spark.implicits._
       |  // typed lambda: a user class that MUST reach executors via the
       |  // shipped jar (Column-only code would never exercise the race)
       |  df.as[Long].map(x => x * ${mult}L + ${offset}L).toDF("v")
       |}
       |""".stripMargin

  private def runStage(s: org.apache.spark.sql.SparkSession,
      compiled: DynamicCompiler.Compiled, objName: String,
      n: Long): Seq[Long] = {
    val fn = DynamicCompiler.resolveFunction(
      compiled.loadObject(objName), "transform", isVoid = false)
    val in = s.range(n).toDF("x")
    fn.invoke(in, GraftContext(s, Map.empty))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("3+ dynamic stages per round, one re-compiled, concurrent typed actions — 10 rounds") {
    val s = spark.newSession()
    val n = 1000L
    // two long-lived stages compiled once and reused across all rounds
    // (compileCached), exercising stale-jar coexistence with every
    // round's freshly shipped ones
    val fixed = Seq(2 -> 10, 3 -> 20).map { case (m, o) =>
      val code = stageCode(m, o)
      val objName = DynamicCompiler.classNameFor(s"stress_fixed_$m", code)
      val compiled = DynamicCompiler.compileCached(
        DynamicCompiler.wrap(objName, code))
      compiled.shipTo(s)
      (compiled, objName, m, o)
    }
    for (round <- 1 to 10) {
      // the edited stage: same stage NAME every round, different code —
      // classNameFor's source digest must isolate the classes so the
      // executor can never resolve a stale round's lambda
      val code = stageCode(round, 100 * round)
      val objName = DynamicCompiler.classNameFor("stress_edited", code)
      val compiled = DynamicCompiler.compile(DynamicCompiler.wrap(objName, code))
      compiled.shipTo(s)
      val tasks = (fixed.map { case (c, o, m, off) =>
        Future((m.toLong, off.toLong, runStage(s, c, o, n)))
      } :+ Future((round.toLong, 100L * round, runStage(s, compiled, objName, n))))
      val results = Await.result(Future.sequence(tasks), 120.seconds)
      results.foreach { case (m, off, got) =>
        val want = (0L until n).map(x => x * m + off).sorted
        assert(got == want, s"round $round: stage (×$m +$off) diverged")
      }
    }
  }
}
