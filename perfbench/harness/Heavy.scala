package perfbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** `heavy_batch`: sequential passes over three op groups, each op called
  * through `SparkEntry.queries` and timed as construction (the call
  * that returns the DataFrame) plus execution (collecting its rows).
  * The dedup ops read the seeded Zipfian corpus; the graph ops read the
  * seeded lineitem/orders tables. Passes continue while the next one is
  * expected to end before the deadline; there is always one. Warm-up
  * is one untimed pass.
  */
final class Heavy(corpus: Path, tables: Path, out: Path) extends Workload {
  import Heavy._

  private val last = scala.collection.mutable.Map.empty[String, (Seq[Row], StructType)]
  private val digests = scala.collection.mutable.Map.empty[String, Int]

  /** Runs every op once on the run's own inputs: after a warm-up on
    * smaller inputs of the same shapes, run twice, the first timed pass
    * still cost up to 15 % more CPU time than the second.
    */
  def warmUp(spark: SparkSession, rec: Rec, seed: Long): Unit =
    for ((group, ops) <- Groups; op <- ops) SparkEntry.queries(op)(spark, dirOf(group).toString).collect()

  private def dirOf(group: String): Path = if (group == "graph") tables else corpus

  def measure(spark: SparkSession, rec: Rec, seed: Long, deadlineNs: Long): Unit = {
    var pass = 0
    var lastNs = 0L
    while (pass == 0 || System.nanoTime() + lastNs < deadlineNs) {
      val p0 = System.nanoTime()
      Groups.foreach { case (group, ops) =>
        var total = 0L
        var cpu = 0L
        var ok = true
        val start = Clock.nowUs
        ops.foreach { op =>
          val id = s"p$pass-$op"
          val dir = dirOf(group)
          val layer = Layer(op)
          val c0 = Clock.appCpuUs
          val t0 = System.nanoTime()
          var t1 = t0
          val res = try {
            rec.withReq(spark, id) {
              rec.span(s"heavy.$op") {
                val df = rec.span(s"$layer.build")(SparkEntry.queries(op)(spark, dir.toString))
                t1 = System.nanoTime()
                val rows = rec.span(s"$layer.exec")(df.collect().toSeq)
                Right((rows, df.schema))
              }
            }
          } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
          val t2 = System.nanoTime()
          val c2 = Clock.appCpuUs
          total += t2 - t0
          cpu += c2 - c0
          res match {
            case Right((rows, schema)) =>
              val d = digest(rows)
              val same = digests.getOrElseUpdate(op, d) == d
              last(op) = (rows, schema)
              ok &&= same
              rec.op(op, id, Clock.us(t0), Clock.us(t2), same, "pass" -> pass,
                "build_us" -> (t1 - t0) / 1000, "exec_us" -> (t2 - t1) / 1000,
                "rows" -> rows.size, "cpu_us" -> (c2 - c0),
                "error" -> (if (same) "" else "rows differ from pass 0"))
            case Left(err) =>
              ok = false
              rec.op(op, id, Clock.us(t0), Clock.us(t2), false, "pass" -> pass, "cpu_us" -> (c2 - c0),
                "error" -> err)
          }
        }
        rec.op(s"${group}_pass", s"p$pass-$group", start, Clock.nowUs, ok, "pass" -> pass,
          "dur_us" -> total / 1000, "cpu_us" -> cpu)
      }
      pass += 1
      lastNs = System.nanoTime() - p0
    }
  }

  /** Writes each op's last result and its DuckDB oracle SQL for the checks. */
  def finish(spark: SparkSession, rec: Rec): Unit = {
    last.foreach { case (op, (rows, schema)) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      Gen.writeOne(df, out, op, schema.fieldNames.toSeq: _*)
    }
    rec.info("oracle_sql") = Groups.flatMap(_._2).map(op => op -> SparkEntry.oracleSql(op)).toMap
    rec.info("heavy_dirs") = Map("corpus" -> corpus.toString, "tables" -> tables.toString)
  }
}

object Heavy {
  /** `pairs`: inverted-index pair kernels; `clusters`: near-duplicate
    * clusters (LSH, connected components, lineage cuts); `graph`:
    * iterative joins.
    */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "pairs" -> Seq("dedup_containment", "dedup_ngram_jaccard"),
    "clusters" -> Seq("dedup_keep_representatives"),
    "graph" -> Seq("graph_pagerank", "triangle_count"))
  val Layer: Map[String, String] = Map(
    "dedup_containment" -> "llm.containment",
    "dedup_ngram_jaccard" -> "llm.ngram_jaccard",
    "dedup_keep_representatives" -> "llm.keep_representatives",
    "graph_pagerank" -> "operators.graph_pagerank",
    "triangle_count" -> "operators.triangle_count")

  /** Order-insensitive digest of a result, to compare passes. */
  def digest(rows: Seq[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted)
}
