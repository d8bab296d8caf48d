package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One workload of the benchmark: warm-up on set-up, a closed loop of
  * timed ops until the deadline, then whatever the output checks need.
  */
trait Workload {
  /** Runs every op kind once, untimed, on small inputs. */
  def warmUp(spark: SparkSession, rec: Rec, seed: Long): Unit
  def measure(spark: SparkSession, rec: Rec, seed: Long, deadlineNs: Long): Unit
  def finish(spark: SparkSession, rec: Rec): Unit}

/** Harness JVM.
  *
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   perfbench.Main gen <workload> <seed> <workDir>
  *
  * `run` writes `<workDir>/raw.json`, which `perfbench/run.py` turns
  * into metrics; `gen` only writes the seeded inputs and their manifest.
  */
object Main {
  /** Input sizes: etl tables at sf0.01, the heavy_batch corpus and
    * graph tables (`GraphScale` × sf0.01), and the stream segments.
    */
  val CorpusDocs = 700L
  val GraphScale = 0.5
  val EventsPerSegment = 1000L
  val StreamSegments = 12

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val workload = args(1)
    val seed = args(2).toLong
    val (seconds, trace, work) =
      if (mode == "run") (args(3).toInt, args(4) == "1", Paths.get(args(5)))
      else (0, false, Paths.get(args(3)))
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val cores = Runtime.getRuntime.availableProcessors
    val rec = new Rec(trace)
    val inputs = Files.createDirectories(work.resolve("inputs"))
    val out = Files.createDirectories(work.resolve("out"))

    val spark = session(cores, rec)
    val cpu0 = Clock.appCpuUs
    val (sizes, g0, g1) = rec.timed(generate(spark, workload, seed, inputs))
    val genCpuUs = Clock.appCpuUs - cpu0
    rec.info("inputs") = sizes
    rec.info("input_files") = Gen.manifest(inputs)
    if (mode == "gen") {
      Json.writeFile(work.resolve("manifest.json"), rec.info)
      spark.stop()
      return
    }
    val wl: Workload = workload match {
      case "etl_pipeline" => new Etl(inputs.resolve("tables"), out,
        new Streams(inputs.resolve("segments"), inputs.resolve("tables"), work,
          EventsPerSegment, StreamSegments))
      case "heavy_batch" => new Heavy(inputs.resolve("corpus"), inputs.resolve("tables"), out)
    }

    // Set-up runs from JVM start to the end of the warm-up, without
    // input generation; its CPU time is that of Clock.appCpuUs.
    wl.warmUp(spark, rec, seed)
    val setupS = (Clock.nowUs - jvmStartUs - (g1 - g0)) / 1e6
    val setupCpuS = (Clock.appCpuUs - genCpuUs) / 1e6

    rec.reset(spark)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val m0 = Clock.nowUs
    wl.measure(spark, rec, seed, System.nanoTime() + seconds * 1000000000L)
    val m1 = Clock.nowUs
    val gc1 = gcMs
    rec.drain(spark)
    wl.finish(spark, rec)

    rec.info("workload") = workload
    rec.info("seed") = seed
    rec.info("seconds") = seconds
    rec.info("trace") = trace
    rec.info("cores") = cores
    rec.info("setup_s") = setupS
    rec.info("setup_cpu_s") = setupCpuS
    rec.info("gen_s") = (g1 - g0) / 1e6
    rec.info("measure_us") = Seq(m0, m1)
    rec.info("jvm_gc_ms") = gc1 - gc0
    rec.info("heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    rec.info("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    rec.info("session_conf") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }
    rec.info("spark_version") = spark.version
    rec.info("vm_hwm_mb") = vmHwmMb
    Json.writeFile(work.resolve("raw.json"), rec.result)
    spark.stop()
  }

  private def session(cores: Int, rec: Rec): SparkSession = {
    val spark = GraftSession.build(s"local[$cores]", cores, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    rec.attach(spark)
    spark
  }

  /** Writes the workload's seeded inputs under `dir`; returns their sizes. */
  private def generate(spark: SparkSession, workload: String, seed: Long,
      dir: Path): Map[String, Any] = workload match {
    case "etl_pipeline" =>
      Map("tables" -> Gen.tables(spark, dir.resolve("tables"), seed, 1.0),
        "segments" -> Gen.segments(spark, dir.resolve("segments"), seed, StreamSegments,
          EventsPerSegment))
    case "heavy_batch" =>
      Map("corpus" -> Gen.corpus(spark, dir.resolve("corpus"), seed, CorpusDocs),
        "tables" -> Gen.tables(spark, dir.resolve("tables"), seed, GraphScale, Graph))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private val Graph = Set("orders", "lineitem")

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}
