package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Table catalog over a driver-generated scale-factor directory
  * (see TESTDATA.md): TPC-H-ish star schema + `events` + LLM tables.
  *
  * Loads are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown/pruning freedom; at cluster scale the same API reads a
  * partitioned directory tree without change. Views are registered so
  * both the DataFrame API and `spark.sql` address tables by name —
  * mirroring the reference's named-dataset addressing
  * (reference: src/test/java/io/cdap/plugin/spark/dynamic/ScalaSparkTest.java:118-128)
  * and temp-table SQL (ScalaSparkTest.java:279-280).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables — always broadcast-join candidates. */
  val smallDims: Set[String] = Set("region", "nation", "supplier")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Older testdata generations store events.ts as parquet
    // TIMESTAMP(NANOS), which Spark 4 rejects outright unless read as a
    // raw long (nanoseconds since epoch); newer generations store
    // TIMESTAMP(µs) (read as TIMESTAMP_NTZ). The engine works in the
    // epoch-nanos-long domain everywhere (`ts div 1000` → µs, matching
    // DuckDB's ns→µs truncation), so normalize here — at load time, in
    // one place — branching on the schema actually read, and leave every
    // downstream call site untouched. Session tz is UTC, so the NTZ→TZ
    // cast is a no-op reinterpretation.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df // LongType (nanos) or no ts column — already normalized
    }
  }

  /** Schemas already inferred, keyed by table path and file listing
    * (path, size, modification time of every file). Inferring one reads
    * parquet footers in a Spark job of its own; a rewritten table lists
    * differently and is inferred again.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)]), StructType]()

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val listing =
      try {
        val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        while (files.hasNext) {
          val f = files.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(b.sorted.toSeq)
      } catch { case _: java.io.FileNotFoundException => None }
    listing match {
      case None => spark.read.parquet(path) // Spark reports the missing path
      case Some(files) =>
        val schema = Option(schemas.get((path, files))).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put((path, files), inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Register every table as a temp view named after itself. Idempotent. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
}
