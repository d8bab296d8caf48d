package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite, sized for CI. It
  * starts from `GraftSession.builder`, so whichever suite runs first
  * sizes the JVM-wide codegen cache the way the engine does.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
  def sfDir: String = "/root/testdata/sf0.001"
}
