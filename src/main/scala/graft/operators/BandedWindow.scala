package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact global running aggregates — a rank, a running count, a
  * running sum — WITHOUT a global window. A naive `Window.orderBy`
  * funnels the whole table through one task. Instead rows are cut
  * into bands that follow the sort order, the per-band totals (one
  * row per band, metadata-scale like AQE stats) are collected to the
  * driver and turned into prefix offsets, the offsets are
  * broadcast-joined back, and the window runs partitioned by band:
  * band offset + in-band running value is the global running value.
  */
object BandedWindow {

  /** Approx-quantile band of `valueCol`: the number of its `nBands-1`
    * sketch quantiles (one-pass GK sketch, dedup'd — heavy skew
    * collapses repeated quantiles onto the hot value — and sorted)
    * STRICTLY below the value. Strict `<` keeps equal values in one
    * band even when a boundary equals the hot value, so RANGE peers
    * never straddle bands, and the hot value gets a band of its own
    * while the rest stay balanced. A null value goes to band 0, where
    * the in-band order puts it first; the band stays non-null, so the
    * offsets join back on one integer key. Codegen'd binary search
    * (functions.SortedBucket).
    */
  def quantileBand(df: DataFrame, valueCol: String, nBands: Int): Column = {
    val probs = (1 until nBands).map(_.toDouble / nBands).toArray
    val bounds = df.stat.approxQuantile(valueCol, probs, 0.001).distinct.sorted
    if (bounds.isEmpty) lit(0)
    else coalesce(graft.functions.SortedBucket(col(valueCol).cast("double"), bounds), lit(0))
  }

  /** Adds `running`, the running `sum(value)` over `order` within each
    * `keys` group (frame RANGE UNBOUNDED PRECEDING..CURRENT ROW, so
    * order peers share a value; on a total order that is the row
    * number or ROWS sum), and `total`, the group's `sum(value)`.
    *
    * `band` must follow `order`: every row of a lower band sorts before
    * every row of a higher one, and peers share a band. "Lower" is
    * Spark's ascending order of the band's type (nulls first, strings
    * by UTF-8 bytes); the offsets are accumulated in that same order
    * and joined back null-safely. `value` must be a non-null integral.
    */
  def runningSum(df: DataFrame, band: Column, order: Seq[Column], value: Column,
      running: String, total: String, keys: Seq[String] = Nil): DataFrame = {
    val parts = keys :+ Band
    val banded = df.withColumn(Band, band)
    val totals = banded.groupBy(parts.map(col): _*).agg(sum(value).as(Off))
    val bandType = totals.schema(Band).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(bandType)
    val bandOrder = InterpretedOrdering.forSchema(Seq(bandType))
    val nk = keys.size
    val offsets = totals.collect().toSeq.groupBy(r => (0 until nk).map(r.get)).values
      .flatMap { rows =>
        val sorted = rows.sortBy(r => InternalRow(toCatalyst(r.get(nk))))(bandOrder)
        val groupTotal = sorted.map(_.getLong(nk + 1)).sum
        var acc = 0L
        sorted.map { r =>
          val o = acc; acc += r.getLong(nk + 1)
          Row.fromSeq(r.toSeq.take(nk + 1) ++ Seq(o, groupTotal))
        }
      }
    val offSchema = StructType(totals.schema.fields.take(nk + 1)
      .map(f => f.copy(name = Joined + f.name)) ++
      Seq(StructField(Off, LongType), StructField(total, LongType)))
    val offDf = df.sparkSession.createDataFrame(offsets.toSeq.asJava, offSchema)
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe only where a null can occur: a non-null integer band
    // then joins as one long key (a ~1 MiB broadcast hash relation,
    // not a 64 MiB paged one)
    val on = parts.map { p =>
      if (banded.schema(p).nullable) col(p) <=> col(Joined + p) else col(p) === col(Joined + p)
    }
    banded.join(broadcast(offDf), on.reduce(_ && _))
      .withColumn(running, col(Off) + sum(value).over(w))
      .drop(Off +: Band +: parts.map(Joined + _): _*)
  }

  private val Band = "__bw_band"
  private val Off = "__bw_off"
  private val Joined = "__bw_o_"
}
