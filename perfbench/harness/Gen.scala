package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.{Encoding, PageEncodingStats, Util}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ScaleGen

final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: LocalDate, o_orderpriority: String)
final case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: LocalDate)
final case class Event(event_id: Long, user_id: Long, event_type: String,
    value_c: Long, ts_us: Long, seg: Int)

/** Seeded input generator. Every value is a pure function of
  * (seed, table, row id), so the same seed gives the same rows on any
  * core count, and each file is written sorted as one part file, so it
  * gives the same bytes too.
  */
object Gen {
  /** Row counts of TPC-H shape at scale factor 0.01. */
  val Customers = 1500
  val Orders = 15000
  val Lines = 60000
  val Parts = 2000
  val Suppliers = 100

  /** Stream segments: event time advances by `SegSpanUs` per segment;
    * the watermark delay is `DelayUs`. Per mille of rows in a segment:
    * duplicates of an earlier event, rows late but inside the
    * watermark, and rows late beyond it.
    */
  val SegSpanUs = 60L * 1000000L
  val DelayUs = 600L * 1000000L
  val DelayText = "10 minutes"
  val DupPerMille = 40
  val LateInPerMille = 40
  val LateOutPerMille = 30
  private val T0Us = 1704067200000000L // 2024-01-01T00:00:00Z

  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val Day0 = LocalDate.of(1992, 1, 1)

  def h(seed: Long, tag: Long, id: Long, slot: Long): Long =
    ScaleGen.mix(ScaleGen.mix(seed * 0x9E3779B97F4A7C15L ^ tag) ^
      ScaleGen.mix(id * 1000003L + slot))
  def mod(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  def customer(seed: Long, k: Long, n: Long): Customer = Customer(k,
    f"Customer#$k%09d", mod(h(seed, 11, k, 0), 25).toInt,
    (mod(h(seed, 11, k, 1), 1100000L) - 100000L) / 100.0,
    Segments(mod(h(seed, 11, k, 2), Segments.length).toInt))

  def order(seed: Long, k: Long, customers: Long): Order = Order(k,
    1 + mod(h(seed, 12, k, 0), customers),
    IndexedSeq("O", "F", "P")(mod(h(seed, 12, k, 1), 3).toInt),
    (1000000L + mod(h(seed, 12, k, 2), 40000000L)) / 100.0,
    Day0.plusDays(mod(h(seed, 12, k, 3), 2400)),
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(
      mod(h(seed, 12, k, 4), 5).toInt))

  def line(seed: Long, i: Long, orders: Long, parts: Long, supps: Long): Line = Line(
    1 + mod(h(seed, 13, i, 0), orders), 1 + mod(h(seed, 13, i, 1), parts),
    1 + mod(h(seed, 13, i, 2), supps), 1 + mod(h(seed, 13, i, 3), 7).toInt,
    1.0 + mod(h(seed, 13, i, 4), 50), mod(h(seed, 13, i, 5), 10000000L) / 100.0,
    mod(h(seed, 13, i, 6), 11) / 100.0, mod(h(seed, 13, i, 7), 9) / 100.0,
    IndexedSeq("A", "N", "R")(mod(h(seed, 13, i, 8), 3).toInt),
    IndexedSeq("O", "F")(mod(h(seed, 13, i, 9), 2).toInt),
    Day0.plusDays(mod(h(seed, 13, i, 10), 2500)))

  private def draw(seed: Long, seg: Long, j: Long): Long = mod(h(seed, 21, seg * 1000003L + j, 0), 1000)
  private def isDup(seed: Long, seg: Long, j: Long): Boolean = draw(seed, seg, j) < DupPerMille

  /** The event first published at (segment, position). */
  private def original(seed: Long, seg: Int, j: Long, perSeg: Long, customers: Long): Event = {
    val x = h(seed, 22, seg * 1000003L + j, 0)
    val d = draw(seed, seg, j)
    val base = T0Us + seg * SegSpanUs
    val ts =
      if (d >= DupPerMille && d < DupPerMille + LateInPerMille)
        base - 1000L * (1 + mod(h(seed, 22, seg * 1000003L + j, 1), DelayUs / 2000L))
      else if (d >= DupPerMille + LateInPerMille && d < DupPerMille + LateInPerMille + LateOutPerMille)
        base - DelayUs * 3 / 2 - 1000L * mod(h(seed, 22, seg * 1000003L + j, 1), DelayUs / 1000L)
      else base + mod(x, SegSpanUs)
    Event(seg * perSeg + j, 1 + mod(h(seed, 22, seg * 1000003L + j, 2), customers),
      EventTypes(mod(h(seed, 22, seg * 1000003L + j, 3), EventTypes.length).toInt),
      mod(h(seed, 22, seg * 1000003L + j, 4), 100000L), ts, seg)
  }

  /** Row j of segment seg: mostly an original event; a duplicate row
    * re-sends an original from this segment or one of the two before.
    */
  def event(seed: Long, seg: Int, j: Long, perSeg: Long, customers: Long): Event =
    if (!isDup(seed, seg, j)) original(seed, seg, j, perSeg, customers)
    else {
      val back = mod(h(seed, 23, seg * 1000003L + j, 0), 3).toInt min seg
      val from = seg - back
      val limit = if (back == 0) j else perSeg
      var k = if (limit == 0) -1L else mod(h(seed, 23, seg * 1000003L + j, 1), limit)
      while (k >= 0 && isDup(seed, from, k)) k -= 1
      if (k < 0) original(seed, seg, j, perSeg, customers)
      else original(seed, from, k, perSeg, customers).copy(seg = seg)
    }

  /** Writes `df` as exactly `<dir>/<name>/part-00000.parquet`. */
  def writeOne(df: DataFrame, dir: Path, name: String, sortBy: String*): Path = {
    val tmp = dir.resolve(s".tmp-$name")
    df.coalesce(1).sortWithinPartitions(sortBy.head, sortBy.tail: _*)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet")).get
    val out = dir.resolve(name)
    Files.createDirectories(out)
    Files.move(part, out.resolve("part-00000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    canonicalFooter(out.resolve("part-00000.parquet"))
    Fsx.delete(tmp)
    out
  }

  /** Sorts each column chunk's encoding lists in a parquet footer, in
    * place. parquet-mr writes them from a hash set whose order differs
    * between JVMs; nothing else in the file does.
    */
  private def canonicalFooter(p: Path): Unit = {
    val bytes = Files.readAllBytes(p)
    val len = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val start = bytes.length - 8 - len
    val meta = Util.readFileMetaData(new java.io.ByteArrayInputStream(bytes, start, len))
    meta.getRow_groups.asScala.flatMap(_.getColumns.asScala).map(_.getMeta_data).foreach { md =>
      md.getEncodings.sort(java.util.Comparator.comparingInt[Encoding](_.getValue))
      Option(md.getEncoding_stats).foreach(_.sort(java.util.Comparator.comparingInt[PageEncodingStats](
        s => s.getPage_type.getValue * 1000 + s.getEncoding.getValue)))
    }
    val footer = new java.io.ByteArrayOutputStream()
    Util.writeFileMetaData(meta, footer)
    require(footer.size == len, s"footer of $p changed length")
    System.arraycopy(footer.toByteArray, 0, bytes, start, len)
    Files.write(p, bytes)
  }

  /** `names` of customer, orders and lineitem at `scale` × sf0.01 row counts. */
  def tables(spark: SparkSession, dir: Path, seed: Long, scale: Double,
      names: Set[String] = Set("customer", "orders", "lineitem")): Map[String, Any] = {
    import spark.implicits._
    val (c, o, l) = ((Customers * scale).toLong, (Orders * scale).toLong, (Lines * scale).toLong)
    val (p, s) = ((Parts * scale).toLong max 10, (Suppliers * scale).toLong max 5)
    if (names("customer"))
      writeOne(spark.range(1, c + 1, 1, 4).map(k => customer(seed, k, c)).toDF(),
        dir, "customer.parquet", "c_custkey")
    if (names("orders"))
      writeOne(spark.range(1, o + 1, 1, 4).map(k => order(seed, k, c)).toDF(),
        dir, "orders.parquet", "o_orderkey")
    if (names("lineitem"))
      writeOne(spark.range(0, l, 1, 4).map(i => line(seed, i, o, p, s)).toDF(),
        dir, "lineitem.parquet", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    Map("customer" -> c, "orders" -> o, "lineitem" -> l).filter(t => names(t._1))
      .map { case (t, n) => s"${t}_rows" -> n } + ("sf" -> 0.01 * scale)
  }

  /** The Zipfian corpus: `ScaleGen.zipfDoc` over ids offset by a
    * seed-dependent multiple of 5000, which keeps its planted exact
    * (1 in 625) and near (1 in 200) duplicate pattern.
    */
  def corpus(spark: SparkSession, dir: Path, seed: Long, docs: Long): Map[String, Any] = {
    import spark.implicits._
    val off = corpusOffset(seed)
    writeOne(spark.range(off, off + docs, 1, 4).map(i => ScaleGen.zipfDoc(i, ScaleGen.ZipfV)).toDF(),
      dir, "documents.parquet", "doc_id")
    Map("docs" -> docs, "doc_id_offset" -> off, "zipf_vocab" -> ScaleGen.ZipfV)
  }
  def corpusOffset(seed: Long): Long = (mod(seed, 100000L) + 1) * 5000L

  /** Stream segments as `<dir>/seg-<k>.parquet`, k = 0 until n. */
  def segments(spark: SparkSession, dir: Path, seed: Long, n: Int, perSeg: Long): Map[String, Any] = {
    import spark.implicits._
    val c = Customers.toLong
    val ev = spark.range(0, n * perSeg, 1, 4)
      .map(i => event(seed, (i / perSeg).toInt, i % perSeg, perSeg, c))
    val tmp = dir.resolve(".tmp-segments")
    ev.repartition(n max 1, $"seg").sortWithinPartitions("seg", "event_id", "ts_us")
      .write.mode("overwrite").partitionBy("seg").parquet(tmp.toString)
    Files.createDirectories(dir)
    (0 until n).foreach { k =>
      val part = Files.list(tmp.resolve(s"seg=$k")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(f"seg-$k%05d.parquet"))
      canonicalFooter(dir.resolve(f"seg-$k%05d.parquet"))
    }
    Fsx.delete(tmp)
    Map("segments" -> n, "events_per_segment" -> perSeg,
      "segment_span_s" -> SegSpanUs / 1000000L, "watermark_delay_s" -> DelayUs / 1000000L,
      "dup_per_mille" -> DupPerMille, "late_inside_per_mille" -> LateInPerMille,
      "late_beyond_per_mille" -> LateOutPerMille)
  }

  /** Size and SHA-256 of every data file under `dir`, by relative path. */
  def manifest(dir: Path): Map[String, Any] = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => p.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    files.map { p =>
      val bytes = Files.readAllBytes(p)
      val sha = MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString
      dir.relativize(p).toString -> Map("bytes" -> bytes.length, "sha256" -> sha)
    }.toMap
  }
}

object Fsx {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }
}
