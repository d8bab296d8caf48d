package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.functions._
import graft.streaming.{SegmentMicroBatchStream, SegmentOffset, SegmentReaderFactory, SegmentSlice, SegmentSource, StreamStages}

/** Contract tests for the replayable DSv2 segment source (VERDICT r15
  * #4) below the gate level: the high-watermark rule (torn trailing
  * lines invisible), offset WAL round-trip, deterministic range
  * replay, the truncation guard, and — end to end — exactly-once
  * offsets across a real query restart. The oracle gate
  * (`source_segment_replay`) hash-checks the same restart shape
  * against DuckDB; this spec pins the per-record offset evidence the
  * lang-count hash can't see.
  */
class SegmentSourceSpec extends SparkSpec {

  // StreamingSpec's own session on the shared context, same rationale
  override lazy val spark: org.apache.spark.sql.SparkSession =
    GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate().newSession()

  private def write(path: java.nio.file.Path, s: String): Unit =
    Files.write(path, s.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  test("high watermark counts only newline-terminated records") {
    val dir = Files.createTempDirectory("graft-seg")
    val seg = dir.resolve("s.log")
    assert(SegmentSource.completeRecords(seg.toString) == 0L,
      "a not-yet-created segment is empty, not an error")
    write(seg, "a\nb\n")
    assert(SegmentSource.completeRecords(seg.toString) == 2L)
    write(seg, "torn")
    assert(SegmentSource.completeRecords(seg.toString) == 2L,
      "a mid-append record must be invisible until its newline lands")
    write(seg, "\n")
    assert(SegmentSource.completeRecords(seg.toString) == 3L)
  }

  test("offset round-trips through the WAL json form") {
    val stream = new SegmentMicroBatchStream("/nonexistent")
    val off = stream.deserializeOffset(SegmentOffset(42L).json())
    assert(off == SegmentOffset(42L))
    assert(SegmentOffset(7L).json() == "7")
  }

  test("a committed range replays bit-identically; empty range plans nothing") {
    val dir = Files.createTempDirectory("graft-seg")
    val seg = dir.resolve("s.log")
    write(seg, (0 until 10).map(i => s"rec$i\n").mkString)
    val stream = new SegmentMicroBatchStream(seg.toString)
    assert(stream.planInputPartitions(SegmentOffset(4), SegmentOffset(4)).isEmpty)
    def readRange(a: Long, b: Long): Seq[(Long, String)] = {
      val Array(slice) =
        stream.planInputPartitions(SegmentOffset(a), SegmentOffset(b))
      val r = new SegmentReaderFactory().createReader(slice)
      val out = Seq.newBuilder[(Long, String)]
      while (r.next()) out += ((r.get().getLong(0), r.get().getUTF8String(1).toString))
      r.close()
      out.result()
    }
    val first = readRange(2, 5)
    assert(first == Seq(2L -> "rec2", 3L -> "rec3", 4L -> "rec4"))
    // append MORE, replay the SAME range: append-only ⇒ identical
    write(seg, "rec10\nrec11\n")
    assert(readRange(2, 5) == first,
      "a committed range must replay identically after later appends")
  }

  test("a truncated segment fails the replay contract loudly") {
    val dir = Files.createTempDirectory("graft-seg")
    val seg = dir.resolve("s.log")
    write(seg, "a\nb\nc\n")
    val r = new SegmentReaderFactory()
      .createReader(SegmentSlice(seg.toString, 0, 5))
    val e = intercept[IllegalStateException] {
      while (r.next()) r.get()
    }
    assert(e.getMessage.contains("truncated"))
    r.close()
  }

  test("restart resumes from the checkpointed offset: each record exactly once") {
    val dir = Files.createTempDirectory("graft-seg")
    val seg = dir.resolve("s.log")
    val out = s"$dir/out"
    def drain(): Unit = StreamStages.withGateConf(spark) {
      StreamStages.toParquet(
        StreamStages.segmentSource(spark, seg.toString), out, s"$dir/ckpt")
      ()
    }
    write(seg, (0 until 60).map(i => s"r$i\n").mkString)
    drain()
    write(seg, (60 until 100).map(i => s"r$i\n").mkString)
    drain() // new query, same checkpoint — must plan [60, 100), not [0, 100)
    val rows = spark.read.parquet(out)
      .select("offset", "value").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == (0 until 100).map(i => (i.toLong, s"r$i")),
      s"expected offsets 0..99 exactly once, got ${rows.size} rows")
  }
}
