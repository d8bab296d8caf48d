package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY.md §2.11): media payloads as
  * opaque `binary` columns plus typed metadata, with decode /
  * feature-extraction as partition-wise batch functions.
  *
  * The decode step itself is a STUB (this environment ships no
  * image/audio codecs): `decodeStub` derives deterministic fake
  * features from the raw bytes. Everything around it — the schema, the
  * binary payload column, the mapPartitions batching, the Encoder
  * plumbing — is the real Spark shape you'd use with a true codec: at
  * scale the decode is per-partition (amortizes codec init), stays off
  * the driver, and never widens the shuffle (features only, payload
  * dropped immediately after extraction).
  */
object Multimodal {

  /** One media record: payload bytes + typed metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features (what survives past the decode stage). */
  final case class MediaFeatures(doc_id: Long, media_type: String,
      payload_len: Long, header_hex: String, n_chunks: Long)

  /** Build a media table from the documents table: UTF-8 payload bytes
    * standing in for image/audio blobs, with a typed metadata column.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      lit("text/plain").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** One sampled frame: which frame, where it starts, its bytes'
    * length, and a 4-byte header sniff.
    */
  final case class FrameSample(doc_id: Long, frame_idx: Long,
      frame_off: Long, frame_len: Long, frame_hex: String)

  /** Resize output: original vs downsampled payload size + header. */
  final case class ResizedMedia(doc_id: Long, orig_len: Long,
      resized_len: Long, head_hex: String)

  /** Deterministic frame sampling: cut the payload into `frameBytes`
    * frames, keep every `everyK`-th up to `maxFrames` — the video
    * frame-sample schedule (uniform stride, bounded per record so one
    * long video can't skew a partition). Real decoders replace the
    * byte-slice body; the flatMap-over-partitions shape, bounded
    * output and payload-drop-after-extract are the production shape.
    */
  def frameSample(spark: SparkSession, media: DataFrame, frameBytes: Int = 256,
      everyK: Int = 4, maxFrames: Int = 8): Dataset[FrameSample] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          val n = (r.payload.length + frameBytes - 1) / frameBytes
          (0 until n).filter(_ % everyK == 0).take(maxFrames).map { i =>
            val off = i.toLong * frameBytes
            val len = math.min(frameBytes.toLong, r.payload.length - off)
            val hex = r.payload.slice(off.toInt, off.toInt + math.min(4L, len).toInt)
              .map(b => f"${b & 0xff}%02X").mkString
            FrameSample(r.doc_id, i.toLong, off, len, hex)
          }
        }
      }
  }

  /** STUB resize: every `stride`-th byte survives — the downsample
    * shape (a real image resize replaces the body). Emits sizes + a
    * 4-byte header of the resized payload, payload itself dropped.
    */
  def resizeStub(spark: SparkSession, media: DataFrame,
      stride: Int = 4): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val resized = r.payload.indices.collect {
            case i if i % stride == 0 => r.payload(i)
          }
          val hex = resized.take(4).map(b => f"${b & 0xff}%02X").mkString
          ResizedMedia(r.doc_id, r.payload.length.toLong,
            resized.length.toLong, hex)
        }
      }
  }

  /** STUB decode: real codec calls would replace the body of the
    * per-record function; batching, schema and laziness are the real
    * thing. Features: payload length, hex of the first 4 bytes
    * ("magic number" sniff), 256-byte chunk count (frame-sample
    * stand-in).
    */
  def decodeStub(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions { it =>
        // per-partition init would go here (codec handles, model weights)
        it.map { r =>
          val head = r.payload.take(4).map(b => f"${b & 0xff}%02X").mkString
          MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong,
            head, (r.payload.length + 255L) / 256L)
        }
      }
  }

  /** Decoded raster features (what a real image-decode stage keeps:
    * dimensions, channels, exact integer luma so the gate hash is
    * bit-stable — mean luma is `luma_sum / (n_pixels * 1000.0)`).
    */
  final case class ImageFeatures(doc_id: Long, width: Int, height: Int,
      channels: Int, maxval: Int, n_pixels: Long, luma_sum: Long)

  /** Pure-JVM binary-PPM (P6) decode: header = "P6", then width,
    * height, maxval as ASCII ints separated by whitespace, with
    * `#`-to-newline comments allowed between tokens, a single
    * whitespace after maxval, then width·height packed RGB bytes.
    * No codec library needed — PPM is the uncompressed interchange
    * format, which is exactly why it's the one real decoder this
    * container can have. Returns None for anything that isn't a
    * complete 8-bit P6 stream (truncated pixels, maxval > 255, other
    * magic) so opaque formats fall through to [[decodeStub]].
    *
    * Luma is the integer ITU-R BT.601 weighting: per pixel
    * 299·R + 587·G + 114·B (milli-units, exact in Long).
    */
  /** P6 header parse shared by [[decodePpm]] and [[ppmDHash]]:
    * returns (width, height, maxval, pixel-data offset) for a complete
    * 8-bit binary PPM, None otherwise (same validity contract as
    * [[decodePpm]]'s Scaladoc).
    */
  /** Parse one P6 header at `start` (absolute offset into `bytes`);
    * the returned pixel-data position is absolute too, so stream
    * parsers can walk concatenated frames without copying the tail
    * per frame (a copyOfRange walk is O(frames × payload) allocation).
    */
  private def parsePpmHeader(bytes: Array[Byte],
      start: Int = 0): Option[(Int, Int, Int, Int)] = {
    var pos = start + 2
    if (bytes.length - start < 2 || bytes(start) != 'P' || bytes(start + 1) != '6') return None
    def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    def skipWsAndComments(): Boolean = {
      var progressed = true
      while (progressed && pos < bytes.length) {
        progressed = false
        while (pos < bytes.length && isWs(bytes(pos))) { pos += 1; progressed = true }
        if (pos < bytes.length && bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          progressed = true
        }
      }
      pos < bytes.length
    }
    def readInt(): Option[Int] = {
      if (!skipWsAndComments()) return None
      var v = 0L
      var any = false
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); any = true; pos += 1
        if (v > Int.MaxValue) return None
      }
      if (any) Some(v.toInt) else None
    }
    for {
      w <- readInt()
      h <- readInt()
      maxval <- readInt()
      if w > 0 && h > 0 && maxval > 0 && maxval <= 255
      // exactly ONE whitespace byte separates the header from pixels
      if pos < bytes.length && isWs(bytes(pos))
      _ = { pos += 1 }
      nPix = w.toLong * h
      if bytes.length - pos >= nPix * 3
    } yield (w, h, maxval, pos)
  }

  def decodePpm(bytes: Array[Byte]): Option[ImageFeatures] = {
    parsePpmHeader(bytes).map { case (w, h, maxval, pos) =>
      val nPix = w.toLong * h
      var luma = 0L
      var i = pos
      val end = pos + (nPix * 3).toInt
      while (i < end) {
        luma += 299L * (bytes(i) & 0xff) + 587L * (bytes(i + 1) & 0xff) +
          114L * (bytes(i + 2) & 0xff)
        i += 3
      }
      ImageFeatures(0L, w, h, 3, maxval, nPix, luma)
    }
  }

  /** One row per ViT-style patch: channel sums over `patch`×`patch`
    * pixel tiles. */
  final case class ImagePatch(doc_id: Long, patch_row: Int, patch_col: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** ViT-style patchify: cut each image into `patch`×`patch` pixel
    * tiles (edge remainders cropped — the standard ViT resize-to-
    * multiple convention, minus the resample this synthetic gate
    * doesn't need) and emit integer channel sums per tile — the
    * pooled-patch statistics a patch-embedding input pipeline
    * computes before projection. Integer-exact by construction.
    *
    * Same mapPartitions shape as [[decodeImages]]: bounded per-record
    * work, payload dropped after extraction, output ≈ (w·h/patch²)
    * rows per image — a fixed small multiple of the image count,
    * partition-local until the caller aggregates.
    */
  def imagePatches(spark: SparkSession, media: DataFrame,
      patch: Int = 2): Dataset[ImagePatch] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        parsePpmHeader(r.payload) match {
          case None => Iterator.empty
          case Some((w, h, _, pos)) =>
            for {
              pr <- Iterator.range(0, h / patch)
              pc <- Iterator.range(0, w / patch)
            } yield {
              var sr = 0L; var sg = 0L; var sb = 0L
              var dy = 0
              while (dy < patch) {
                var dx = 0
                while (dx < patch) {
                  val p = pos + 3 * ((pr * patch + dy) * w + (pc * patch + dx))
                  sr += r.payload(p) & 0xff
                  sg += r.payload(p + 1) & 0xff
                  sb += r.payload(p + 2) & 0xff
                  dx += 1
                }
                dy += 1
              }
              ImagePatch(r.doc_id, pr, pc, sr, sg, sb)
            }
        }
      })
  }

  /** Perceptual difference hash (dHash — Krawetz's gradient hash, the
    * standard cheap near-duplicate image fingerprint) of a P6 PPM:
    * nearest-neighbor sample the image onto an 8-row × 9-column luma
    * grid (grid cell (r, c) reads the pixel at row ⌊r·h/8⌋, column
    * ⌊c·w/9⌋ — integer-exact, no resampling filter, so every engine
    * replays it bit-for-bit), then bit r·8+c of the 64-bit hash is set
    * iff luma(r, c) > luma(r, c+1). Luma is the integer BT.601
    * milli-weighting (299·R + 587·G + 114·B) — same as [[decodePpm]].
    * Bits combine with OR, so bit 63 (two's-complement sign) is safe.
    */
  def ppmDHash(bytes: Array[Byte]): Option[(Int, Int, Long)] =
    parsePpmHeader(bytes).map { case (w, h, _, pos) =>
      def lumaAt(rr: Int, cc: Int): Long = {
        val p = pos + 3 * (rr * w + cc)
        299L * (bytes(p) & 0xff) + 587L * (bytes(p + 1) & 0xff) +
          114L * (bytes(p + 2) & 0xff)
      }
      var hash = 0L
      var r = 0
      while (r < 8) {
        val rr = r * h / 8
        var c = 0
        while (c < 8) {
          val l0 = lumaAt(rr, c * w / 9)
          val l1 = lumaAt(rr, (c + 1) * w / 9)
          if (l0 > l1) hash |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      (w, h, hash)
    }

  /** Per-image dHash row (drops undecodable payloads — the
    * [[decodeImages]] two-path contract). */
  final case class ImageHashRow(doc_id: Long, width: Int, height: Int,
      dhash: Long)

  /** Distributed dHash over a media table: partition-wise decode+hash,
    * payload dropped immediately — only (id, dims, 8-byte hash)
    * survive toward the pairing shuffle.
    */
  def imageDHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHashRow] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          ppmDHash(r.payload).map { case (w, h, hsh) =>
            ImageHashRow(r.doc_id, w, h, hsh)
          }
        }
      }
  }

  /** Real image decode over a media table: PPM payloads parse to
    * raster features; opaque payloads are dropped here (route them to
    * [[decodeStub]] — the two-path split a production pipeline uses).
    * Same scale shape as the stub: partition-wise, payload never
    * survives the stage, nothing widens a shuffle.
    */
  def decodeImages(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions { it =>
        it.flatMap(r => decodePpm(r.payload).map(_.copy(doc_id = r.doc_id)))
      }
  }

  /** Deterministic synthetic P6 image per doc: width/height cycle with
    * doc_id, every third doc carries a header comment (exercises the
    * parser's comment skip), pixel byte p = (doc_id·31 + 7p) mod 256 —
    * a formula the DuckDB oracle replays WITHOUT parsing PPM, so the
    * gate cross-checks writer and parser against independent math.
    */
  /** Decoded audio features (what a real audio-decode stage keeps:
    * format fields from the fmt chunk + exact integer signal stats so
    * the gate hash is bit-stable).
    */
  final case class AudioFeatures(doc_id: Long, sample_rate: Int, bits: Int,
      n_samples: Long, duration_us: Long, energy: Long, zero_crossings: Long)

  /** Synthetic RIFF/WAVE table: one 8 kHz 16-bit mono PCM clip per
    * doc, sample i = (codepoint(text_i) − 77) · 256 — a pure function
    * of `documents.text`, so the oracle recomputes every feature from
    * the text column (the syntheticPpmTable recipe, for audio). Every
    * 3rd doc carries an extra LIST chunk ahead of `data` so the
    * parser's generic chunk walk (not a fixed 44-byte offset) is what
    * the gate actually exercises.
    *
    * ASCII CONTRACT (ADVICE r7): the sample formula iterates UTF-16
    * code units and wraps via toShort, while the oracle's
    * `(unicode(ch) - 77) * 256` iterates codepoints with no 16-bit
    * wrap — the two agree iff every character is ASCII (codepoint
    * < 128, where (cp−77)·256 fits a short exactly). That invariant
    * is pinned as a failing-spec contract in SchemaPinSpec ("documents
    * text is ASCII"), so a testdata regeneration that introduces
    * non-ASCII text fails one readable spec instead of flipping the
    * audio gates' hashes.
    */
  def syntheticWavTable(docs: DataFrame): DataFrame = {
    val gen = udf { (docId: Long, text: String) =>
      val samples = text.map(c => ((c.toInt - 77) * 256).toShort)
      val dataLen = samples.length * 2
      val extra = if (docId % 3 == 0) 12 else 0 // "LIST" + size + "INFO"
      val bb = java.nio.ByteBuffer.allocate(44 + extra + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(8000).putInt(16000) // sample rate, byte rate
        .putShort(2).putShort(16) // block align, bits
      if (extra > 0)
        bb.put("LIST".getBytes("US-ASCII")).putInt(4)
          .put("INFO".getBytes("US-ASCII"))
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    docs.select(col("doc_id"), lit("audio/wav").as("media_type"),
      gen(col("doc_id"), col("text")).as("payload"))
  }

  /** Pure-JVM RIFF/WAVE PCM parse — the one real audio decoder this
    * container can have (PCM WAV is uncompressed interchange, like PPM
    * for images). Walks chunks generically: "RIFF"+size+"WAVE", then
    * (id, LE32 size) chunks with the RIFF even-byte padding rule,
    * accepting any chunk order and skipping unknowns; requires a
    * 16-bit mono PCM fmt chunk and a complete data chunk, else None —
    * opaque/truncated formats fall through to [[decodeStub]].
    *
    * Features are exact integers: energy = Σ s², zero crossings =
    * #{i : s_{i−1}·s_i < 0}, duration_us = n·1e6 div rate.
    */
  /** Chunk-walk core shared by [[parseWav]] and [[wavFingerprint]]:
    * (sample rate, decoded int16 samples) for a valid 16-bit mono PCM
    * stream, None otherwise.
    */
  def wavSamples(bytes: Array[Byte]): Option[(Int, Array[Int])] = {
    if (bytes.length < 12) return None
    def ascii(off: Int) = new String(bytes, off, 4, "US-ASCII")
    def le32(off: Int): Long =
      (bytes(off) & 0xffL) | (bytes(off + 1) & 0xffL) << 8 |
        (bytes(off + 2) & 0xffL) << 16 | (bytes(off + 3) & 0xffL) << 24
    def le16(off: Int): Int = (bytes(off) & 0xff) | (bytes(off + 1) & 0xff) << 8
    if (ascii(0) != "RIFF" || ascii(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None // (format, channels, rate)
    var bits = 0
    var data: Option[(Int, Int)] = None // (offset, byte length)
    while (off + 8 <= bytes.length) {
      val id = ascii(off)
      val size = le32(off + 4)
      if (size < 0 || off + 8 + size > bytes.length) return None
      val sz = size.toInt
      if (id == "fmt " && sz >= 16) {
        fmt = Some((le16(off + 8), le16(off + 10), le32(off + 12).toInt))
        bits = le16(off + 22)
      } else if (id == "data") data = Some((off + 8, sz))
      off += 8 + sz + (sz & 1) // RIFF pads chunks to even length
    }
    (fmt, data) match {
      case (Some((1, 1, rate)), Some((dOff, dLen)))
          if bits == 16 && dLen % 2 == 0 && rate > 0 =>
        Some((rate, Array.tabulate(dLen / 2)(i =>
          (le16(dOff + 2 * i) << 16) >> 16))) // sign-extend int16
      case _ => None
    }
  }

  def parseWav(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long, Long)] =
    wavSamples(bytes).map { case (rate, samples) =>
      var energy = 0L
      var crossings = 0L
      var i = 0
      while (i < samples.length) {
        val s = samples(i)
        energy += s.toLong * s
        if (i > 0 && samples(i - 1).toLong * s < 0) crossings += 1
        i += 1
      }
      (rate, 16, samples.length.toLong,
        samples.length.toLong * 1000000L / rate, energy, crossings)
    }

  /** Audio decode over the media table: real WAV parse per record,
    * invalid payloads dropped (same mapPartitions shape as
    * [[decodeImages]] — bounded per-record work, payload never
    * survives past the stage).
    */
  def decodeAudio(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          parseWav(r.payload).map { case (sr, b, n, dur, en, zc) =>
            AudioFeatures(r.doc_id, sr, b, n, dur, en, zc)
          }
        }
      }
  }

  final case class VideoFrame(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, luma_sum: Long)

  /** Concatenated-P6 "video" stream parse: frames back-to-back, each a
    * complete binary PPM; per-frame integer luma sums (the
    * scene-analysis signal). None if any frame is malformed or the
    * payload has trailing garbage — a half-decodable video is not a
    * video. `maxFrames` bounds per-record work (one pathological
    * record can't skew a partition — the frameSample discipline).
    */
  def parsePpmStream(bytes: Array[Byte],
      maxFrames: Int = 64): Option[IndexedSeq[(Int, Int, Long)]] = {
    val out = IndexedSeq.newBuilder[(Int, Int, Long)]
    var off = 0
    var n = 0
    while (off < bytes.length) {
      if (n >= maxFrames) return None
      // offset-aware header parse: a pure pointer walk over the shared
      // buffer — no per-frame tail copy (ADVICE r7)
      parsePpmHeader(bytes, off) match {
        case None => return None
        case Some((w, h, _, pos)) => // pos is absolute in `bytes`
          var luma = 0L
          var q = 0
          val nPix = w * h
          while (q < nPix) {
            val i = pos + 3 * q
            luma += 299L * (bytes(i) & 0xff) + 587L * (bytes(i + 1) & 0xff) +
              114L * (bytes(i + 2) & 0xff)
            q += 1
          }
          out += ((w, h, luma))
          off = pos + 3 * nPix
          n += 1
      }
    }
    if (n == 0) None else Some(out.result())
  }

  /** Video decode stage: per-frame rows (same mapPartitions shape as
    * the other decoders; payload dropped after extraction).
    */
  def videoFrames(spark: SparkSession, media: DataFrame): Dataset[VideoFrame] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions(_.flatMap { r =>
        parsePpmStream(r.payload).toSeq.flatMap(_.zipWithIndex.map {
          case ((w, h, luma), i) => VideoFrame(r.doc_id, i, w, h, luma)
        })
      })
  }

  /** Synthetic video table: 3 + doc_id % 4 concatenated 4×3 P6 frames;
    * pixel byte i of frame f = (doc_id·31 + f²·17 + 7·i) mod 256 — a
    * pure function of doc_id, so the oracle replays per-frame luma
    * and scene cuts from the formula (the syntheticPpmTable recipe).
    */
  def syntheticVideoTable(docs: DataFrame): DataFrame = {
    val gen = udf { (docId: Long) =>
      val frames = 3 + (docId % 4).toInt
      val header = "P6\n4 3\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      (0 until frames).flatMap { f =>
        header ++ Array.tabulate(36)(i =>
          ((docId * 31 + f.toLong * f * 17 + 7L * i) % 256).toByte)
      }.toArray
    }
    docs.select(col("doc_id"), lit("video/x-ppm-stream").as("media_type"),
      gen(col("doc_id")).as("payload"))
  }

  final case class AudioHashRow(doc_id: Long, afp: Long)

  /** 64-bit audio fingerprint (the Haitsma–Kalker energy-delta family,
    * reduced to one band): frame the signal into 3-sample frames,
    * bit i = (frame-energy i > frame-energy i+1) over the first 65
    * frames (missing frames count as energy 0, so short clips get a
    * deterministic suffix). Exact integer energies — reproducible
    * bits, same dHash gradient-sign convention as [[ppmDHash]].
    * Pair via the generic [[Dedup.hammingPairs]] pigeonhole blocks.
    */
  def wavFingerprint(bytes: Array[Byte], frame: Int = 3): Option[Long] =
    wavSamples(bytes).map { case (_, samples) =>
      val e = Array.tabulate(65) { j =>
        var acc = 0L
        var i = j * frame
        val end = math.min(samples.length, (j + 1) * frame)
        while (i < end) { acc += samples(i).toLong * samples(i); i += 1 }
        acc
      }
      var fp = 0L
      var i = 0
      while (i < 64) {
        if (e(i) > e(i + 1)) fp |= 1L << i
        i += 1
      }
      fp
    }

  def audioFingerprints(spark: SparkSession, media: DataFrame): Dataset[AudioHashRow] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRecord]
      .mapPartitions(_.flatMap(r =>
        wavFingerprint(r.payload).map(AudioHashRow(r.doc_id, _))))
  }

  def syntheticPpmTable(docs: DataFrame): DataFrame = {
    val gen = udf { (docId: Long) =>
      val w = 4 + (docId % 5).toInt
      val h = 3 + (docId % 4).toInt
      val header =
        if (docId % 3 == 0) s"P6\n# synthetic $docId\n$w $h\n255\n"
        else s"P6\n$w $h\n255\n"
      val px = Array.tabulate(w * h * 3)(p => ((docId * 31 + 7L * p) % 256).toByte)
      header.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ px
    }
    docs.select(col("doc_id"),
      lit("image/x-portable-pixmap").as("media_type"),
      gen(col("doc_id")).as("payload"))
  }

  /** The `pyspark_pandas_decode` gate's exact input shape — one copy
    * shared with graft.Curves so the profiled plan can never
    * drift from the gate's plan (same discipline as
    * PySparkPrograms.pandasPpmDecodeTimed for the python source).
    */
  def writePpmMediaTable(docs: DataFrame, out: String): Unit =
    syntheticPpmTable(docs)
      .select("doc_id", "payload").coalesce(2).write.parquet(out)
}
