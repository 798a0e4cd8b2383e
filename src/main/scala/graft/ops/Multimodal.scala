package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star ExtOp): media as opaque
  * `binary` columns + typed metadata, decoded partition-wise.
  *
  * Three decode tiers, two of them REAL:
  *  - codec-free container formats parsed by hand (netpbm P4/P5/P6,
  *    PCM16 WAV) — pure byte arithmetic, see [[pnmDecode]] /
  *    [[wavDecode]];
  *  - REAL compressed-format codecs shipped inside the JDK itself
  *    (discovered present round 12): PNG (DEFLATE) and JPEG (DCT) via
  *    `javax.imageio`, G.711 mu-law companded audio via the
  *    `javax.sound.sampled` codec chain — see [[imageIoDecode]] /
  *    [[ulawWavDecode]];
  *  - formats with no in-JDK codec (MP3/Vorbis/H.264...) go through
  *    the clearly-marked deterministic stub ([[decodeStub]]); the
  *    plumbing around it — binary column handling, the typed metadata
  *    schema, the partition-wise batch-decode shape — is real and
  *    tested.
  *
  * Every per-row media operator (`*Partitions`, [[sampleFrames]])
  * reaches its decoder through ONE batch-decode shape, [[perMedia]].
  */
object Multimodal {

  /** The one batch-decode shape of the media operators: the
    * `(doc_id, media)` columns as a typed Dataset, each row mapped to
    * zero or more results inside `mapPartitions` — the Scala analog of
    * a Pandas `mapInPandas` batch UDF, where a real codec or model
    * amortizes per-partition setup (decoder/model init) across a whole
    * partition. Null media cells reach `f` as null. */
  private def perMedia[T: Encoder](df: DataFrame)
                                  (f: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap(f.tupled))
  }

  /** Mean of unsigned 8-bit samples: exact Long sum over the count. */
  private def meanU8(px: Array[Byte]): Double = {
    var sum = 0L
    var k = 0
    while (k < px.length) { sum += px(k) & 0xFF; k += 1 }
    sum.toDouble / px.length
  }

  /** Set bits of a P4 bitmap's packed rows; pad bits beyond `w` in
    * each row's last byte are masked out, per the netpbm spec. */
  private def pbmOnes(w: Int, h: Int, rows: Array[Byte]): Long = {
    val rowBytes = (w + 7) / 8
    var ones = 0L
    var r = 0
    while (r < h) {
      var b = 0
      while (b < rowBytes) {
        var v = rows(r * rowBytes + b) & 0xFF
        if (b == rowBytes - 1 && w % 8 != 0)
          v &= 0xFF << (8 - w % 8) // mask row-pad bits
        ones += Integer.bitCount(v)
        b += 1
      }
      r += 1
    }
    ones
  }

  /** Typed metadata a real decoder would emit. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int,
                       height: Int, fmt: String, checksum: String)

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** STUB decode for formats with no in-JDK codec (MP3 / Vorbis /
    * H.264...): a real implementation would hand the payload to an
    * external codec library here. The fake derives deterministic
    * "dimensions" from the payload size so the full pipeline is
    * exercisable and oracle-checkable. PNG/JPEG/GIF/BMP/TIFF and
    * G.711 mu-law do NOT need this stub — they decode for real via
    * [[imageIoDecode]] / [[ulawWavDecode]]. */
  def decodeStub(docId: Long, payload: Array[Byte]): MediaMeta = {
    val p = if (payload == null) Array.empty[Byte] else payload
    MediaMeta(
      doc_id = docId,
      n_bytes = p.length.toLong,
      width = 64 + (p.length % 512),
      // Long math: length * 31 overflows Int for payloads >= ~69 MB
      height = 64 + ((p.length.toLong * 31) % 384).toInt,
      fmt = "fake/raw",
      checksum = md5hex(p))
  }

  /** Attach an opaque binary media column (here: the utf-8 bytes of a
    * text column standing in for a real payload). */
  def withBinaryPayload(df: DataFrame, src: String, out: String): DataFrame =
    df.withColumn(out, encode(col(src), "UTF-8"))

  // ---------------------------------------------------------------
  // REAL decode for the codec-free netpbm binary pixmap (P6): pure
  // byte arithmetic, so no image library is needed. JPEG/PNG/audio
  // still go through the documented stub — this carves the honest
  // subset that CAN be real in this container out of the stub.
  // ---------------------------------------------------------------

  /** Encode a raw RGB buffer as a binary PPM (P6): ASCII header
    * `P6\n<w> <h>\n<maxval>\n` + w*h*3 raw samples. */
  def ppmEncode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    pnmEncode(s"P6\n$w $h\n255\n", w * h * 3, rgb)

  /** The netpbm encoders' one layout: ASCII `header`, then exactly `n`
    * raw sample bytes. */
  private def pnmEncode(header: String, n: Int, samples: Array[Byte]): Array[Byte] = {
    require(samples.length == n, s"need $n samples, got ${samples.length}")
    header.getBytes("US-ASCII") ++ samples
  }

  /** Parsed P6 image: real geometry plus the raw sample buffer. */
  final case class Ppm(width: Int, height: Int, pixels: Array[Byte])

  /** Parsed netpbm RAW image of any of the three binary formats:
    * `samples` holds w*h*3 rgb bytes (P6), w*h gray bytes (P5), or
    * MSB-first row-packed bits with each row padded to a byte
    * boundary (P4, per the netpbm spec). */
  final case class Pnm(format: String, width: Int, height: Int, samples: Array[Byte])

  /** REAL P6 parser (netpbm spec: whitespace-separated header tokens,
    * `#` comments allowed inside the header, single whitespace byte
    * after maxval, then w*h*3 raw samples). Returns None for anything
    * that is not a complete 8-bit P6 — callers route those to the
    * codec-backed path (here: the stub). */
  def ppmDecode(bytes: Array[Byte]): Option[Ppm] =
    pnmDecode(bytes).collect { case Pnm("P6", w, h, px) => Ppm(w, h, px) }

  /** REAL parser for any binary netpbm image (P4 bitmap / P5 graymap /
    * P6 pixmap) — the whole codec-free netpbm family, one header walk. */
  def pnmDecode(bytes: Array[Byte]): Option[Pnm] =
    pnmParseAt(bytes, 0).map(_._1)

  /** Parse one binary netpbm image starting at `offset`; returns the
    * image and the offset just past its sample buffer — the
    * demultiplexer step for concatenated-frame streams
    * ([[pnmFrames]]). P4 has no maxval token; P5/P6 must be 8-bit
    * (maxval <= 255). */
  private def pnmParseAt(bytes: Array[Byte], offset: Int): Option[(Pnm, Int)] = {
    // null media cells decode to None like any undecodable payload
    // (round-15 review: Spark does not null-short-circuit
    // reference-typed UDFs, so a NULL cell NPE'd the whole job here)
    if (bytes == null || bytes.length - offset < 2 || bytes(offset) != 'P') return None
    val fmt = bytes(offset + 1) match {
      case '4' => "P4"
      case '5' => "P5"
      case '6' => "P6"
      case _   => return None
    }
    var i = offset + 2
    def skipWs(): Unit = {
      var in = true
      while (in && i < bytes.length) {
        val b = bytes(i)
        if (b == ' ' || b == '\n' || b == '\r' || b == '\t') i += 1
        else if (b == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else in = false
      }
    }
    def num(): Int = {
      skipWs()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        // Long accumulate + early cap: a hostile digit bomb like
        // "4294967297" must reject, not wrap into a small plausible
        // dimension (the WAV chunk-walk overflow lesson)
        if (v <= Int.MaxValue) v = v * 10 + (bytes(i) - '0')
        i += 1
      }
      if (i == start || v > Int.MaxValue) -1 else v.toInt
    }
    val w = num(); val h = num()
    if (w <= 0 || h <= 0) return None
    if (fmt != "P4") {
      val maxv = num()
      if (maxv <= 0 || maxv > 255) return None
    }
    // exactly ONE whitespace byte separates the header from samples
    // (netpbm spec — never two: sample data may legitimately start
    // with 0x0A, so a CRLF-tolerant double-skip would corrupt valid
    // binaries). VERIFY the byte is whitespace before skipping
    // (round-15 review: a separator-less payload previously had a
    // real sample consumed as the separator, silently shifting every
    // pixel) — anything else is malformed and rejects.
    if (i >= bytes.length ||
        !(bytes(i) == ' ' || bytes(i) == '\n' || bytes(i) == '\r' || bytes(i) == '\t'))
      return None
    i += 1
    val n: Long = fmt match {
      case "P6" => w.toLong * h * 3
      case "P5" => w.toLong * h
      // P4: packed bits, row-padded. w + 7 in LONG space: num() admits
      // w up to Int.MaxValue, so an Int `w + 7` wraps negative for
      // w >= 2147483641 and a hostile header would crash the copy
      // instead of falling through to the bounds reject below.
      case _    => ((w.toLong + 7) / 8) * h
    }
    if (n > Int.MaxValue || i.toLong + n > bytes.length) return None
    Some((Pnm(fmt, w, h, java.util.Arrays.copyOfRange(bytes, i, i + n.toInt)), i + n.toInt))
  }

  /** REAL frame demultiplexer for a concatenated-P6 stream (the
    * codec-free stand-in for a video container): the [[pnmFrames]]
    * walk, ended by the first frame that is not P6; trailing bytes
    * that do not start a valid frame end it too (a real demuxer would
    * surface the error — here partial streams just truncate). */
  def ppmFrames(bytes: Array[Byte]): Vector[Ppm] =
    pnmFrames(bytes).takeWhile(_.format == "P6").map(p => Ppm(p.width, p.height, p.samples))

  /** Encode a raw grayscale buffer as a binary PGM (P5): ASCII header
    * + w*h raw samples. */
  def pgmEncode(w: Int, h: Int, gray: Array[Byte]): Array[Byte] =
    pnmEncode(s"P5\n$w $h\n255\n", w * h, gray)

  /** Encode row-packed bits as a binary PBM (P4): ASCII header +
    * ceil(w/8)*h packed bytes (MSB-first rows, already padded). */
  def pbmEncode(w: Int, h: Int, packed: Array[Byte]): Array[Byte] =
    pnmEncode(s"P4\n$w $h\n", ((w + 7) / 8) * h, packed)

  /** REAL frame demultiplexer for a concatenated netpbm stream whose
    * frames may MIX the binary formats (P4/P5/P6) — strictly more
    * container-walk than [[ppmFrames]]: each frame's format is read
    * from its own magic, its buffer length follows from its own
    * header. Trailing bytes that do not start a valid frame end the
    * walk. */
  def pnmFrames(bytes: Array[Byte]): Vector[Pnm] = {
    if (bytes == null) return Vector.empty
    val out = Vector.newBuilder[Pnm]
    var offset = 0
    var going = true
    while (going && offset < bytes.length) {
      pnmParseAt(bytes, offset) match {
        case Some((p, next)) => out += p; offset = next
        case None => going = false
      }
    }
    out.result()
  }

  /** One demuxed frame's real facts: geometry + mean sample read off
    * that frame's own buffer. */
  case class PpmFrame(doc_id: Long, frame_idx: Int, width: Int, height: Int,
                      mean_px: Double)

  /** Partition-wise REAL frame demux + per-frame decode — the 1→N
    * generator shape of [[sampleFrames]] with an actual container
    * walk instead of fixed-size byte chunks. */
  def ppmFramesPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[PpmFrame] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      ppmFrames(bytes).iterator.zipWithIndex.map { case (p, idx) =>
        PpmFrame(id, idx, p.width, p.height, meanU8(p.pixels))
      }
    }
  }

  /** Decoded-for-real P6 or P5 metadata: true parsed geometry and the
    * mean raw sample value — evidence the pixel buffer was actually
    * read, not inferred from the byte count. */
  case class PpmMeta(doc_id: Long, width: Int, height: Int, n_bytes: Long,
                     mean_px: Double)

  /** Partition-wise REAL P6 decode (same batch shape as
    * [[decodePartitions]]); non-P6 payloads are dropped — a production
    * pipeline would route them to the codec decoder instead. */
  def decodePpmPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[PpmMeta] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      ppmDecode(bytes).map { p =>
        PpmMeta(id, p.width, p.height, bytes.length.toLong, meanU8(p.pixels))
      }
    }
  }

  /** Partition-wise REAL P5 (grayscale) decode: parsed geometry + the
    * mean gray sample read off the actual buffer; non-P5 payloads drop
    * to the codec path. */
  def decodePgmPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[PpmMeta] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      pnmDecode(bytes).collect { case Pnm("P5", w, h, px) =>
        PpmMeta(id, w, h, bytes.length.toLong, meanU8(px))
      }
    }
  }

  /** Decoded-for-real P4 metadata: parsed geometry + the SET-BIT count
    * popcounted off the actual packed rows (`ones_ratio` = ones over
    * w*h — exact-int/exact-int, so cross-engine bit-identical). */
  case class PbmMeta(doc_id: Long, width: Int, height: Int, n_ones: Long,
                     ones_ratio: Double)

  /** Partition-wise REAL P4 (bitmap) decode; honest about row padding
    * — pad bits beyond `w` in each packed row are masked out of the
    * popcount, per the netpbm spec. */
  def decodePbmPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[PbmMeta] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      pnmDecode(bytes).collect { case Pnm("P4", w, h, rows) =>
        val ones = pbmOnes(w, h, rows)
        PbmMeta(id, w, h, ones, ones.toDouble / (w.toLong * h))
      }
    }
  }

  /** One demuxed frame's real facts: its own format tag, geometry,
    * and mean sample (P5/P6 and GIF: mean byte or luma; P4: mean BIT —
    * the ink ratio). */
  case class PnmFrame(doc_id: Long, frame_idx: Int, format: String,
                      width: Int, height: Int, mean_px: Double)

  /** Partition-wise REAL mixed-format frame demux + per-frame decode:
    * the [[ppmFramesPartitions]] shape over [[pnmFrames]], so one
    * container can interleave P4/P5/P6 frames and each row reports
    * facts read from its own frame's buffer. */
  def pnmFramesPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[PnmFrame] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      pnmFrames(bytes).iterator.zipWithIndex.map { case (p, idx) =>
        val mean = p.format match {
          case "P4" => pbmOnes(p.width, p.height, p.samples).toDouble / (p.width.toLong * p.height)
          case _    => meanU8(p.samples)
        }
        PnmFrame(id, idx, p.format, p.width, p.height, mean)
      }
    }
  }

  /** REAL nearest-neighbor resize of a P6 image: sample the source
    * pixel grid at the target raster, re-encode as P6. Pure index
    * arithmetic — the scaling kernel a real pipeline would hand to an
    * image library, runnable without one. */
  def ppmResize(p: Ppm, targetW: Int, targetH: Int): Array[Byte] = {
    require(targetW > 0 && targetH > 0)
    val out = new Array[Byte](targetW * targetH * 3)
    var y = 0
    while (y < targetH) {
      val sy = (y.toLong * p.height / targetH).toInt
      var x = 0
      while (x < targetW) {
        val sx = (x.toLong * p.width / targetW).toInt
        val src = (sy * p.width + sx) * 3
        val dst = (y * targetW + x) * 3
        out(dst) = p.pixels(src)
        out(dst + 1) = p.pixels(src + 1)
        out(dst + 2) = p.pixels(src + 2)
        x += 1
      }
      y += 1
    }
    ppmEncode(targetW, targetH, out)
  }

  /** Partition-wise REAL resize over P6 payloads: decode, NN-resample,
    * re-encode; emits the re-encoded byte size (now a true fact about
    * an actual output buffer, unlike the stub's implied size). */
  def resizePpmPartitions(df: DataFrame, targetW: Int, targetH: Int)
                         (implicit s: SparkSession): Dataset[ResizedMeta] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      ppmDecode(bytes).map { p =>
        ResizedMeta(id, targetW, targetH, ppmResize(p, targetW, targetH).length.toLong)
      }
    }
  }

  // ---------------------------------------------------------------
  // REAL decode for canonical PCM16 WAV — like P6, pure byte
  // arithmetic (RIFF chunk walk + little-endian samples), no codec.
  // ---------------------------------------------------------------

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** `n` little-endian signed 16-bit samples starting at `off`. */
  private def pcm16(b: Array[Byte], off: Int, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var k = 0
    while (k < n) { out(k) = le16(b, off + 2 * k).toShort; k += 1 }
    out
  }

  /** The RIFF/WAVE container magic both audio tiers require. */
  private def isRiffWave(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Parsed PCM16 WAV: format facts + the raw sample values. */
  final case class Wav(sampleRate: Int, channels: Int, samples: Array[Short])

  /** Encode mono/stereo PCM16 samples as a canonical 44-byte-header
    * RIFF/WAVE file. */
  def wavEncode(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0)
    val out = riffWave(1, sampleRate, channels, 2, samples.length * 2) // PCM
    samples.foreach(out.putShort)
    out.array()
  }

  /** A canonical 44-byte RIFF/WAVE header (one `fmt ` chunk, then the
    * `data` chunk header) in a little-endian buffer with room for the
    * `dataLen` sample bytes the caller puts next. */
  private def riffWave(fmtCode: Int, sampleRate: Int, channels: Int,
                       bytesPerSample: Int, dataLen: Int): java.nio.ByteBuffer =
    java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(fmtCode.toShort)
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * bytesPerSample) // byte rate
      .putShort((channels * bytesPerSample).toShort)  // block align
      .putShort((8 * bytesPerSample).toShort)         // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)

  /** REAL RIFF/WAVE parser: walks the chunk list (word-aligned sizes
    * per the RIFF spec — odd chunks carry a pad byte), requires a PCM
    * (format 1) 16-bit `fmt ` chunk before `data`, reads little-endian
    * samples. None for anything else — a compressed or 24-bit file
    * needs a real audio library and routes to the stub path. */
  def wavDecode(bytes: Array[Byte]): Option[Wav] = {
    if (!isRiffWave(bytes) || bytes.length < 44) return None
    // cursor and chunk sizes in LONG: RIFF sizes are unsigned 32-bit,
    // and a crafted size near Int.MaxValue overflows the Int bounds
    // check negative — the walk then indexes past the buffer and a
    // hostile payload fails the whole task instead of dropping to None
    var i = 12L
    var rate = -1
    var channels = -1
    var ok16Pcm = false
    while (i + 8 <= bytes.length) {
      val off = i.toInt
      val id = new String(bytes, off, 4, "US-ASCII")
      val size = le32(bytes, off + 4).toLong & 0xFFFFFFFFL
      if (i + 8 + size > bytes.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          val fmt = le16(bytes, off + 8)
          channels = le16(bytes, off + 10)
          rate = le32(bytes, off + 12)
          val bits = le16(bytes, off + 22)
          ok16Pcm = fmt == 1 && bits == 16 && channels >= 1 && rate > 0
        case "data" =>
          if (!ok16Pcm) return None // fmt must precede data, and be PCM16
          if (size % 2 != 0) return None
          return Some(Wav(rate, channels, pcm16(bytes, off + 8, (size / 2).toInt)))
        case _ => () // skip unknown chunks (LIST, fact, ...)
      }
      i += 8 + size + (size % 2) // RIFF word alignment
    }
    None
  }

  /** Decoded-for-real audio metadata (PCM16 or mu-law): format facts
    * plus the mean sample value read off the actual (expanded) PCM
    * buffer. */
  case class WavMeta(doc_id: Long, sample_rate: Int, channels: Int,
                     n_samples: Long, n_bytes: Long, mean_sample: Double)

  /** Partition-wise REAL WAV decode (non-PCM16 payloads drop — they
    * belong to the codec path). */
  def decodeWavPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[WavMeta] =
    audioMeta(df)(wavDecode)

  /** The audio decode tiers' shared row: `decode` each payload, then
    * the signed-16 mean off its samples. A header-only recording (zero
    * samples) drops with the undecodables — 0/0 would emit a NaN mean
    * that poisons any downstream aggregate. */
  private def audioMeta(df: DataFrame)(decode: Array[Byte] => Option[Wav])
                       (implicit s: SparkSession): Dataset[WavMeta] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      decode(bytes).filter(_.samples.nonEmpty).map { w =>
        var sum = 0L
        var k = 0
        while (k < w.samples.length) { sum += w.samples(k); k += 1 }
        WavMeta(id, w.sampleRate, w.channels, w.samples.length.toLong,
          bytes.length.toLong, sum.toDouble / w.samples.length)
      }
    }
  }

  /** Partition-wise batch decode through the stub: one decoder per
    * partition, rows streamed through it ([[perMedia]]). Input must
    * have (doc_id: Long, media: binary). */
  def decodePartitions(df: DataFrame)(implicit s: SparkSession): Dataset[MediaMeta] = {
    import s.implicits._
    perMedia(df)((id, bytes) => Iterator.single(decodeStub(id, bytes)))
  }

  /** Resized "image" metadata. A real implementation decodes, scales,
    * re-encodes; the stub emits the target geometry and the fake
    * RGB-buffer size it implies — the relational surface is real. */
  case class ResizedMeta(doc_id: Long, out_w: Int, out_h: Int, n_bytes_out: Long)

  /** Partition-wise batch resize (STUB scaling kernel). */
  def resizePartitions(df: DataFrame, targetW: Int, targetH: Int)
                      (implicit s: SparkSession): Dataset[ResizedMeta] = {
    import s.implicits._
    perMedia(df) { (id, _) =>
      Iterator.single(ResizedMeta(id, targetW, targetH, targetW.toLong * targetH * 3))
    }
  }

  /** One sampled "frame" of a media payload: the 1→N generator shape
    * (video frame-sampling). frame_len is the byte length of the
    * chunk; a real decoder would emit decoded frame tensors. */
  case class Frame(doc_id: Long, frame_idx: Int, frame_len: Int, checksum: String)

  /** Frame sampling: split each payload into fixed-size chunks
    * ("frames") and emit every `stride`-th one — an iterator per row
    * inside [[perMedia]], so the fan-out streams without materializing
    * per-document frame lists. */
  def sampleFrames(df: DataFrame, frameBytes: Int = 256, stride: Int = 1)
                  (implicit s: SparkSession): Dataset[Frame] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      val nFrames = (bytes.length + frameBytes - 1) / frameBytes
      (0 until nFrames by stride).iterator.map { i =>
        val chunk = bytes.slice(i * frameBytes, math.min((i + 1) * frameBytes, bytes.length))
        Frame(id, i, chunk.length, md5hex(chunk))
      }
    }
  }

  /** 64-bit AVERAGE HASH (aHash — the classic perceptual image hash)
    * of a decoded 8-bit P5/P6 image: integer luma per pixel (P6:
    * r+g+b; P5: the sample), an 8x8 grid of block sums with
    * floor(i*dim/8) boundaries, bit (gy*8+gx) set iff the block mean
    * exceeds the global mean — compared by exact integer
    * cross-multiplication (blockSum * totalPx > totalSum * blockPx),
    * no floats anywhere, so the hash is bit-deterministic across JVMs
    * and engines. Visually-identical images hash equal; small edits
    * flip few bits, so near-duplicate detection is a small-radius
    * Hamming search. Routes by payload: netpbm P5/P6 through the
    * codec-free parser, codec formats (PNG/JPEG/GIF/BMP/TIFF)
    * through the in-JDK ImageIO decoders (round 12). None for P4
    * bitmaps, unclaimed payloads, or images smaller than the 8x8
    * grid. */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    pnmDecode(bytes) match {
      case Some(img) =>
        img.format match {
          case "P5" | "P6" =>
            val ch = if (img.format == "P6") 3 else 1
            aHashFromLuma(img.width, img.height, (x, y) => {
              var luma = 0
              var c = 0
              val base = (y * img.width + x) * ch
              while (c < ch) { luma += img.samples(base + c) & 0xFF; c += 1 }
              luma
            })
          case _ => None // P4 bitmap: no gray scale to block-average
        }
      case None =>
        // codec formats (PNG/JPEG/GIF/BMP/TIFF) hash through the
        // in-JDK decoders; luma = r+g+b via getRGB, which resolves
        // palette indices to colors (a raw raster walk on an indexed
        // GIF would hash palette INDEX patterns). The block compare
        // is scale-invariant, so 3x-gray and 1x-gray lumas hash a
        // given image identically.
        imageIoRead(bytes).flatMap { img =>
          // row-cached bulk getRGB: aHashFromLuma walks strictly
          // row-major, so one bulk conversion per row replaces a
          // per-pixel getRGB (the hot loop of every streamed hash)
          val w = img.getWidth
          val rowBuf = new Array[Int](w)
          var cachedY = -1
          aHashFromLuma(w, img.getHeight, (x, y) => {
            if (y != cachedY) { img.getRGB(0, y, w, 1, rowBuf, 0, w); cachedY = y }
            val rgb = rowBuf(x)
            ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
          })
        }
    }

  /** The shared aHash block fold over any integer luma grid: 8x8
    * blocks with floor boundaries, bit set iff the block mean exceeds
    * the global mean by exact integer cross-multiplication — no
    * floats, so bit-deterministic across JVMs and engines. */
  private def aHashFromLuma(w: Int, h: Int, lumaAt: (Int, Int) => Int): Option[Long] = {
    if (w < 8 || h < 8) None
    else {
      val blockSum = new Array[Long](64)
      val blockPx = new Array[Long](64)
      var totalSum = 0L
      var y = 0
      while (y < h) {
        val gy = y * 8 / h
        var x = 0
        while (x < w) {
          val gx = x * 8 / w
          val luma = lumaAt(x, y)
          val b = gy * 8 + gx
          blockSum(b) += luma
          blockPx(b) += 1
          totalSum += luma
          x += 1
        }
        y += 1
      }
      val totalPx = w.toLong * h
      var hash = 0L
      var b = 0
      while (b < 64) {
        // BigInt: blockSum*totalPx reaches ~1e22 on a ~2e9-pixel
        // image (the parsers admit up to Int.MaxValue samples), past
        // Long — a wrapped product would silently flip hash bits.
        // 64 BigInt compares per image is noise next to the decode.
        if (BigInt(blockSum(b)) * totalPx > BigInt(totalSum) * blockPx(b))
          hash |= (1L << b)
        b += 1
      }
      Some(hash)
    }
  }

  /** Split a 64-bit hash into `bands` contiguous bit-bands (the
    * pigeonhole index for Hamming search: two hashes within Hamming
    * distance `bands - 1` MUST agree on at least one whole band).
    * Band j carries its index in the high bits so distinct bands
    * never collide in the join key. */
  private[graft] def hammingBands(hash: Long, bands: Int): Array[Long] = {
    val base = 64 / bands
    val rem = 64 % bands
    val out = new Array[Long](bands)
    var start = 0
    var j = 0
    while (j < bands) {
      val width = base + (if (j < rem) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      out(j) = (j.toLong << 58) | ((hash >>> start) & mask)
      start += width
      j += 1
    }
    out
  }

  /** 64-bit audio fingerprint of a decoded PCM16 WAV: the sign pattern
    * of successive ENERGY DELTAS — mixed-down samples split into 65
    * equal windows (floor boundaries), bit i set iff window i+1's mean
    * absolute amplitude exceeds window i's (integer-exact
    * cross-multiplication, like [[aHash64]]). The shape of the
    * loudness envelope, not its level — the chromaprint idea reduced
    * to its codec-free core. Routes by payload (round 12): PCM16 WAV
    * through the codec-free chunk walk, mu-law WAV through the JDK's
    * G.711 expansion ([[ulawWavDecode]]) — identical companded clips
    * fingerprint identically, so compressed audio joins the same
    * dedup/probe space. None for payloads neither tier claims or
    * clips shorter than 65 frames. */
  def audioFingerprint64(bytes: Array[Byte]): Option[Long] =
    wavDecode(bytes).orElse(ulawWavDecode(bytes)).flatMap { wav =>
      val ch = wav.channels
      val nFrames = wav.samples.length / ch
      if (nFrames < 65) None
      else {
        val sums = new Array[Long](65)
        val cnts = new Array[Long](65)
        var f = 0
        while (f < nFrames) {
          // Long: f * 65 wraps Int past ~33M frames (a 66 MB clip) —
          // a negative window index would throw on a big hostile WAV
          val w = (f.toLong * 65 / nFrames).toInt
          var c = 0
          var amp = 0L
          while (c < ch) { amp += math.abs(wav.samples(f * ch + c).toLong); c += 1 }
          sums(w) += amp
          cnts(w) += 1
          f += 1
        }
        var hash = 0L
        var i = 0
        while (i < 64) {
          // BigInt for the same reason as [[aHash64]]: window sums on
          // a multi-GB clip push the cross-product past Long
          if (BigInt(sums(i + 1)) * cnts(i) > BigInt(sums(i)) * cnts(i + 1))
            hash |= (1L << i)
          i += 1
        }
        Some(hash)
      }
    }

  /** Image NEAR-DUP pairs by perceptual hash: decode + [[aHash64]]
    * scan-local (at production scale the hash is an ingest-time column
    * persisted with the table, like the minhash band signatures), then
    * the generic [[hammingNearDups]] join. */
  def imageNearDups(df: DataFrame, id: String, media: String,
                    maxHamming: Int = 3): DataFrame =
    hammingNearDups(df, id, media, udf((b: Array[Byte]) => aHash64(b)),
      maxHamming, "image_ahash_candidates")

  /** Audio NEAR-DUP pairs by the loudness-envelope fingerprint — the
    * same multi-index Hamming machinery over [[audioFingerprint64]]. */
  def audioNearDups(df: DataFrame, id: String, media: String,
                    maxHamming: Int = 3): DataFrame =
    hammingNearDups(df, id, media, udf((b: Array[Byte]) => audioFingerprint64(b)),
      maxHamming, "audio_fp_candidates")

  /** The media-column wrapper of [[hammingNearDupsOnHashes]]: decode +
    * hash scan-local, eager-checkpoint the tiny (id, hash) relation so
    * neither the self-join's two sides nor the two rescore joins
    * re-decode the corpus. */
  private def hammingNearDups(df: DataFrame, id: String, media: String,
                              hashU: UserDefinedFunction,
                              maxHamming: Int, candMetric: String): DataFrame =
    hammingNearDupsOnHashes(hashedCorpus(df, id, media, hashU), maxHamming, candMetric)

  /** The `(__id, __ah)` hash relation of a media corpus or of a probe
    * batch ([[hammingProbe]]): hashed scan-local, unhashable rows
    * dropped, eager-checkpointed so no later join re-decodes the media. */
  private def hashedCorpus(df: DataFrame, id: String, media: String,
                           hashU: UserDefinedFunction): DataFrame =
    df.select(col(id).as("__id"), hashU(col(media)).as("__ah"))
      .filter(col("__ah").isNotNull)
      .localCheckpoint(true)

  /** [[hammingProbe]] for images: both sides hashed by [[aHash64]]
    * inline (one-shot form — repeated probes against the same corpus
    * should hash it once and reuse, the index-build pattern). Both
    * sides MUST share the hash space: an aHash64 probe against
    * audio-fingerprint hashes would join to nothing, silently (use
    * [[audioProbe]] for audio). */
  def imageProbe(corpus: DataFrame, probes: DataFrame, id: String,
                 media: String, maxHamming: Int = 3): DataFrame =
    hammingProbe(corpus, probes, id, media, maxHamming, udf((b: Array[Byte]) => aHash64(b)))

  /** [[hammingProbe]] for audio: both sides fingerprinted by the
    * loudness-envelope hash ([[audioFingerprint64]]). */
  def audioProbe(corpus: DataFrame, probes: DataFrame, id: String,
                 media: String, maxHamming: Int = 3): DataFrame =
    hammingProbe(corpus, probes, id, media, maxHamming,
      udf((b: Array[Byte]) => audioFingerprint64(b)))

  /** One-sided Hamming PROBE — the incremental-ingest shape of media
    * dedup: match a (small) batch of NEW items against the EXISTING
    * corpus without re-pairing the corpus with itself. Both sides hash
    * scan-local with the SAME `hashU` (the signature-parameter lesson:
    * mismatched hash spaces join to nothing, silently), explode into
    * the same pigeonhole bands, and the probes join the corpus's
    * banded relation one-way; the exact `bit_count` rescore keeps
    * matches within the radius. The corpus side is pruned to the
    * probe's band keys before its one band-key shuffle
    * ([[Bands.probeJoin]]); output is (probe_id, dup_id, hamming), one
    * row per within-radius corpus match. */
  private def hammingProbe(corpus: DataFrame, probes: DataFrame, id: String,
                           media: String, maxHamming: Int,
                           hashU: UserDefinedFunction): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming in [0, 32)")
    val corpusHashes = hashedCorpus(corpus, id, media, hashU)
    val ph = hashedCorpus(probes, id, media, hashU)
      .select(col("__id").as("probe_id"), col("__ah").as("__ph"))
    // both hashes ride through the band join as payload, so the exact
    // rescore needs no join back to either side
    val dups = corpusHashes.select(col("__id").as("dup_id"), col("__ah"))
    Bands.probeJoin(hammingBanded(ph, "__ph", maxHamming),
        hammingBanded(dups, "__ah", maxHamming))
      .withColumn("hamming", bit_count(col("__ph").bitwiseXOR(col("__ah"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("probe_id"), col("dup_id"), col("hamming"))
  }

  /** `df` with its 64-bit `hash` column split into the maxHamming+1
    * pigeonhole bit-bands ([[hammingBands]]) as [[Bands]] rows
    * `(__band, __key)`, one per band. */
  private[graft] def hammingBanded(df: DataFrame, hash: String,
                                   maxHamming: Int): DataFrame = {
    val bandsU = udf((h: Long) => hammingBands(h, maxHamming + 1))
    df.select(col("*"), posexplode(bandsU(col(hash))).as(Seq("__band", "__key")))
  }

  /** The shared multi-index Hamming join over any 64-bit perceptual
    * hash relation `(__id, __ah)` — at production scale the hash IS a
    * persisted ingest-time column, so this is the serving-path entry
    * (the streaming store reader calls it directly): hashes split into
    * maxHamming+1 bit-bands, candidates collide on an exact band
    * (pigeonhole: a pair within the radius must agree on a whole
    * band — guaranteed recall, same contract as the text/embedding
    * tiers), and the exact `bit_count(xor)` rescore keeps pairs within
    * the radius. Shuffles: the band-keyed self-join and the two
    * id-keyed hash joins — no all-pairs anywhere; candidate volume is
    * logged to [[graft.Metrics]] under `candMetric`. */
  private[graft] def hammingNearDupsOnHashes(hashed: DataFrame, maxHamming: Int,
                                             candMetric: String): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming in [0, 32)")
    val (cand, candRows) = graft.Metrics.counted(
      Bands.selfJoin(hammingBanded(hashed, "__ah", maxHamming), "__id"))
    graft.Metrics.record(candMetric, candRows)
    cand
      .join(hashed.select(col("__id").as("id_a"), col("__ah").as("__ha")), Seq("id_a"))
      .join(hashed.select(col("__id").as("id_b"), col("__ah").as("__hb")), Seq("id_b"))
      .withColumn("hamming", bit_count(col("__ha").bitwiseXOR(col("__hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------------------------------------------------------------
  // REAL codec decode via the JDK's OWN codecs — no external library.
  // javax.imageio ships PNG (DEFLATE), JPEG (DCT), GIF, BMP, TIFF
  // readers/writers, and javax.sound.sampled ships a G.711 mu-law <->
  // PCM codec chain; both run headless. This tier closes the
  // previously environment-blocked "compressed format" gap: only
  // formats with no in-JDK codec (MP3/Vorbis/H.264) remain on the
  // stub. PNG is byte-lossless (exact-mean oracles hold); JPEG is
  // lossy (geometry exact, sample facts hold within a measured
  // bound); the JDK's mu-law table matches the G.711 closed form
  // bit-for-bit on all 256 codes (pinned in IngestSpec), so mu-law
  // decode is exactly oracle-able.
  // ---------------------------------------------------------------

  // ImageIO's default read path spools through a temp-FILE cache; 32
  // executor threads doing per-row decodes must stay in-memory
  private lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Hostile-dimensions budget for the ImageIO tier: a ~100-byte
    * payload can DECLARE a multi-gigapixel image in its header, and
    * `reader.read` would allocate the raster before seeing any pixel
    * data — an uncatchable OutOfMemoryError, violating the tier's
    * hostile-payload-drops-to-None contract (the pnmDecode lesson,
    * codec side). Dimensions are read header-only and gated BEFORE
    * the decode allocates. 64M px ~= 256 MB at 4 bytes/px — but the
    * pixel count alone under-gates wide formats the JDK admits (a
    * 16-bit RGBA TIFF is 8 B/px, so 64M px would demand ~512 MB per
    * decode, several-fold worse across 32 concurrent executor
    * threads), so a BYTE budget derived from the reader's own
    * declared sample model backs the pixel cap. */
  private val MaxDecodePixels = 1L << 26

  /** Raster BYTE budget per decode (256 MB): pixel-count x the
    * reader-declared bytes-per-pixel must stay under it, so an 8 B/px
    * format gets half the pixel allowance of a 4 B/px one. */
  private val MaxDecodeBytes = 1L << 28

  /** Bytes-per-pixel the decode will actually allocate, from the
    * reader's raw image type (falling back to its first supported
    * type). 4 when the reader declares nothing readable — the
    * historical 4 B/px assumption, kept conservative rather than
    * letting an undeclared type bypass the byte budget. */
  private def declaredBytesPerPixel(reader: javax.imageio.ImageReader,
                                    idx: Int): Long =
    try {
      val spec = Option(reader.getRawImageType(idx)).orElse {
        val its = reader.getImageTypes(idx)
        if (its.hasNext) Some(its.next()) else None
      }
      spec.map { t =>
        val sm = t.getSampleModel
        val bitsPerSample =
          java.awt.image.DataBuffer.getDataTypeSize(sm.getDataType)
        math.max(1L, sm.getNumBands.toLong * ((bitsPerSample + 7) / 8))
      }.getOrElse(4L)
    } catch { case _: java.io.IOException | _: RuntimeException => 4L }

  /** Cheap magic-byte sniff for the formats this tier serves (the
    * in-JDK codecs: PNG / JPEG / GIF / BMP / TIFF) — the registry
    * probe (ImageInputStream construction + reader iteration) runs
    * per payload in the hot streaming hash loops, so junk and
    * cross-media rows reject on a 4-byte compare instead. The five
    * signatures ARE the tier's documented contract (header comment
    * above), so the prefilter narrows nothing the tier claims. That
    * contract is FIRM (round-13 advice adjudication): magic-less
    * formats the raw registry could decode — WBMP is the in-JDK case,
    * its header indistinguishable from junk at sniff depth — return
    * None by design, and IngestSpec pins exactly that, so the
    * narrowing is deliberate, tested behavior, not an accident of the
    * signature list. */
  private[graft] def hasImageMagic(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && {
      val b0 = bytes(0) & 0xFF
      val b1 = bytes(1) & 0xFF
      (b0 == 0x89 && b1 == 'P') ||                               // PNG
      (b0 == 0xFF && b1 == 0xD8) ||                              // JPEG SOI
      (b0 == 'G' && b1 == 'I' && bytes(2) == 'F') ||             // GIF
      (b0 == 'B' && b1 == 'M') ||                                // BMP
      (b0 == 'I' && b1 == 'I' &&
        (bytes(2) & 0xFF) == 0x2A && bytes(3) == 0) ||           // TIFF LE
      (b0 == 'M' && b1 == 'M' &&
        bytes(2) == 0 && (bytes(3) & 0xFF) == 0x2A)              // TIFF BE
    }

  /** Shared reader lifecycle for the ImageIO tier (magic-byte
    * prefilter, then sniff via the registry probe, dispose/close on
    * every path, hostile payloads drop to None — one copy of the
    * subtle part, serving [[imageIoDecode]]/[[imageIoRead]]/
    * [[gifFrames]]). */
  private def withImageReader[T](bytes: Array[Byte])
                                (f: javax.imageio.ImageReader => Option[T]): Option[T] = {
    if (!hasImageMagic(bytes)) return None
    imageIoNoCache
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis)
          f(reader)
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: java.io.IOException | _: RuntimeException => None }
  }

  /** Header-only dimension check, then decode image `idx` — the
    * [[MaxDecodePixels]] gate applied before the raster exists. */
  private def guardedRead(reader: javax.imageio.ImageReader,
                          idx: Int): Option[java.awt.image.BufferedImage] = {
    val w = reader.getWidth(idx)
    val h = reader.getHeight(idx)
    if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels ||
        w.toLong * h * declaredBytesPerPixel(reader, idx) > MaxDecodeBytes) None
    else Some(reader.read(idx))
  }

  /** Encode a raw BGR sample buffer (w*h*3 bytes, the TYPE_3BYTE_BGR
    * raster layout) through a REAL ImageIO codec — `"png"` (DEFLATE,
    * lossless) or `"jpg"` (JPEG DCT, lossy). JPEG compression quality
    * is pinned EXPLICITLY at 0.75 rather than inherited from the
    * writer default: the lossy-decode oracles' error bound was
    * measured against this quality, and an implicit default could
    * drift under a JDK upgrade and flip the bound gate without any
    * code change (0.75 IS the current default, so pinning changes no
    * bytes today — it freezes the measured contract). */
  def imageIoEncode(fmt: String, w: Int, h: Int, bgr: Array[Byte]): Array[Byte] = {
    require(bgr.length == w * h * 3, s"need ${w * h * 3} samples, got ${bgr.length}")
    imageIoNoCache
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    System.arraycopy(bgr, 0, data, 0, bgr.length)
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
    require(writers.hasNext, s"no ImageIO writer for $fmt")
    val writer = writers.next()
    val out = new java.io.ByteArrayOutputStream()
    try {
      val param = writer.getDefaultWriteParam
      if (fmt.toLowerCase(java.util.Locale.ROOT).startsWith("jp")) {
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionQuality(0.75f)
      }
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally ios.close()
    } finally writer.dispose()
    out.toByteArray
  }

  /** Decoded-through-a-real-codec image: the sniffed container format
    * (lower-case, e.g. "png"/"jpeg"), true geometry, and the exact
    * integer sum/count of every raster sample (all bands) — the facts
    * a mean is derived from without any float accumulation. */
  final case class CodecImage(format: String, width: Int, height: Int,
                              sampleSum: Long, nSamples: Long)

  /** REAL image decode via ImageIO: prefilter on the tier's five
    * container magics ([[hasImageMagic]]), sniff via the reader
    * registry's `canDecodeInput` probe, decode through the matching
    * codec (PNG inflate, JPEG IDCT, ...), then walk the decoded
    * raster. None for payloads outside the tier's PNG/JPEG/GIF/BMP/
    * TIFF contract (netpbm routes to [[pnmDecode]]; magic-less
    * formats a JDK plugin might claim, e.g. WBMP, are deliberately
    * outside the contract) or that fail to decode. */
  def imageIoDecode(bytes: Array[Byte]): Option[CodecImage] =
    if (bytes == null) None
    else withImageReader(bytes) { reader =>
      // Locale.ROOT: a Turkish default locale lower-cases "GIF"/"TIFF"
      // with dotless i and every format compare goes quietly blind
      val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
      guardedRead(reader, 0).map { img =>
        val ras = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, ras.getNumBands)
        // bulk row reads: one getPixels call per row (same integer
        // sample values as per-pixel getSample, one bounds/conversion
        // pass per row instead of per sample — this loop is the
        // bench-timed inner cost of the decode keys)
        val row = new Array[Int](w * bands)
        var sum = 0L
        var y = 0
        while (y < h) {
          ras.getPixels(0, y, w, 1, row)
          var i = 0
          while (i < row.length) { sum += row(i); i += 1 }
          y += 1
        }
        CodecImage(fmt, w, h, sum, w.toLong * h * bands)
      }
    }

  /** First-image read through the in-JDK codec claiming the byte
    * stream (within the tier's five-format magic contract); None when
    * the prefilter/registry rejects it or the decode fails — the
    * [[aHash64]] routing hook for codec-format payloads. */
  private def imageIoRead(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    withImageReader(bytes)(guardedRead(_, 0))

  /** Decoded-through-a-real-codec image metadata: sniffed format,
    * true geometry, and the mean raster sample — evidence the
    * compressed buffer was actually inflated/IDCT'd and read. */
  case class CodecImageMeta(doc_id: Long, format: String, width: Int,
                            height: Int, mean_px: Double)

  /** Partition-wise REAL compressed-image decode (the
    * [[decodePpmPartitions]] shape over the in-JDK codecs); payloads
    * no codec claims are dropped — a production pipeline would route
    * them to the external-codec path (the stub's tier). */
  def decodeImagePartitions(df: DataFrame)(implicit s: SparkSession): Dataset[CodecImageMeta] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      imageIoDecode(bytes).map { c =>
        CodecImageMeta(id, c.format, c.width, c.height, c.sampleSum.toDouble / c.nSamples)
      }
    }
  }

  /** Codec-tier resize result: target geometry, the mean sample of
    * the RESAMPLED raster, and proof the re-encoded payload decodes
    * back to exactly that raster (PNG being lossless). */
  case class CodecResizedMeta(doc_id: Long, out_w: Int, out_h: Int,
                              mean_px: Double, roundtrip_ok: Boolean)

  /** Partition-wise REAL codec resize chain: decode through whatever
    * in-JDK codec claims the payload, resample with the SAME exact
    * floor-index nearest-neighbor kernel as [[ppmResize]] (pixel
    * (x,y) samples source (x*sw/tw, y*sh/th) — pure integer index
    * arithmetic, so the resampled raster is closed-form for the
    * oracle), re-encode as PNG, and decode the re-encode to prove the
    * full chain lossless. Payloads no codec claims are dropped. */
  def resizeImagePartitions(df: DataFrame, targetW: Int, targetH: Int)
                           (implicit s: SparkSession): Dataset[CodecResizedMeta] = {
    require(targetW > 0 && targetH > 0)
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      imageIoRead(bytes).map { img =>
        val (sw, sh) = (img.getWidth, img.getHeight)
        val out = new Array[Byte](targetW * targetH * 3)
        var sum = 0L
        var y = 0
        while (y < targetH) {
          val sy = (y.toLong * sh / targetH).toInt
          var x = 0
          while (x < targetW) {
            val sx = (x.toLong * sw / targetW).toInt
            val rgb = img.getRGB(sx, sy)
            val (r, g, b) = ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
            val dst = (y * targetW + x) * 3
            // TYPE_3BYTE_BGR raster layout for the re-encode
            out(dst) = b.toByte
            out(dst + 1) = g.toByte
            out(dst + 2) = r.toByte
            sum += r + g + b
            x += 1
          }
          y += 1
        }
        val reDecoded = imageIoDecode(imageIoEncode("png", targetW, targetH, out))
        CodecResizedMeta(id, targetW, targetH,
          sum.toDouble / (targetW.toLong * targetH * 3),
          reDecoded.exists(c => c.sampleSum == sum &&
            c.width == targetW && c.height == targetH))
      }
    }
  }

  /** Encode grayscale frames (each w*h bytes) as a REAL animated GIF:
    * 256-gray palette, LZW compression, one GraphicControlExtension
    * per frame — a genuinely compressed multi-frame container (the
    * codec analog of the concatenated-netpbm stream). Lossless for
    * 8-bit gray, so exact-mean oracles hold. */
  def gifEncode(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_.length == w * h),
      s"every frame must be ${w * h} gray samples")
    imageIoNoCache
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { gray =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        System.arraycopy(gray, 0, data, 0, gray.length)
        // per-frame GraphicControlExtension (disposal "none") so the
        // decoder returns each frame's own raster, not a composite
        val meta = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img),
          writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        root.appendChild(gce)
        meta.setFromTree(fmt, root)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, meta), writer.getDefaultWriteParam)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** One REAL-decoded GIF frame: geometry + the exact integer luma
    * sum (gray value per pixel, read through the palette — the
    * decoded image is indexed, so raw raster samples would be palette
    * INDICES; `getRGB` resolves them to colors). */
  final case class GifFrame(width: Int, height: Int, lumaSum: Long, nPx: Long)

  /** REAL animated-GIF demux + decode via the JDK's GIF codec: count
    * frames off the container, LZW-decode each, walk its pixels.
    * Empty for payloads the GIF reader doesn't claim or that fail to
    * decode. */
  def gifFrames(bytes: Array[Byte]): Vector[GifFrame] =
    if (bytes == null) Vector.empty
    else withImageReader(bytes) { reader =>
      if (reader.getFormatName.toLowerCase(java.util.Locale.ROOT) != "gif") None
      else {
        val n = reader.getNumImages(true)
        // dimension-gate EVERY frame before decoding any: a hostile
        // frame header mid-container makes the whole payload hostile
        // (skipping it would silently shift frame indices)
        val hostile = (0 until n).exists { f =>
          val w = reader.getWidth(f)
          val h = reader.getHeight(f)
          w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels
        }
        if (hostile) None
        else Some((0 until n).iterator.map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          // bulk row reads through the palette (getRGB resolves
          // indices to colors); gray image: r == g == b, take red
          val row = new Array[Int](w)
          var sum = 0L
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) { sum += (row(x) >> 16) & 0xFF; x += 1 }
            y += 1
          }
          GifFrame(w, h, sum, w.toLong * h)
        }.toVector)
      }
    }.getOrElse(Vector.empty)

  /** Partition-wise REAL animated-GIF frame demux + decode — the
    * compressed-container analog of [[pnmFramesPartitions]], one
    * [[PnmFrame]] row per frame. */
  def gifFramesPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[PnmFrame] = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      gifFrames(bytes).iterator.zipWithIndex.map { case (f, idx) =>
        PnmFrame(id, idx, "gif", f.width, f.height, f.lumaSum.toDouble / f.nPx)
      }
    }
  }

  /** Encode raw G.711 mu-law bytes in a canonical 44-byte-header
    * RIFF/WAVE container (format code 7, 8 bits/sample). */
  def ulawWavEncode(sampleRate: Int, channels: Int, ulaw: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && ulaw.length % channels == 0)
    riffWave(7, sampleRate, channels, 1, ulaw.length).put(ulaw).array() // WAVE_FORMAT_MULAW
  }

  /** REAL companded-audio decode: AudioSystem parses the WAV
    * container, and the JDK's G.711 codec chain expands mu-law to
    * linear PCM16 (little-endian target format pinned explicitly —
    * the conversion provider honors it). None for payloads that are
    * not mu-law audio (PCM16 WAV routes to [[wavDecode]]; compressed
    * formats with no in-JDK codec route to the stub). */
  def ulawWavDecode(bytes: Array[Byte]): Option[Wav] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    // the tier's contract is the RIFF/WAVE container (format code 7,
    // [[ulawWavEncode]]'s canonical output) — prefilter on the
    // container magic so junk/cross-media payloads in the hot
    // streaming fingerprint loops reject on a byte compare instead of
    // paying the AudioSystem provider probe per row
    if (!isRiffWave(bytes)) return None
    try {
      val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val f = in.getFormat
        if (f.getEncoding != AudioFormat.Encoding.ULAW) None
        else {
          val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
            f.getSampleRate, false)
          val pcm = AudioSystem.getAudioInputStream(dst, in)
          val raw =
            try pcm.readAllBytes()
            finally pcm.close()
          Some(Wav(f.getSampleRate.toInt, f.getChannels, pcm16(raw, 0, raw.length / 2)))
        }
      } finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: IllegalArgumentException => None // no conversion provider
      case _: java.io.IOException => None
    }
  }

  /** Partition-wise REAL mu-law decode: the mean is over the EXPANDED
    * (linear PCM) samples off the codec chain's actual output buffer;
    * non-mu-law payloads drop to their own tiers. */
  def decodeUlawPartitions(df: DataFrame)(implicit s: SparkSession): Dataset[WavMeta] =
    audioMeta(df)(ulawWavDecode)

  /** Deterministic fake embedding: dim exact-binary-fraction values
    * derived from the payload size, so the full feature-extract
    * pipeline (binary in → fixed-dim vector out, partition-wise model
    * amortization) is exercisable and oracle-checkable. Values are
    * k/1024 — exactly representable in both float32 and float64, so
    * no cross-engine rounding ambiguity. */
  def featureExtractPartitions(df: DataFrame, dim: Int = 8)
                              (implicit s: SparkSession): DataFrame = {
    import s.implicits._
    perMedia(df) { (id, bytes) =>
      val f = Array.tabulate(dim)(j => ((bytes.length.toLong * (j + 1)) % 1024) / 1024.0)
      Iterator.single((id, f))
    }.toDF("doc_id", "feature")
  }
}
