package graft

import java.nio.file.{Files, Paths}
import java.sql.Date

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Schemas, Sources}
import graft.queries.RefPipeline

/** End-to-end ingest test mirroring the reference's full flow
  * (E1 ingest -> E2 analytics, SURVEY.md §3): dirty CSVs staged to
  * disk -> schema-pinned CSV read -> overwrite sink -> re-read ->
  * prepData cleaning -> Q1. Exercises the same dirty-data branches as
  * the reference's real feed: null dates, '0023' years, quoted
  * strings, Corsican department codes. */
class IngestSpec extends AnyFunSuite with SparkTestBase {

  private val stage = "/tmp/graft_ingest_test"

  test("JDBC round-trip against embedded Derby: replace semantics + partitioned read") {
    import spark.implicits._
    val url = Sources.embeddedDerbyUrl(s"$stage/derby")
    val cust = spark.read.parquet(sf("customer"))
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
    // stale write then full replace: Overwrite must drop-and-recreate,
    // not append (the reference's to_sql(if_exists='replace'))
    Sources.overwriteJdbc(cust.limit(1), url, "graft_cust_test")
    Sources.overwriteJdbc(cust, url, "graft_cust_test")
    val whole = Sources.jdbcTable(spark, url, "graft_cust_test")
    assert(whole.count() == cust.count(), "replace must not append")
    // partitioned read: 4 range-split connections, lossless (rows
    // outside the bounds land in the open-ended edge partitions)
    val part = Sources.jdbcTable(spark, url, "graft_cust_test",
      partitionColumn = Some(("c_custkey", 1L, 200000L, 4)))
    assert(part.rdd.getNumPartitions == 4, "partitioned read must fan out")
    val back = part.orderBy($"c_custkey").collect().toSeq
    val orig = cust.orderBy($"c_custkey").collect().toSeq
    assert(back == orig, "JDBC round-trip must be lossless")
  }

  test("malformed rows: PERMISSIVE captures them, DROPMALFORMED drops them") {
    import org.apache.spark.sql.types._
    Files.createDirectories(Paths.get(stage))
    Files.writeString(Paths.get(s"$stage/dirty.csv"),
      """id_zone,surface_zone
        |1,100.5
        |not_a_number,oops
        |3,300.25
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id_zone", LongType),
      StructField("surface_zone", DoubleType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(s"$stage/dirty.csv").cache()
    assert(permissive.count() == 3)
    val corrupt = permissive.filter(col("_corrupt_record").isNotNull)
    assert(corrupt.count() == 1, "the bad row is captured, not silently nulled")
    val dropped = spark.read.option("header", "true")
      .option("mode", "DROPMALFORMED")
      .schema(StructType(schema.fields.take(2))).csv(s"$stage/dirty.csv")
    // gotcha: count() prunes every column, so nothing parses and
    // nothing is dropped — malformed-row dropping only applies to the
    // columns a query actually reads
    assert(dropped.select("id_zone", "surface_zone").collect().length == 2)
    permissive.unpersist()
  }

  test("PPM decode: real header parse (comments, whitespace), pixels read, junk rejected") {
    import graft.ops.Multimodal
    // 2x1 image: red then green pixel
    val rgb = Array[Byte](255.toByte, 0, 0, 0, 255.toByte, 0)
    val plain = Multimodal.ppmEncode(2, 1, rgb)
    val p = Multimodal.ppmDecode(plain).get
    assert(p.width == 2 && p.height == 1 && p.pixels.toSeq == rgb.toSeq)
    // netpbm allows comments + arbitrary whitespace inside the header
    val commented = ("P6\n# a comment\n2 1\n# another\n255\n".getBytes("US-ASCII") ++ rgb)
    val c = Multimodal.ppmDecode(commented).get
    assert(c.width == 2 && c.height == 1 && c.pixels.toSeq == rgb.toSeq)
    // rejects: wrong magic, truncated pixels, 16-bit maxval
    assert(Multimodal.ppmDecode("P5\n2 1\n255\nxx".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.ppmDecode(plain.dropRight(1)).isEmpty)
    assert(Multimodal.ppmDecode(("P6\n2 1\n65535\n".getBytes("US-ASCII") ++ rgb)).isEmpty)
  }

  test("PPM nearest-neighbor resize places source pixels at the exact expected raster cells") {
    import graft.ops.Multimodal
    // 2x2 quadrants: R G / B W, upscaled 2x -> each quadrant becomes 2x2
    val r = Seq(255, 0, 0); val g = Seq(0, 255, 0)
    val b = Seq(0, 0, 255); val w = Seq(255, 255, 255)
    val src = (r ++ g ++ b ++ w).map(_.toByte).toArray
    val resized = Multimodal.ppmResize(Multimodal.Ppm(2, 2, src), 4, 4)
    val p = Multimodal.ppmDecode(resized).get
    assert(p.width == 4 && p.height == 4)
    def px(x: Int, y: Int): Seq[Int] =
      (0 until 3).map(c => p.pixels((y * 4 + x) * 3 + c) & 0xFF)
    assert(px(0, 0) == r && px(1, 1) == r, "top-left quadrant stays red")
    assert(px(2, 0) == g && px(3, 1) == g, "top-right quadrant stays green")
    assert(px(0, 2) == b && px(1, 3) == b, "bottom-left quadrant stays blue")
    assert(px(2, 2) == w && px(3, 3) == w, "bottom-right quadrant stays white")
    // downscale 2x2 -> 1x1 keeps the top-left source pixel (floor NN)
    val down = Multimodal.ppmDecode(
      Multimodal.ppmResize(Multimodal.Ppm(2, 2, src), 1, 1)).get
    assert((0 until 3).map(c => down.pixels(c) & 0xFF) == r)
  }

  test("PPM frame demux: back-to-back frames parse individually; trailing junk truncates") {
    import graft.ops.Multimodal
    val f1 = Multimodal.ppmEncode(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))
    val f2 = Multimodal.ppmEncode(1, 2, Array[Byte](7, 8, 9, 10, 11, 12))
    val frames = Multimodal.ppmFrames(f1 ++ f2)
    assert(frames.length == 2)
    assert(frames(0).width == 2 && frames(0).height == 1 &&
      frames(0).pixels.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    assert(frames(1).width == 1 && frames(1).height == 2 &&
      frames(1).pixels.toSeq == Seq[Byte](7, 8, 9, 10, 11, 12))
    // trailing junk ends the walk after the valid prefix
    val truncated = Multimodal.ppmFrames(f1 ++ "garbage".getBytes("US-ASCII"))
    assert(truncated.length == 1 && truncated(0).width == 2)
    assert(Multimodal.ppmFrames(Array.empty[Byte]).isEmpty)
  }

  test("PNM decode: P5/P4 roundtrip, P4 pad-bit masking, mixed-format demux") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.Pnm
    // P5 grayscale roundtrip
    val gray = Array.tabulate(6 * 2)(k => (k * 17).toByte)
    val p5 = Multimodal.pnmDecode(Multimodal.pgmEncode(6, 2, gray)).get
    assert(p5 == Pnm("P5", 6, 2, p5.samples) && p5.samples.toSeq == gray.toSeq)
    // P4 bitmap: w=10 -> 2 bytes/row, 6 pad bits; all-ones rows must
    // popcount to w per row once pads are masked
    val packed = Array.fill(2 * 3)(0xFF.toByte)
    val enc = Multimodal.pbmEncode(10, 3, packed)
    val p4 = Multimodal.pnmDecode(enc).get
    assert(p4.format == "P4" && p4.width == 10 && p4.height == 3)
    // decodePbmPartitions applies the pad mask — check via the
    // partition decoder on a tiny frame
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val df = Seq((1L, enc)).toDF("doc_id", "media")
    val meta = Multimodal.decodePbmPartitions(df).collect().head
    assert(meta.n_ones == 30, "6 pad bits per row masked: 3 rows x 10 bits")
    assert(meta.ones_ratio == 1.0)
    // P6 still parses through the generalized walker
    val rgb = Array.tabulate(2 * 2 * 3)(_.toByte)
    assert(Multimodal.ppmDecode(Multimodal.ppmEncode(2, 2, rgb)).get.pixels.toSeq == rgb.toSeq)
    // mixed-format container: P6 then P5 then P4, all demuxed
    val mixed = Multimodal.ppmEncode(2, 2, rgb) ++
      Multimodal.pgmEncode(6, 2, gray) ++ enc
    val frames = Multimodal.pnmFrames(mixed)
    assert(frames.map(_.format) == Vector("P6", "P5", "P4"))
    assert(frames.map(f => (f.width, f.height)) == Vector((2, 2), (6, 2), (10, 3)))
    // truncated trailing frame ends the walk after the valid prefix
    assert(Multimodal.pnmFrames(mixed.dropRight(1)).map(_.format) == Vector("P6", "P5"))
  }

  test("aHash: deterministic, identical images hash equal, one decisive block flips exactly one bit") {
    import spark.implicits._
    import graft.ops.Multimodal
    // extreme-valued blocks so no bit is borderline: 16x16 P5, 2x2-px
    // blocks all at 0 or 255 in a checkerboard — flipping ONE block's
    // pixels moves the global mean by ~2/256 of the range, far from
    // every other block's ~half-range margin, so exactly that block's
    // bit differs
    def img(flipBlock: Boolean): Array[Byte] = {
      val w = 16; val h = 16
      val px = Array.tabulate(w * h) { k =>
        val x = k % w; val y = k / w
        val gx = x / 2; val gy = y / 2
        val bright = (gx + gy) % 2 == 0
        val b0 = if (bright) 255 else 0
        val v = if (flipBlock && gx == 0 && gy == 0) 255 - b0 else b0
        v.toByte
      }
      Multimodal.pgmEncode(w, h, px)
    }
    val a = Multimodal.aHash64(img(flipBlock = false)).get
    val a2 = Multimodal.aHash64(img(flipBlock = false)).get
    val b = Multimodal.aHash64(img(flipBlock = true)).get
    assert(a == a2, "deterministic")
    assert(java.lang.Long.bitCount(a ^ b) == 1, s"expected exactly 1 bit, got ${java.lang.Long.bitCount(a ^ b)}")
    // too-small and non-image payloads hash to None, never throw
    assert(Multimodal.aHash64(Multimodal.pgmEncode(4, 4, Array.fill(16)(1.toByte))).isEmpty)
    assert(Multimodal.aHash64("not an image".getBytes("UTF-8")).isEmpty)
    // the banded join pairs the 1-bit pair at radius 1 but not radius 0
    val df = Seq((1L, img(false)), (2L, img(false)), (3L, img(true)))
      .toDF("id", "media")
    def pairs(maxH: Int) =
      Multimodal.imageNearDups(df, "id", "media", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(0) == Set((1L, 2L, 0)))
    assert(pairs(1) == Set((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)))
    // pigeonhole bands cover all 64 bits exactly once
    val covered = Multimodal.hammingBands(-1L, 5).map(_ & ((1L << 58) - 1))
    assert(covered.map(java.lang.Long.bitCount).sum == 64)
  }

  test("binary parsers never throw on hostile payloads: fuzz mutations, truncations, digit bombs") {
    import graft.ops.Multimodal
    // every parser returns Option/Vector on ANY byte sequence — a
    // hostile row must drop, not fail the task (the ADVICE wav-overflow
    // lesson, generalized into a seeded fuzz pass over all of them)
    val valid: Seq[Array[Byte]] = Seq(
      Multimodal.ppmEncode(16, 16, Array.tabulate(768)(_.toByte)),
      Multimodal.pgmEncode(16, 16, Array.tabulate(256)(_.toByte)),
      Multimodal.pbmEncode(16, 8, Array.tabulate(16)(_.toByte)),
      Multimodal.wavEncode(8000, 1, Array.tabulate(130)(_.toShort)))
    def probe(b: Array[Byte]): Unit = {
      Multimodal.pnmDecode(b)
      Multimodal.pnmFrames(b)
      Multimodal.aHash64(b)
      Multimodal.wavDecode(b)
      Multimodal.audioFingerprint64(b)
    }
    val rnd = new scala.util.Random(9100)
    for (base <- valid; trial <- 1 to 200) {
      val m = base.clone()
      // flip 1-4 random bytes
      for (_ <- 0 to rnd.nextInt(4)) m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      probe(m)
      // random truncation and random prefix-junk
      probe(java.util.Arrays.copyOfRange(m, 0, rnd.nextInt(m.length + 1)))
      if (trial % 20 == 0) probe(Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte))
    }
    // header digit bombs: dimensions that wrap Int32 must REJECT, not
    // parse as a small plausible geometry
    for (bomb <- Seq("4294967297", "4294967296", "18446744073709551617",
                     "2147483648", "99999999999999999999")) {
      assert(Multimodal.pnmDecode(s"P5\n$bomb 16\n255\n".getBytes("US-ASCII") ++
        Array.fill(256)(1.toByte)).isEmpty, s"width $bomb must reject")
      assert(Multimodal.pnmDecode(s"P6\n16 $bomb\n255\n".getBytes("US-ASCII") ++
        Array.fill(768)(1.toByte)).isEmpty, s"height $bomb must reject")
    }
    // Int-space P4 edge: widths num() ACCEPTS (<= Int.MaxValue) whose
    // `w + 7` would wrap Int — the sample-size math must stay in Long
    // so the bounds check rejects instead of Arrays.copyOfRange throwing
    for (w <- Seq(2147483641, 2147483647)) {
      assert(Multimodal.pnmDecode(s"P4\n$w 2\n".getBytes("US-ASCII") ++
        Array.fill(64)(1.toByte)).isEmpty, s"P4 width $w must reject, not throw")
    }
    // and a sane payload still parses after all that
    assert(Multimodal.pnmDecode(valid.head).isDefined)
  }

  test("audioFingerprint64: envelope shape, level-invariant sign bits, degenerate payloads None") {
    import graft.ops.Multimodal
    // a clip whose loudness strictly ramps up window over window has
    // ALL 64 delta bits set; the strictly-decaying clip has none
    def ramp(up: Boolean): Array[Byte] = {
      val n = 260
      val samples = Array.tabulate(n) { f =>
        val w = f * 65 / n
        val amp = if (up) 100 * (w + 1) else 100 * (65 - w)
        (if (f % 2 == 0) amp else -amp).toShort
      }
      Multimodal.wavEncode(8000, 1, samples)
    }
    val upFp = Multimodal.audioFingerprint64(ramp(up = true)).get
    val downFp = Multimodal.audioFingerprint64(ramp(up = false)).get
    assert(upFp == -1L, s"all-ascending envelope must set all 64 bits, got $upFp")
    assert(downFp == 0L, s"all-descending envelope must set none, got $downFp")
    assert(Multimodal.audioFingerprint64(ramp(up = true)).get == upFp, "deterministic")
    // shorter than 65 frames, or not a WAV at all -> None, never throw
    assert(Multimodal.audioFingerprint64(
      Multimodal.wavEncode(8000, 1, Array.fill(64)(1.toShort))).isEmpty)
    assert(Multimodal.audioFingerprint64("not audio".getBytes("UTF-8")).isEmpty)
    // the one-way audio probe: an exact copy matches, the opposite
    // envelope (Hamming 64) does not
    import spark.implicits._
    val corpus = Seq((1L, ramp(up = true)), (2L, ramp(up = false)))
      .toDF("id", "media")
    val probes = Seq((10L, ramp(up = true))).toDF("id", "media")
    val got = Multimodal.audioProbe(corpus, probes, "id", "media", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((10L, 1L, 0)), got.toString)
  }

  test("WAV decode: roundtrip, chunk-walk past extra chunks, non-PCM16 rejected") {
    import graft.ops.Multimodal
    val samples = Array[Short](0, 100, -100, 32767, -32768, 7)
    val wav = Multimodal.wavEncode(44100, 2, samples)
    val d = Multimodal.wavDecode(wav).get
    assert(d.sampleRate == 44100 && d.channels == 2 && d.samples.toSeq == samples.toSeq)
    // an extra chunk between fmt and data must be skipped (RIFF walk),
    // including the odd-size word-alignment pad byte
    val extra = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0)
    val withExtra = wav.take(36) ++ extra ++ wav.drop(36)
    // fix the RIFF size field for honesty (decoder tolerates either)
    val d2 = Multimodal.wavDecode(withExtra).get
    assert(d2.samples.toSeq == samples.toSeq, "chunk walk must skip LIST + pad")
    // rejects: wrong magic, truncated data chunk, non-PCM format tag
    assert(Multimodal.wavDecode("RIFXjunk".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.wavDecode(wav.dropRight(1)).isEmpty)
    val nonPcm = wav.clone; nonPcm(20) = 3 // IEEE float format tag
    assert(Multimodal.wavDecode(nonPcm).isEmpty)
    // hostile chunk size near UInt32 max: Int arithmetic would
    // overflow the bounds check negative and index past the buffer —
    // must drop to None, never throw (one bad row != a failed task)
    val hostile = wav.clone
    hostile(40) = -1; hostile(41) = -1; hostile(42) = -1; hostile(43) = -1
    assert(Multimodal.wavDecode(hostile).isEmpty)
    val hostileFmt = wav.clone // oversize the fmt chunk instead
    hostileFmt(16) = -8; hostileFmt(17) = -1; hostileFmt(18) = -1; hostileFmt(19) = 127
    assert(Multimodal.wavDecode(hostileFmt).isEmpty)
    // a header-only clip (zero samples) yields no row: 0/0 would be a NaN mean
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val headerOnly = Multimodal.wavEncode(8000, 1, Array.empty[Short])
    assert(Multimodal.decodeWavPartitions(Seq((1L, headerOnly)).toDF("doc_id", "media")).isEmpty)
  }

  test("ImageIO codec decode: PNG byte-lossless, JPEG bounded-lossy, junk and netpbm rejected") {
    import graft.ops.Multimodal
    // deterministic noise raster (the harness's digest-cycle shape)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest("codec test".getBytes("UTF-8"))
    val w = 16; val h = 7
    val bgr = Array.tabulate(w * h * 3)(k => digest(k % 16))
    val exactMean = bgr.map(_ & 0xFF).map(_.toLong).sum.toDouble / bgr.length
    // PNG (DEFLATE, lossless): format sniffed, geometry true, the
    // decoded-raster mean EXACTLY the source mean
    val png = Multimodal.imageIoDecode(Multimodal.imageIoEncode("png", w, h, bgr)).get
    assert(png.format == "png" && png.width == w && png.height == h, png.toString)
    assert(png.nSamples == w.toLong * h * 3)
    assert(png.sampleSum.toDouble / png.nSamples == exactMean, "PNG must round-trip byte-exact")
    // JPEG (DCT, lossy): format + geometry exact, mean within the
    // measured bound (worst over 2000 noise images: 2.67; bound 8)
    val jpg = Multimodal.imageIoDecode(Multimodal.imageIoEncode("jpg", w, h, bgr)).get
    assert(jpg.format == "jpeg" && jpg.width == w && jpg.height == h, jpg.toString)
    assert(math.abs(jpg.sampleSum.toDouble / jpg.nSamples - exactMean) <= 8.0)
    // decode is deterministic within this JVM (same codec, same table)
    val jpg2 = Multimodal.imageIoDecode(Multimodal.imageIoEncode("jpg", w, h, bgr)).get
    assert(jpg2.sampleSum == jpg.sampleSum, "same codec must decode identically")
    // the router's breadth is whatever the JDK registry claims: BMP
    // and TIFF (both lossless here) decode through the same path with
    // their own sniffed format names and exact sums
    val bmp = Multimodal.imageIoDecode(Multimodal.imageIoEncode("bmp", w, h, bgr)).get
    assert(bmp.format == "bmp" && bmp.sampleSum == png.sampleSum, bmp.toString)
    val tif = Multimodal.imageIoDecode(Multimodal.imageIoEncode("tif", w, h, bgr)).get
    assert(tif.format.startsWith("tif") && tif.sampleSum == png.sampleSum, tif.toString)
    // payloads no in-JDK codec claims -> None, never throw: junk,
    // truncated PNG, and netpbm (that tier routes to pnmDecode)
    assert(Multimodal.imageIoDecode("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.imageIoDecode(
      Multimodal.imageIoEncode("png", w, h, bgr).take(20)).isEmpty)
    assert(Multimodal.imageIoDecode(
      Multimodal.ppmEncode(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))).isEmpty)
    // the five-signature contract is FIRM (round-13 advice): WBMP is a
    // format the JDK registry CAN decode but the tier's documented
    // contract excludes (magic-less — its header starts 0x00 0x00,
    // indistinguishable from junk at sniff depth), so the prefilter
    // rejects it by design; this pin makes the narrowing deliberate
    // and visible rather than an accident of the magic list
    val wbmpImg = new java.awt.image.BufferedImage(
      4, 3, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    val wbmpOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(wbmpImg, "wbmp", wbmpOut),
      "JDK registry must still offer a WBMP writer for this pin to be meaningful")
    assert(!Multimodal.hasImageMagic(wbmpOut.toByteArray))
    assert(Multimodal.imageIoDecode(wbmpOut.toByteArray).isEmpty,
      "the ImageIO tier serves exactly its five documented signatures")
  }

  test("aHash64 codec routing: PNG hashes identical to P6 of the same pixels; gray scale-invariance; JPEG deterministic") {
    import graft.ops.Multimodal
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Byte](16 * 16 * 3)
    var chunk = 0
    while (chunk * 16 < px.length) {
      val d = md.digest(s"ahash:$chunk".getBytes("UTF-8"))
      System.arraycopy(d, 0, px, chunk * 16, math.min(16, px.length - chunk * 16))
      chunk += 1
    }
    // PNG is lossless and the luma fold is the same r+g+b either
    // route, so the codec path must hash EXACTLY like the P6 path
    val p6Hash = Multimodal.aHash64(Multimodal.ppmEncode(16, 16, px)).get
    val pngHash = Multimodal.aHash64(Multimodal.imageIoEncode("png", 16, 16, px)).get
    assert(pngHash == p6Hash, "PNG route must hash identically to P6 of the same pixels")
    // gray: P5 luma is 1x the sample, a replicated-channel PNG reads
    // 3x — the integer cross-multiplication compare is scale-invariant
    val gray = Array.tabulate(16 * 16)(k => px(k))
    val p5Hash = Multimodal.aHash64(Multimodal.pgmEncode(16, 16, gray)).get
    val grayBgr = gray.flatMap(g => Array(g, g, g))
    val pngGrayHash = Multimodal.aHash64(Multimodal.imageIoEncode("png", 16, 16, grayBgr)).get
    assert(pngGrayHash == p5Hash, "3x-gray luma must hash like 1x-gray (scale invariance)")
    // JPEG: lossy, so only determinism + visual proximity are claims
    val j1 = Multimodal.aHash64(Multimodal.imageIoEncode("jpg", 16, 16, px)).get
    val j2 = Multimodal.aHash64(Multimodal.imageIoEncode("jpg", 16, 16, px)).get
    assert(j1 == j2, "same codec, same payload, same hash")
    assert(java.lang.Long.bitCount(j1 ^ p6Hash) <= 16,
      s"JPEG of the same image should stay visually near its source hash, got ${java.lang.Long.bitCount(j1 ^ p6Hash)}")
    // P4 keeps returning None (no gray scale), junk keeps returning None
    assert(Multimodal.aHash64(
      Multimodal.pbmEncode(16, 16, Array.fill(2 * 16)(0x0F.toByte))).isEmpty)
    assert(Multimodal.aHash64("definitely not an image".getBytes("UTF-8")).isEmpty)
  }

  test("hostile-dimensions image payloads drop to None before the raster allocates") {
    import graft.ops.Multimodal
    // a VALID PNG signature + IHDR (correct CRC) declaring
    // 40000x40000 = 1.6 Gpx: without the header-only dimension gate,
    // reader.read would allocate a ~4.8 GB raster off a 33-byte
    // payload (this test would OOM); with it, the payload drops to
    // None like every other hostile input
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(17)
    ihdr.put("IHDR".getBytes("US-ASCII"))
    ihdr.putInt(40000).putInt(40000)
    ihdr.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new java.util.zip.CRC32()
    crc.update(ihdr.array())
    bos.write(java.nio.ByteBuffer.allocate(4).putInt(13).array())
    bos.write(ihdr.array())
    bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    val hostile = bos.toByteArray
    assert(Multimodal.imageIoDecode(hostile).isEmpty)
    assert(Multimodal.aHash64(hostile).isEmpty)
  }

  test("GIF frames: real LZW multi-frame container round-trips gray rasters losslessly") {
    import graft.ops.Multimodal
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest("gif test".getBytes("UTF-8"))
    // three distinct frames (per-frame byte rotation + one mutation)
    val f0 = Array.tabulate(16 * 6)(k => digest(k % 16))
    val f1 = Array.tabulate(16 * 6)(k => digest((k + 5) % 16))
    val f2 = f0.clone; f2(17) = (f2(17) ^ 0x55).toByte
    val gif = Multimodal.gifEncode(16, 6, Seq(f0, f1, f2))
    val frames = Multimodal.gifFrames(gif)
    assert(frames.length == 3, s"expected 3 frames, got ${frames.length}")
    val wantSums = Seq(f0, f1, f2).map(_.map(_ & 0xFF).map(_.toLong).sum)
    frames.zip(wantSums).zipWithIndex.foreach { case ((fr, want), i) =>
      assert(fr.width == 16 && fr.height == 6, s"frame $i geometry")
      assert(fr.lumaSum == want, s"frame $i must decode byte-exact (LZW+gray palette is lossless)")
    }
    // junk / non-GIF image payloads -> empty, never throw
    assert(Multimodal.gifFrames("not a gif".getBytes("UTF-8")).isEmpty)
    // 40 bytes ends inside the global color table — no frame data
    // exists in the prefix, so NOTHING may parse (the old disjunction
    // `isEmpty || forall(_.nPx > 0)` was vacuously true for any
    // decode and pinned no truncation behavior at all)
    assert(Multimodal.gifFrames(gif.take(40)).isEmpty,
      "a prefix ending inside the color table holds no frame data")
    // truncation mid-frame-data: at most the encoded frame count may
    // survive, and every surviving frame must be byte-exact against
    // ITS OWN encoded raster (prefix-exact, never a shifted index or
    // a partially-filled raster passed off as decoded). This is a
    // deliberate CANARY on the JDK reader's truncation behavior: a
    // future JDK that returns a partially-filled raster instead of
    // throwing would fail here — the right response then is an
    // explicit guard in gifFrames, not a loosened assertion.
    val partial = Multimodal.gifFrames(gif.dropRight(10))
    assert(partial.length <= 3, "truncation cannot invent frames")
    partial.zip(wantSums).zipWithIndex.foreach { case ((fr, want), i) =>
      assert(fr.width == 16 && fr.height == 6 && fr.lumaSum == want,
        s"surviving frame $i must be byte-exact")
    }
    assert(Multimodal.gifFrames(
      Multimodal.imageIoEncode("png", 2, 2, Array.fill(12)(3.toByte))).isEmpty)
  }

  test("codec resize chain: exact NN placement through decode -> resample -> re-encode") {
    import graft.ops.Multimodal
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // 2x2 quadrants R G / B W as PNG, upscaled 2x: each quadrant
    // becomes 2x2 (the ppmResize placement contract, codec tier)
    val bgr = Array[Byte](
      0, 0, 255.toByte,   0, 255.toByte, 0,
      255.toByte, 0, 0,   255.toByte, 255.toByte, 255.toByte)
    val png = Multimodal.imageIoEncode("png", 2, 2, bgr)
    val df = Seq((1L, png)).toDF("doc_id", "media")
    val r = Multimodal.resizeImagePartitions(df, 4, 4).collect().head
    assert(r.out_w == 4 && r.out_h == 4 && r.roundtrip_ok,
      "re-encode must decode back bit-identical")
    // mean: 4 copies each of R(255), G(255), B(255), W(765) over 48 samples
    assert(r.mean_px == (4 * 255 + 4 * 255 + 4 * 255 + 4 * 765) / 48.0)
    // non-image payloads drop
    assert(Multimodal.resizeImagePartitions(
      Seq((2L, "junk".getBytes("UTF-8"))).toDF("doc_id", "media"), 4, 4)
      .collect().isEmpty)
  }

  test("mu-law decode: JDK codec chain == G.711 closed form on all 256 codes; non-ulaw rejected") {
    import graft.ops.Multimodal
    // the load-bearing contract behind the exact oracle: sweep every
    // code through the REAL AudioSystem conversion and compare to the
    // spec's segment arithmetic
    val allCodes = Array.tabulate(256)(_.toByte)
    val d = Multimodal.ulawWavDecode(Multimodal.ulawWavEncode(8000, 1, allCodes)).get
    assert(d.sampleRate == 8000 && d.channels == 1 && d.samples.length == 256)
    val mismatches = (0 until 256).filter(i => d.samples(i) != IngestSpec.ulawToLinear(i))
    assert(mismatches.isEmpty, s"JDK table diverges from G.711 at codes $mismatches")
    // stereo container facts survive the codec chain
    val st = Multimodal.ulawWavDecode(
      Multimodal.ulawWavEncode(44100, 2, Array[Byte](0, 1, 2, 3))).get
    assert(st.sampleRate == 44100 && st.channels == 2 && st.samples.length == 4)
    // PCM16 WAV is NOT this tier's format (it routes to wavDecode);
    // junk payloads drop to None, never throw
    assert(Multimodal.ulawWavDecode(
      Multimodal.wavEncode(8000, 1, Array[Short](1, 2, 3))).isEmpty)
    assert(Multimodal.ulawWavDecode("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.ulawWavDecode(
      Multimodal.ulawWavEncode(8000, 1, allCodes).take(30)).isEmpty)
    // the fingerprint routes compressed clips through this tier:
    // identical mu-law payloads fingerprint identically (the dedup
    // contract), and a monotone-ramp envelope survives the expansion
    // (G.711 is monotonic, so ascending window energies stay ordered)
    val rampUlaw = Multimodal.ulawWavEncode(8000, 1,
      Array.tabulate(260)(k => (0x7F - (k * 127 / 260)).toByte)) // codes descending = magnitudes ascending
    val fp1 = Multimodal.audioFingerprint64(rampUlaw)
    val fp2 = Multimodal.audioFingerprint64(rampUlaw)
    assert(fp1.isDefined && fp1 == fp2, "mu-law clips must fingerprint, deterministically")
    assert(fp1.get == -1L, s"ascending mu-law envelope must set all 64 bits, got ${fp1.get}")
    // a header-only clip (zero samples) yields no row: 0/0 would be a NaN mean
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val headerOnly = Multimodal.ulawWavEncode(8000, 1, Array.empty[Byte])
    assert(Multimodal.decodeUlawPartitions(Seq((1L, headerOnly)).toDF("doc_id", "media")).isEmpty)
  }

  test("CSV ingest -> overwrite sink -> prepData -> Q1, end to end") {
    Files.createDirectories(Paths.get(stage))
    Files.writeString(Paths.get(s"$stage/zones.csv"),
      """id_zone,nom_zone,code_departement,nom_departement,surface_zone,type_zone
        |1,"Zone Ardèche Nord",07,"Ardèche",100.5,SUP
        |2,"Zone Ajaccio",2A,"Corse-du-Sud",200.0,SUP
        |3,"Zone sans arrêté",01,"Ain",300.0,SOU
        |""".stripMargin)
    Files.writeString(Paths.get(s"$stage/arretes.csv"),
      """id_zone,debut_validite_arrete,fin_validite_arrete,numero_niveau,nom_niveau,statut_arrete
        |1,2023-08-01,0023-08-20,3,"alerte renforcée",actif
        |1,2023-08-10,,2,alerte,actif
        |2,,2023-08-20,4,crise,actif
        |99,2023-08-01,2023-08-31,1,vigilance,actif
        |""".stripMargin)

    // E1: schema-pinned read (no inference pass), full-replace sink
    val zonesRaw = Sources.csvWithSchema(spark, s"$stage/zones.csv", Schemas.zones)
    val arretesRaw = Sources.csvWithSchema(spark, s"$stage/arretes.csv", Schemas.arretes)
    Sources.overwriteParquet(zonesRaw, s"$stage/zones.parquet")
    Sources.overwriteParquet(arretesRaw, s"$stage/arretes.parquet")

    // schema survived the sink round-trip: codes stayed strings
    val zones = spark.read.parquet(s"$stage/zones.parquet")
    assert(zones.schema("code_departement").dataType.typeName == "string")
    assert(zones.filter(col("code_departement") === "2A").count() == 1)

    // E2: clean + join + Q1 at a date inside every repaired interval
    val arretes = spark.read.parquet(s"$stage/arretes.parquet")
    val prepped = RefPipeline.prepData(zones, arretes)
    // '0023-08-20' repaired to 2023-08-20; null fin -> sentinel; orphan
    // id_zone=99 dropped by the inner join
    assert(prepped.count() == 3)
    val repaired = prepped
      .filter(col("id_zone") === 1 && col("numero_niveau") === 3)
      .select(col("fin_validite_arrete")).collect()(0).getDate(0)
    assert(repaired.toString == "2023-08-20")

    val q1 = RefPipeline.q1NbDepPerAlert(prepped, lit(Date.valueOf("2023-08-12")))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    // dept 07 -> max(3, 2) = 3; dept 2A -> 4
    assert(q1 == Seq((4, 1L), (3, 1L)))
  }

  test("prepData called again on unchanged parquet inputs rebuilds in place: cached RDDs do not pile up") {
    import spark.implicits._
    Sources.overwriteParquet(
      Seq((1L, "Zone Ardèche Nord", "07", "Ardèche", 100.5, "SUP"))
        .toDF("id_zone", "nom_zone", "code_departement", "nom_departement",
          "surface_zone", "type_zone"),
      s"$stage/cache_zones.parquet")
    Sources.overwriteParquet(
      Seq((1L, "2023-08-01", "0023-08-20", 3, "alerte renforcée", "actif"))
        .toDF("id_zone", "debut_validite_arrete", "fin_validite_arrete",
          "numero_niveau", "nom_niveau", "statut_arrete"),
      s"$stage/cache_arretes.parquet")
    def prep() = RefPipeline.prepData(
      spark.read.parquet(s"$stage/cache_zones.parquet"),
      spark.read.parquet(s"$stage/cache_arretes.parquet"))
    // count only the RDDs persisted since this case began: the context
    // cleaner may unpersist earlier suites' garbage-collected RDDs at
    // any moment, which moves the session-wide total
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val prepped = prep()
    assert(added.size == 3, "one prepData must hold exactly the join, the Q4 summary and the severity timeline")
    prep()
    prep()
    assert(added.size == 3, "each call must drop the previous call's cache entries")
    assert(prepped.count() == 1)
    prepped.unpersist()
    // Spark keeps the loaded dependents of a non-cascading uncache, so
    // exactly the summary and the timeline remain, and the next
    // prepData replaces them
    assert(added.size == 2, "unpersisting the join must leave only the summary and the timeline")
    assert(prepped.storageLevel == StorageLevel.NONE)
    assert(RefPipeline.q4SurfacePerDay(prepped).storageLevel != StorageLevel.NONE)
    val again = prep()
    assert(added.size == 3, "the next prepData must replace the frames left behind")
    RefPipeline.release(again)
    assert(added.isEmpty)
  }
}

object IngestSpec {

  /** The G.711 mu-law expansion closed form (the spec's segment
    * table as arithmetic) — the oracle-side contract
    * `Multimodal.ulawWavDecode` is pinned against: the JDK codec's
    * output equals this for every code 0..255 (IngestSpec sweeps all
    * of them). */
  def ulawToLinear(u: Int): Int = {
    val v = (~u) & 0xFF
    val mag = ((((v & 0xF) << 3) + 0x84) << ((v >> 4) & 7)) - 0x84
    if ((v & 0x80) != 0) -mag else mag
  }
}
