package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.expr.MediaCodecHelper
import graft.ops.Multimodal
import TestSpark.spark

/** Real PNG/WAV codec: inflate + filter reconstruction, resize round-trip,
  * PCM stats and frame decimation — including the filter types and layouts
  * the fixture generator never emits.
  */
class MediaCodecSpec extends AnyFunSuite {

  private def formulaPix(w: Int, h: Int): Array[Byte] = {
    val a = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w) a(y * w + x) = ((x * 31 + y * 17) & 0xff).toByte
    a
  }

  test("decodePng recovers the exact raster from the fixture generator") {
    for ((w, h) <- Seq((16, 9), (47, 15), (1, 1), (300, 2))) {
      val r = MediaCodecHelper.decodePng(Multimodal.pngBytes(w, h))
      assert(r != null && r.width == w && r.height == h && r.bpp == 1)
      assert(r.pix.toSeq == formulaPix(w, h).toSeq, s"pixels differ at ${w}x$h")
    }
  }

  test("every scanline filter round-trips, gray and RGB") {
    // pseudo-random raster so Sub/Up/Average/Paeth all produce distinct
    // residuals (the fixture's linear formula is too regular to stress them)
    def noisy(n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      var s = 12345
      for (i <- 0 until n) { s = s * 1103515245 + 12345; a(i) = (s >> 16).toByte }
      a
    }
    for (bpp <- Seq(1, 3); filter <- 0 to 4) {
      val (w, h) = (23, 11)
      val px = noisy(w * h * bpp)
      val enc = MediaCodecHelper.encodePng(
        new MediaCodecHelper.Raster(w, h, bpp, px), filter)
      val dec = MediaCodecHelper.decodePng(enc)
      assert(dec != null, s"filter $filter bpp $bpp failed to decode")
      assert(dec.bpp == bpp && dec.pix.toSeq == px.toSeq,
        s"filter $filter bpp $bpp corrupted pixels")
    }
  }

  test("unsupported and corrupt PNGs return null, never garbage") {
    val good = Multimodal.pngBytes(8, 8)
    assert(MediaCodecHelper.decodePng(null) == null)
    assert(MediaCodecHelper.decodePng(Array[Byte](1, 2, 3)) == null)
    assert(MediaCodecHelper.decodePng(good.dropRight(20)) == null) // no IEND
    val truncatedIdat = good.clone()
    // corrupt the deflate stream body (IDAT starts after the 33-byte
    // sig+IHDR preamble; byte 50 is inside it for an 8x8)
    truncatedIdat(50) = (truncatedIdat(50) ^ 0x7f).toByte
    assert(MediaCodecHelper.decodePng(truncatedIdat) == null)
    val hugeHeader = good.clone()
    hugeHeader(16) = 0x7f // width -> ~2^31: size cap must reject, not OOM
    assert(MediaCodecHelper.decodePng(hugeHeader) == null)
    // FDICT zlib header (0x78 0x20 — valid FCHECK, preset-dictionary bit
    // set): Inflater returns 0 with needsDictionary(), which must yield
    // null, not an infinite inflate loop pinning the executor
    val fdict = good.clone()
    fdict(41) = 0x78; fdict(42) = 0x20 // first two IDAT data bytes
    assert(MediaCodecHelper.decodePng(fdict) == null)
  }

  test("nearest-neighbor resize matches the integer index map") {
    val src = Multimodal.pngBytes(40, 13)
    val out = MediaCodecHelper.decodePng(
      MediaCodecHelper.pngResizeNearest(src, 8, 8))
    assert(out != null && out.width == 8 && out.height == 8)
    for (y <- 0 until 8; x <- 0 until 8) {
      val sx = x * 40 / 8; val sy = y * 13 / 8
      assert((out.pix(y * 8 + x) & 0xff) == ((sx * 31 + sy * 17) & 0xff))
    }
  }

  test("wavPcmStats reads PCM through the chunk walk (LIST-first layout too)") {
    for (bytes <- Seq(Multimodal.wavBytes(8000, 120),
                      Multimodal.wavBytesWithList(8000, 120))) {
      val row = MediaCodecHelper.wavPcmStats(bytes)
      assert(row != null)
      val samples = (0 until 120).map(i => (i % 256) * 128 - 16384)
      assert(row.getLong(0) == 120L)
      assert(row.getInt(1) == 8000)
      assert(row.getLong(2) == samples.map(_.toLong).sum)
      assert(row.getLong(3) == samples.map(v => v.toLong * v).sum)
      assert(row.getLong(4) == samples.map(math.abs).max.toLong)
      // zero crossings: sign flips between consecutive samples
      val zc = samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
      assert(row.getLong(5) == zc.toLong)
      assert(row.getInt(6) == 16)
    }
  }

  test("8/24/32-bit PCM decode to the exact fixture values + features") {
    for (id <- 0L until 24L) {
      val r8 = MediaCodecHelper.wavPcmStats(Multimodal.wav8Bytes(id))
      val s8 = (0 until 80 + (id % 40).toInt).map(i => ((i * 13 + id) % 256).toInt - 128)
      assert(r8 != null && r8.getInt(6) == 8)
      assert(r8.getLong(0) == s8.length.toLong && r8.getLong(2) == s8.map(_.toLong).sum)
      assert(r8.getLong(3) == s8.map(v => v.toLong * v).sum)
      assert(r8.getLong(5) == s8.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
      val r24 = MediaCodecHelper.wavPcmStats(Multimodal.wav24Bytes(id))
      val s24 = (0 until 60 + (id % 30).toInt)
        .map(i => ((i * 2113 + id * 17) % 16777216).toInt - 8388608)
      assert(r24 != null && r24.getInt(6) == 24)
      assert(r24.getLong(2) == s24.map(_.toLong).sum, s"id $id 24-bit sum")
      assert(r24.getLong(4) == s24.map(v => math.abs(v.toLong)).max)
      val r32 = MediaCodecHelper.wavPcmStats(Multimodal.wav32Bytes(id))
      val s32 = (0 until 40 + (id % 20).toInt)
        .map(i => (((i * 9973 + id * 31) % 400001).toInt - 200000) * 1000)
      assert(r32 != null && r32.getInt(6) == 32)
      assert(r32.getLong(2) == s32.map(_.toLong).sum)
      assert(r32.getLong(3) == s32.map(v => v.toLong * v).sum)
      // depth survives the frame sampler re-encode
      val fs = MediaCodecHelper.wavPcmStats(
        MediaCodecHelper.wavFrameSample(Multimodal.wav24Bytes(id), 3))
      val kept = s24.indices.filter(_ % 3 == 0).map(s24)
      assert(fs != null && fs.getInt(6) == 24)
      assert(fs.getLong(0) == kept.length.toLong && fs.getLong(2) == kept.map(_.toLong).sum)
    }
    // a 32-bit stream whose sum of squares overflows int64 is null
    val hot = Multimodal.wavDepthBytes(32, 8000, 20, _ => Int.MinValue + 1)
    assert(MediaCodecHelper.wavPcmStats(hot) == null, "sqsum overflow -> null")
  }

  test("IMA-ADPCM decodes the exact recurrence; envelope honest-nulls") {
    // independent replay of the IMA recommendation's integer recurrence
    // (table + bit-serial diff re-stated here, not shared with the
    // production decoder)
    val step = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25,
      28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
      130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
      449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
      1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660,
      4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
      11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
      27086, 29794, 32767)
    val adj = Array(-1, -1, -1, -1, 2, 4, 6, 8)
    def run(p0: Int, s0: Int, nibs: Seq[Int]): Seq[Int] = {
      var p = p0; var s = s0
      p0 +: nibs.map { n =>
        val st = step(s)
        var d = st >> 3
        if ((n & 1) != 0) d += st >> 2
        if ((n & 2) != 0) d += st >> 1
        if ((n & 4) != 0) d += st
        p = math.max(-32768, math.min(32767, if ((n & 8) != 0) p - d else p + d))
        s = math.max(0, math.min(88, s + adj(n & 7)))
        p
      }
    }
    for (id <- 0L until 12L) {
      val mono = MediaCodecHelper.wavPcmStats(Multimodal.wavAdpcmMonoBytes(id))
      val ch0 = (0 until 2 + (id % 2).toInt).flatMap { b =>
        run(((id * 97 + b * 411) % 1024).toInt - 512, ((id + 17 * b) % 89).toInt,
          (0 until 40).map(k => ((k * 7 + id * 3 + b * 11) % 16).toInt))
      }
      assert(mono != null && mono.getInt(6) == 4, s"id $id")
      assert(mono.getLong(0) == ch0.length.toLong)
      assert(mono.getLong(2) == ch0.map(_.toLong).sum, s"id $id mono sum")
      assert(mono.getLong(3) == ch0.map(v => v.toLong * v).sum)
      assert(mono.getLong(4) == ch0.map(v => math.abs(v.toLong)).max)
      assert(mono.getLong(5) ==
        ch0.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
      val st2 = MediaCodecHelper.wavPcmStats(Multimodal.wavAdpcmStereoBytes(id))
      val chans = (0 to 1).map { c =>
        run(((id * 97 + c * 333) % 1024).toInt - 512, ((id + 31 * c) % 89).toInt,
          (0 until 8 * (4 + (id % 3).toInt))
            .map(k => ((k * 7 + id * 3 + c * 5) % 16).toInt))
      }
      assert(st2 != null && st2.getLong(0) == chans(0).length.toLong)
      assert(st2.getLong(2) == chans.flatten.map(_.toLong).sum, s"id $id st sum")
      assert(st2.getLong(5) ==
        chans(0).sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
    }
    // honest nulls: lying wSamplesPerBlock, step index > 88, ragged data;
    // flipping the codec byte to 0x02 makes a STRUCTURALLY INVALID
    // MS-ADPCM blob (20-byte fmt carries no coefficient table), so the
    // r17 MS decoder nulls it too
    val good = Multimodal.wavAdpcmMonoBytes(3L)
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(off) = v.toByte; b
    }
    // fmt starts at byte 20 (RIFF 12 + "fmt "+len 8): spb low byte is
    // fmt+18 = 38; codec low byte fmt+0 = 20
    assert(MediaCodecHelper.wavPcmStats(patched(38, 99)) == null, "lying spb")
    assert(MediaCodecHelper.wavPcmStats(patched(20, 0x02)) == null,
      "codec 2 without a coefficient table")
    // block 0 header's step index forced past 88 (layout: RIFF 12 +
    // fmt 8+20 + fact 8+4 + data tag 8 = byte 60; header idx at +2)
    assert(MediaCodecHelper.wavPcmStats(patched(62, 120)) == null, "idx > 88")
    val ragged = good.dropRight(1) // data no longer whole blocks
    // dropRight truncates below the declared data length -> dataLen %
    // blockAlign != 0 -> null
    assert(MediaCodecHelper.wavPcmStats(ragged) == null, "ragged data")
  }

  test("MS-ADPCM decodes the coefficient-pair recurrence; envelope honest-nulls") {
    // independent replay of the Microsoft recurrence (standard pairs +
    // adaptation table re-stated here, not shared with the decoder)
    val coef = Array((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
      (460, -208), (392, -232))
    val adapt = Array(230, 230, 230, 230, 307, 409, 512, 614, 768, 614,
      512, 409, 307, 230, 230, 230)
    def run(pi: Int, d0: Int, a1: Int, a2: Int, nibs: Seq[Int]): Seq[Int] = {
      var s1 = a1; var s2 = a2; var dl = d0.toLong
      Seq(a2, a1) ++ nibs.map { u =>
        val sn = if (u >= 8) u - 16 else u
        val p0 = (s1.toLong * coef(pi)._1 + s2.toLong * coef(pi)._2) / 256 +
          sn * dl
        val p = math.max(-32768L, math.min(32767L, p0)).toInt
        s2 = s1; s1 = p
        dl = math.max(16L, adapt(u) * dl / 256)
        p
      }
    }
    for (id <- 0L until 12L) {
      val mono = MediaCodecHelper.wavPcmStats(Multimodal.wavMsAdpcmMonoBytes(id))
      val ch0 = (0 until 2 + (id % 2).toInt).flatMap { b =>
        run(((b * 3 + id) % 7).toInt, 16 + ((id * 13 + b * 7) % 500).toInt,
          ((id * 97 + b * 411) % 1024).toInt - 512,
          ((id * 53 + b * 29) % 1024).toInt - 512,
          (0 until 20).map(k => ((k * 7 + id * 3 + b * 11) % 16).toInt))
      }
      assert(mono != null && mono.getInt(6) == 4, s"id $id")
      assert(mono.getLong(0) == ch0.length.toLong)
      assert(mono.getLong(2) == ch0.map(_.toLong).sum, s"id $id mono sum")
      assert(mono.getLong(3) == ch0.map(v => v.toLong * v).sum)
      assert(mono.getLong(4) == ch0.map(v => math.abs(v.toLong)).max)
      assert(mono.getLong(5) ==
        ch0.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
      val st2 = MediaCodecHelper.wavPcmStats(Multimodal.wavMsAdpcmStereoBytes(id))
      val chans = (0 to 1).map { c =>
        run(((c + id) % 7).toInt, 16 + ((id * 11 + c * 5) % 300).toInt,
          ((id * 97 + c * 333) % 1024).toInt - 512,
          ((id * 41 + c * 77) % 1024).toInt - 512,
          (0 until 8 + 2 * (id % 3).toInt)
            .map(k => ((k * 7 + id * 3 + c * 5) % 16).toInt))
      }
      assert(st2 != null && st2.getLong(0) == chans(0).length.toLong)
      assert(st2.getLong(2) == chans.flatten.map(_.toLong).sum, s"id $id st sum")
      assert(st2.getLong(4) == chans.flatten.map(v => math.abs(v.toLong)).max)
      assert(st2.getLong(5) ==
        chans(0).sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
    }
    // honest nulls. Layout of the fixture: fmt data at byte 20 (len 50),
    // fact at 70, data tag at 82, first block at 90. spb low byte
    // fmt+18 = 38, wNumCoef fmt+20 = 40, channels fmt+2 = 22; block 0's
    // bPredictor is data byte 0 = 90.
    val good = Multimodal.wavMsAdpcmMonoBytes(3L)
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(off) = v.toByte; b
    }
    assert(MediaCodecHelper.wavPcmStats(patched(38, 99)) == null, "lying spb")
    assert(MediaCodecHelper.wavPcmStats(patched(40, 0)) == null, "no coefs")
    assert(MediaCodecHelper.wavPcmStats(patched(90, 9)) == null,
      "bPredictor past the declared table")
    assert(MediaCodecHelper.wavPcmStats(patched(22, 3)) == null,
      "3-channel MS-ADPCM has no defined nibble interleave")
    assert(MediaCodecHelper.wavPcmStats(good.dropRight(1)) == null, "ragged")
  }

  test("MS-ADPCM rejects a cbSize overrunning the fmt chunk (r17 advice)") {
    // fmtLen 22 carries cbSize+spb+wNumCoef but ZERO coefficient pairs,
    // while cbSize claims 4 + 4*7: without the fmtLen bound the decoder
    // reads the following data chunk's bytes as iCoef pairs — a garbage
    // decode, not the honest null the truncated-table doc promises
    val out = new java.io.ByteArrayOutputStream()
    def le(i: Int, n: Int): Unit =
      (0 until n).foreach(b => out.write((i >> (8 * b)) & 0xff))
    out.write("RIFF".getBytes("US-ASCII")); le(4 + (8 + 22) + (8 + 44), 4)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); le(22, 4)
    le(2, 2); le(1, 2); le(8000, 4); le(4000, 4); le(11, 2); le(4, 2)
    le(32, 2) // cbSize: claims 7 pairs, only 4 extension bytes exist
    le(10, 2) // wSamplesPerBlock = 2 + 2*(11-7)/1: consistent
    le(7, 2)  // wNumCoef
    out.write("data".getBytes("US-ASCII")); le(44, 4)
    (0 until 44).foreach(_ => out.write(0)) // 4 ragged-free blocks of 11
    assert(MediaCodecHelper.wavPcmStats(out.toByteArray) == null,
      "coefficient table past the fmt chunk end")
  }

  test("arithmetic JPEG (SOF9): conformance against libjpeg-encoded streams") {
    // Golden fixtures produced by the SYSTEM libjpeg's QM-coder encoder
    // (jpeg_write_coefficients with arith_code=TRUE, quant DC=8/AC=16
    // [chroma DC=4], 16x16, 2x2 blocks) — a wholly independent second
    // implementation of T.81 Annex D. Block (0,0) of the gray lanes is
    // the house GrayAcSeed (so the expected pixels are the pre-verified
    // GrayAcPixels), the rest are DC-only constants. Decoding these
    // byte-exactly proves the production QM decoder + statistical model
    // conform to the published spec, not merely to the repo's own
    // fixture encoder.
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val gray = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffc9000b080010001001011100" +
      "ffcc000600101005ffda0008010100003f00c892662d49751ad2ceaacd0a90f4ff00" +
      "2effd9")
    val grayRst = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffc9000b080010001001011100" +
      "ffcc000600101005ffdd00040001ffda0008010100003f00c892662d49751ad2d0ff" +
      "d0d228ffd1ff009affd2d2aaffd9")
    val grayCond = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffc9000b080010001001011100" +
      "ffcc000600201004ffda0008010100003f00c892662d49751ad2ceaacc490be9e9e8" +
      "ffd9")
    val color = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffdb0043010410101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "10101010101010101010101010101010101010101010ffc900110800100010030111" +
      "00021101031101ffcc000a0010100501101105ffda000c03010002110311003f00d2" +
      "582d13b4594fa1373e8b7884fa54418514ffd9")
    // gray expectation: AC-seed block at (0,0), DC constants elsewhere
    def grayExp(x: Int, y: Int): Int =
      if (x < 8 && y < 8) Multimodal.GrayAcPixels(y * 8 + x)
      else if (y < 8) 158 // dc 30
      else if (x < 8) 68  // dc -60
      else 223            // dc 95
    for ((bytes, tag) <- Seq((gray, "plain"), (grayRst, "rst1"),
        (grayCond, "cond L0 U2 K4"))) {
      val r = MediaCodecHelper.decodeJpeg(bytes)
      assert(r != null && r.width == 16 && r.height == 16 && r.bpp == 1,
        s"gray $tag decodes")
      for (y <- 0 until 16; x <- 0 until 16)
        assert((r.pix(y * 16 + x) & 0xff) == grayExp(x, y),
          s"gray $tag ($x,$y)")
    }
    // large-coefficient lane: DC -120, ACs 900/-800/500/-3/2 (zigzag
    // 1/2/10/30/63) — the deep magnitude trees and mantissa bins on both
    // sides of the category split, with clamping. Expected pixels from
    // an independent float64 IDCT at design time (worst rounding-
    // boundary distance 7.2e-4 vs ~1e-12 double noise).
    val grayBig = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffc9000b080008000801011100" +
      "ffcc000600101005ffda0008010100003f00ff00cbf90466e961186852547762b2e1" +
      "60000420ffd9")
    val bigExp = Array(
      255, 255, 202, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0,
      251, 0, 0, 0, 0, 0, 0, 0,
      255, 255, 255, 255, 53, 0, 0, 0,
      255, 255, 255, 255, 255, 27, 0, 0,
      255, 255, 255, 255, 0, 0, 0, 0,
      255, 255, 255, 255, 255, 0, 0, 0,
      255, 255, 255, 255, 255, 255, 255, 255)
    val rb = MediaCodecHelper.decodeJpeg(grayBig)
    assert(rb != null && rb.width == 8 && rb.height == 8 && rb.bpp == 1)
    for (i <- 0 until 64)
      assert((rb.pix(i) & 0xff) == bigExp(i), s"gray_big pixel $i")
    // color expectation: per-quadrant constant YCbCr through the fixed-
    // point CCIR 601 conversion the decoder documents
    val yq = Array(168, 88, 208, 48)       // 128 + {40,-40,80,-80}
    val cbq = Array(5, -10, 15, -3)        // q=4: dc*4/8
    val crq = Array(-8, 12, 3, -15)
    val rc = MediaCodecHelper.decodeJpeg(color)
    assert(rc != null && rc.width == 16 && rc.height == 16 && rc.bpp == 3)
    for (y <- 0 until 16; x <- 0 until 16) {
      val qd = (y / 8) * 2 + (x / 8)
      val yv = yq(qd); val cb = cbq(qd); val cr = crq(qd)
      def clamp(v: Int) = math.max(0, math.min(255, v))
      val er = clamp(yv + ((91881 * cr + 32768) >> 16))
      val eg = clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16))
      val eb = clamp(yv + ((116130 * cb + 32768) >> 16))
      val o = (y * 16 + x) * 3
      assert((rc.pix(o) & 0xff) == er && (rc.pix(o + 1) & 0xff) == eg &&
        (rc.pix(o + 2) & 0xff) == eb, s"color ($x,$y)")
    }
  }

  test("progressive-arithmetic JPEG (SOF10): conformance against libjpeg") {
    // libjpeg's standard 6-scan successive-approximation script
    // (jpeg_simple_progression + arith_code): DC first Al=1, AC bands
    // first Al=2, AC refine 2->1, DC refine 1->0, AC refine 1->0 — the
    // exact shape `jpegtran -progressive -arithmetic` emits. Same
    // coefficients as the sequential goldens, so the same expected
    // pixels. grayp_rst2 adds restart markers INSIDE every scan
    // (per-segment statistics resets mid-scan); colorp runs the
    // interleaved-DC + per-component-AC geometry with chroma statistics
    // slot 1.
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val grayp = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffca000b080010001001011100" +
      "ffcc00040010ffda0008010100000001b69b2b600f3cffcc00041005ffda00080101" +
      "0001050230ffcc00041005ffda0008010100063f0230ffcc00041005ffda00080101" +
      "00013f2117b87fa0000000000780ffda0008010100000010b8ffcc00041005ffda00" +
      "08010100013f10d9a1a9d0e800000020ffd9")
    val graypRst = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffca000b080010001001011100" +
      "ffcc00040010ffdd00040002ffda0008010100000001b69affd0ff003532e0ffcc00" +
      "041005ffda000801010001050230ffd0c0ffcc00041005ffda0008010100063f0230" +
      "ffd0c0ffcc00041005ffda0008010100013f2117b87fa00000000008ffd0c0ffda00" +
      "08010100000010c0ffd0ffcc00041005ffda0008010100013f10d9a1a9d0e8000000" +
      "20ffd0c0ffd9")
    val colorp = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffdb0043010410101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "10101010101010101010101010101010101010101010ffca00110800100010030111" +
      "00021101031101ffcc000600100110ffda000c03010002100310000001d1c3863df8" +
      "cc7fc0adf6df5b4245f640ffcc00041005ffda0008010100010502c0ffcc00041105" +
      "ffda0008010301013f01c0ffcc00041105ffda0008010201013f01c0ffcc00041005" +
      "ffda0008010100063f02c0ffcc00041005ffda0008010100013f21c0ffda000c0301" +
      "00020003000000104bd0ffcc00041105ffda0008010301013f10c0ffcc00041105ff" +
      "da0008010201013f10c0ffcc00041005ffda0008010100013f10c0ffd9")
    // the progressive seed is GrayAcSeed PLUS coefficient 2 at zigzag 63
    // (the band-end edge: a coefficient at the very last position of the
    // Ss=6..63 scan, refined at kex=63) — expected pixels from the
    // independent float64 IDCT (worst rounding-boundary distance 1.3e-3)
    val progAcPix = Array(
      152, 137, 128, 125, 136, 132, 121, 105,
      142, 132, 115, 124, 124, 132, 114, 104,
      142, 125, 123, 113, 136, 126, 125, 108,
      141, 134, 111, 127, 122, 140, 121, 115,
      148, 127, 124, 109, 134, 124, 126, 109,
      161, 149, 123, 132, 125, 139, 121, 114,
      182, 161, 146, 131, 143, 135, 130, 115,
      187, 169, 144, 138, 136, 136, 122, 111)
    def grayExp(x: Int, y: Int): Int =
      if (x < 8 && y < 8) progAcPix(y * 8 + x)
      else if (y < 8) 158
      else if (x < 8) 68
      else 223
    for ((bytes, tag) <- Seq((grayp, "plain"), (graypRst, "rst2"))) {
      val r = MediaCodecHelper.decodeJpeg(bytes)
      assert(r != null && r.width == 16 && r.height == 16 && r.bpp == 1,
        s"grayp $tag decodes")
      for (y <- 0 until 16; x <- 0 until 16)
        assert((r.pix(y * 16 + x) & 0xff) == grayExp(x, y),
          s"grayp $tag ($x,$y)")
    }
    val yq = Array(168, 88, 208, 48)
    val cbq = Array(5, -10, 15, -3)
    val crq = Array(-8, 12, 3, -15)
    val rc = MediaCodecHelper.decodeJpeg(colorp)
    assert(rc != null && rc.width == 16 && rc.height == 16 && rc.bpp == 3)
    for (y <- 0 until 16; x <- 0 until 16) {
      val qd = (y / 8) * 2 + (x / 8)
      val yv = yq(qd); val cb = cbq(qd); val cr = crq(qd)
      def clamp(v: Int) = math.max(0, math.min(255, v))
      val o = (y * 16 + x) * 3
      assert((rc.pix(o) & 0xff) == clamp(yv + ((91881 * cr + 32768) >> 16)) &&
        (rc.pix(o + 1) & 0xff) ==
          clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)) &&
        (rc.pix(o + 2) & 0xff) ==
          clamp(yv + ((116130 * cb + 32768) >> 16)), s"colorp ($x,$y)")
    }
  }

  test("sequential-arithmetic MULTI-SCAN JPEG: conformance against libjpeg") {
    // the T.81 non-interleaved sequential layout under arithmetic
    // coding: a SOF9 frame split into a Y-only full-band scan and an
    // interleaved Cb+Cr full-band scan (libjpeg custom scan_info,
    // arith_code=TRUE) — each scan its own arithmetic segment through
    // the buffered coefficient path. Y block (0,0) carries the house
    // AC seed (decoding to GrayAcPixels as luma), the rest DC-only
    // constants; the last JPEG null besides hierarchical frames.
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val seqms = hx(
      "ffd8ffe000104a46494600010100000100010000ffdb004300081010101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "101010101010101010101010101010101010101010ffdb0043010410101010101010" +
      "10101010101010101010101010101010101010101010101010101010101010101010" +
      "10101010101010101010101010101010101010101010ffc900110800100010030111" +
      "00021101031101ffcc000600101005ffda0008010100003f00c892662d49751ad2d0" +
      "13f221f88080ffcc000601101105ffda000a0202110311003f00d0945a9066e823f2" +
      "442cd8ffd9")
    val yq = Array(168, 88, 208, 48)
    val cbq = Array(5, -10, 15, -3)
    val crq = Array(-8, 12, 3, -15)
    val r = MediaCodecHelper.decodeJpeg(seqms)
    assert(r != null && r.width == 16 && r.height == 16 && r.bpp == 3)
    for (y <- 0 until 16; x <- 0 until 16) {
      val qd = (y / 8) * 2 + (x / 8)
      val yv =
        if (x < 8 && y < 8) Multimodal.GrayAcPixels(y * 8 + x) else yq(qd)
      val cb = cbq(qd); val cr = crq(qd)
      def clamp(v: Int) = math.max(0, math.min(255, v))
      val o = (y * 16 + x) * 3
      assert((r.pix(o) & 0xff) == clamp(yv + ((91881 * cr + 32768) >> 16)) &&
        (r.pix(o + 1) & 0xff) ==
          clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)) &&
        (r.pix(o + 2) & 0xff) ==
          clamp(yv + ((116130 * cb + 32768) >> 16)), s"seqms ($x,$y)")
    }
  }

  test("arithmetic JPEG fixtures decode to their closed forms; envelope nulls") {
    for (id <- 0L until 14L) {
      // gray lane a: restarts + default conditioning (no DAC)
      val a = MediaCodecHelper.decodeJpeg(Multimodal.grayJpegArithBytes(id))
      val (wa, ha) = (14 + (id % 19).toInt, 10 + (id % 11).toInt)
      assert(a != null && a.width == wa && a.height == ha && a.bpp == 1,
        s"a id $id")
      for (y <- 0 until ha; x <- 0 until wa) {
        val want =
          if (x < 8 && y < 8) Multimodal.GrayAcPixels(y * 8 + x)
          else (((x / 8) * 31 + (y / 8) * 47 + id * 13) % 256).toInt
        assert((a.pix(y * wa + x) & 0xff) == want, s"a id $id ($x,$y)")
      }
      // gray lane b: non-default DAC conditioning U=3, Kx=16
      val b = MediaCodecHelper.decodeJpeg(Multimodal.condJpegArithBytes(id))
      val (wb, hb) = (12 + (id % 13).toInt, 9 + (id % 9).toInt)
      assert(b != null && b.width == wb && b.height == hb, s"b id $id")
      for (y <- 0 until hb; x <- 0 until wb) {
        val want =
          if (x < 8 && y < 8) Multimodal.GrayAcPixels(y * 8 + x)
          else (((x / 8) * 53 + (y / 8) * 19 + id * 29) % 256).toInt
        assert((b.pix(y * wb + x) & 0xff) == want, s"b id $id ($x,$y)")
      }
      // progressive lane: spectral DC + AC scans, restarts inside both
      val pp = MediaCodecHelper.decodeJpeg(
        Multimodal.grayJpegArithProgBytes(id))
      val (wp, hp) = (13 + (id % 17).toInt, 9 + (id % 10).toInt)
      assert(pp != null && pp.width == wp && pp.height == hp, s"p id $id")
      for (y <- 0 until hp; x <- 0 until wp) {
        val want =
          if (x < 8 && y < 8) Multimodal.GrayAcPixels(y * 8 + x)
          else (((x / 8) * 41 + (y / 8) * 23 + id * 19) % 256).toInt
        assert((pp.pix(y * wp + x) & 0xff) == want, s"p id $id ($x,$y)")
      }
      // multi-scan lane: Y full-band scan (AC seed) + interleaved Cb+Cr
      val ms = MediaCodecHelper.decodeJpeg(Multimodal.msJpegArithBytes(id))
      val (wm, hm) = (10 + (id % 19).toInt, 8 + (id % 13).toInt)
      assert(ms != null && ms.width == wm && ms.height == hm && ms.bpp == 3,
        s"ms id $id")
      for (y <- 0 until hm; x <- 0 until wm) {
        val yv =
          if (x < 8 && y < 8) Multimodal.GrayAcPixels(y * 8 + x)
          else (((x / 8) * 43 + (y / 8) * 17 + id * 23) % 256).toInt
        val cb = (((x / 8) * 19 + id * 3) % 256).toInt - 128
        val cr = (((y / 8) * 37 + id * 29) % 256).toInt - 128
        def clamp(v: Int) = math.max(0, math.min(255, v))
        val o = (y * wm + x) * 3
        assert((ms.pix(o) & 0xff) == clamp(yv + ((91881 * cr + 32768) >> 16))
          && (ms.pix(o + 1) & 0xff) ==
            clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16))
          && (ms.pix(o + 2) & 0xff) ==
            clamp(yv + ((116130 * cb + 32768) >> 16)), s"ms id $id ($x,$y)")
      }
      // color lane: 4:2:0 + restarts through upsample + color convert
      val c = MediaCodecHelper.decodeJpeg(Multimodal.colorJpegArithBytes(id))
      val (wc, hc) = (11 + (id % 21).toInt, 8 + (id % 15).toInt)
      assert(c != null && c.width == wc && c.height == hc && c.bpp == 3,
        s"c id $id")
      for (y <- 0 until hc; x <- 0 until wc) {
        val yv = (((x / 8) * 37 + (y / 8) * 13 + id * 17) % 256).toInt
        val cb = (((x / 16) * 23 + id * 7) % 256).toInt - 128
        val cr = (((y / 16) * 29 + id * 11) % 256).toInt - 128
        def clamp(v: Int) = math.max(0, math.min(255, v))
        val o = (y * wc + x) * 3
        assert((c.pix(o) & 0xff) == clamp(yv + ((91881 * cr + 32768) >> 16)),
          s"c id $id ($x,$y) r")
        assert((c.pix(o + 1) & 0xff) ==
          clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)),
          s"c id $id ($x,$y) g")
        assert((c.pix(o + 2) & 0xff) ==
          clamp(yv + ((116130 * cb + 32768) >> 16)), s"c id $id ($x,$y) b")
      }
    }
    // honest nulls
    val good = Multimodal.grayJpegArithBytes(3L)
    assert(MediaCodecHelper.decodeJpeg(good.dropRight(6)) == null, "ragged")
    def patched(off: Int, v: Int): Array[Byte] = {
      val x = good.clone(); x(off) = v.toByte; x
    }
    val sof = {
      var i = 2
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc9)) i += 1
      i
    }
    assert(MediaCodecHelper.decodeJpeg(patched(sof + 1, 0xca)) == null,
      "SOF10 progressive-arithmetic stays out of envelope")
  }

  test("arithmetic vs Huffman entropy layers agree on identical coefficients") {
    // the same quantized zigzag blocks through jpegBaselineBytes (Huffman)
    // and jpegArithBytes (QM) must decode to IDENTICAL rasters: the
    // entropy layer is the only difference, and both feed the same
    // dequant + IDCT. Randomized seeds sweep runs, ZRL-range gaps, large
    // magnitudes (both Kx splits) and both signs.
    // seeds stay inside the Huffman fixture encoder's deliberately tiny
    // symbol table (run-0 sizes to 5, the run-11 size-1 symbol): dense
    // nonzero 1..8, an optional run-11 single at 20 — the arithmetic
    // side has no such limit and its large-magnitude/long-run coverage
    // comes from the libjpeg goldens and the fixture lanes
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 12) {
      val seed = new Array[Int](64)
      seed(0) = rnd.nextInt(200) - 100
      for (k <- 1 to 8) {
        val v = rnd.nextInt(62) - 31
        seed(k) = if (v == 0) 7 else v
      }
      if (trial % 3 != 0) seed(20) = if (rnd.nextBoolean()) 1 else -1
      val w = 24; val h = 16
      val yb = (bx: Int, by: Int) => (bx * 19 + by * 77 + trial * 31) % 256
      val hf = Multimodal.jpegBaselineBytes(w, h, color = false,
        sub420 = false, yb, null, null, seed, restartInterval = 2)
      val ar = Multimodal.jpegArithBytes(w, h, color = false,
        sub420 = false, yb, null, null, seed, restartInterval = 2,
        dacU = if (trial % 2 == 0) -1 else 4,
        dacK = if (trial % 2 == 0) -1 else 1)
      val rh = MediaCodecHelper.decodeJpeg(hf)
      val ra = MediaCodecHelper.decodeJpeg(ar)
      assert(rh != null && ra != null, s"trial $trial decodes")
      assert(rh.width == ra.width && rh.height == ra.height)
      assert(java.util.Arrays.equals(rh.pix, ra.pix),
        s"trial $trial: entropy layers disagree")
    }
  }

  test("JPEG streams with DHT but no DQT honest-null (r17 advice)") {
    // without the qtDef gate the scan dequantizes against an all-zero
    // table and fabricates a constant raster (128 / 2048) — never-
    // installed quant slots must null like never-installed Huffman slots
    def stripDqt(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(b(0)); out.write(b(1))
      var off = 2; var done = false
      while (!done && off + 1 < b.length) {
        val m = b(off + 1) & 0xff
        if (m == 0xda) { out.write(b, off, b.length - off); done = true }
        else {
          val len = ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
          if (m != 0xdb) out.write(b, off, 2 + len)
          off += 2 + len
        }
      }
      out.toByteArray
    }
    assert(MediaCodecHelper.decodeJpeg(Multimodal.grayJpegBytes(3L)) != null)
    assert(MediaCodecHelper.decodeJpeg(
      stripDqt(Multimodal.grayJpegBytes(3L))) == null, "gray, no DQT")
    assert(MediaCodecHelper.decodeJpeg(
      stripDqt(Multimodal.colorJpegBytes(3L))) == null, "color, no DQT")
    assert(MediaCodecHelper.jpeg12Stats(
      stripDqt(Multimodal.jpeg12Bytes(3L))) == null, "12-bit, no DQT")
  }

  test("sub-byte PNG decodes depths 1/2/4 on types 0/3; envelope nulls") {
    import MediaCodecHelper.decodePng
    for (id <- 0L until 12L) {
      // bi-level gray: 0/255, row padding + Adam7-on-odd inside the loop
      val g1 = decodePng(Multimodal.png1GrayBytes(id))
      val w1 = 17 + (id % 14).toInt; val h1 = 9 + (id % 10).toInt
      assert(g1 != null && g1.width == w1 && g1.height == h1 && g1.bpp == 1)
      for (y <- 0 until h1; x <- 0 until w1)
        assert((g1.pix(y * w1 + x) & 0xff) == 255 * ((x + y * 3 + id) % 2),
          s"g1 id $id ($x,$y)")
      // depth-2 gray: v*85
      val g2 = decodePng(Multimodal.png2GrayBytes(id))
      val w2 = 11 + (id % 9).toInt; val h2 = 7 + (id % 8).toInt
      assert(g2 != null && g2.width == w2 && g2.bpp == 1)
      for (y <- 0 until h2; x <- 0 until w2)
        assert((g2.pix(y * w2 + x) & 0xff) == 85 * ((x * 3 + y * 5 + id) % 4),
          s"g2 id $id ($x,$y)")
      // depth-4 gray + color key in RAW sample space -> gray+alpha
      val k4 = decodePng(Multimodal.png4GrayKeyBytes(id))
      val w4 = 9 + (id % 8).toInt; val h4 = 6 + (id % 7).toInt
      assert(k4 != null && k4.bpp == 2, s"k4 id $id synthesizes alpha")
      for (y <- 0 until h4; x <- 0 until w4) {
        val v = ((x * 7 + y * 11 + id) % 16).toInt
        assert((k4.pix((y * w4 + x) * 2) & 0xff) == 17 * v, s"k4 gray $id")
        assert((k4.pix((y * w4 + x) * 2 + 1) & 0xff) ==
          (if (v == (id % 16).toInt) 0 else 255), s"k4 alpha $id ($x,$y)")
      }
      // depth-4 palette + per-entry tRNS -> RGBA, default-255 past array
      val p4 = decodePng(Multimodal.png4PaletteBytes(id))
      val wp = 13 + (id % 10).toInt; val hp = 8 + (id % 9).toInt
      assert(p4 != null && p4.bpp == 4, s"p4 id $id")
      for (y <- 0 until hp; x <- 0 until wp) {
        val i = ((x * 5 + y * 7 + id) % 16).toInt
        val o = (y * wp + x) * 4
        assert((p4.pix(o) & 0xff) == i * 17 &&
          (p4.pix(o + 1) & 0xff) == 255 - i * 17 &&
          (p4.pix(o + 2) & 0xff) == (i * 53) % 256 &&
          (p4.pix(o + 3) & 0xff) == (if (i < 8) i * 16 else 255),
          s"p4 id $id ($x,$y)")
      }
    }
    // out-of-range color key at sub-byte depth: synthesized alpha stays
    // fully opaque, never aliasing with a scaled sample (key 17 > max 15
    // must NOT match scaled gray 17)
    val kOut = decodePng(Multimodal.pngSubByteBytes(6, 5, 4, 0,
      interlaced = false, (x, y) => (x + y) % 16, trns = Array(0, 17)))
    assert(kOut != null && kOut.bpp == 2)
    for (p <- 0 until 30)
      assert((kOut.pix(p * 2 + 1) & 0xff) == 255, "out-of-range key is opaque")
    // envelope nulls: sub-byte on RGB/alpha-bearing types, depth 3
    val good = Multimodal.png1GrayBytes(2L)
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(off) = v.toByte
      // fix the IHDR CRC? no - a wrong IHDR field must null BEFORE any
      // CRC concern (the decoder's chunk walk does not verify CRCs)
      b
    }
    // IHDR data starts at byte 16: depth at 24, color type at 25
    assert(MediaCodecHelper.decodePng(patched(25, 2)) == null, "1-bit RGB")
    assert(MediaCodecHelper.decodePng(patched(25, 4)) == null, "1-bit gray+alpha")
    assert(MediaCodecHelper.decodePng(patched(24, 3)) == null, "depth 3")
    assert(MediaCodecHelper.decodePng(patched(24, 16)) == null,
      "depth 16 stays the png16 path's")
  }

  test("12-bit JPEG decodes DC-exact constants, AC vs reference IDCT, nulls") {
    // DC-only lanes: closed-form block constants land exactly
    for (id <- 0L until 12L) {
      val a = MediaCodecHelper.jpeg12Stats(Multimodal.jpeg12Bytes(id))
      val wA = 10 + (id % 15).toInt; val hA = 9 + (id % 8).toInt
      val pxA = for (y <- 0 until hA; x <- 0 until wA)
        yield ((x / 8) * 37 + (y / 8) * 59 + id * 13).toInt % 4096
      assert(a != null && a.getInt(0) == wA && a.getInt(1) == hA, s"id $id")
      assert(a.getLong(2) == pxA.map(_.toLong).sum, s"id $id sum")
      assert(a.getInt(3) == pxA.min && a.getInt(4) == pxA.max, s"id $id")
      val b = MediaCodecHelper.jpeg12Stats(Multimodal.jpeg12WideQBytes(id))
      val wB = 9 + (id % 11).toInt; val hB = 8 + (id % 9).toInt
      val pxB = for (y <- 0 until hB; x <- 0 until wB)
        yield 2048 + 100 * (((x / 8) * 7 + (y / 8) * 11 + id * 3).toInt % 41 - 20)
      assert(b != null && b.getInt(0) == wB && b.getInt(1) == hB, s"id $id")
      assert(b.getLong(2) == pxB.map(_.toLong).sum, s"id $id wideq sum")
      assert(b.getInt(3) == pxB.min && b.getInt(4) == pxB.max, s"id $id")
    }
    // AC coefficients at 12 bits vs an independent direct-form IDCT
    // (re-stated here): one 8x8 block, dc=160 (q0=8 -> dequant 1280),
    // run-0 ACs at zigzag 1 -> natural (u=1,v=0) and zigzag 2 ->
    // natural (u=0,v=1), unit quant steps
    val acBytes = Multimodal.jpeg12Bytes(8, 8, q0 = 8, q16 = false,
      (_, _) => 160, ac00 = Seq(300, -451), restartInterval = 0)
    val st = MediaCodecHelper.jpeg12Stats(acBytes)
    assert(st != null && st.getInt(0) == 8)
    def cc(u: Int) = if (u == 0) 1.0 / math.sqrt(2) else 1.0
    val ref = for (y <- 0 until 8; x <- 0 until 8) yield {
      val s = 0.25 * (cc(0) * cc(0) * 1280.0 +
        cc(1) * cc(0) * 300.0 * math.cos((2 * x + 1) * math.Pi / 16) +
        cc(0) * cc(1) * (-451.0) * math.cos((2 * y + 1) * math.Pi / 16))
      math.max(0, math.min(4095, math.floor(s + 2048.5).toInt))
    }
    assert(st.getLong(2) == ref.map(_.toLong).sum, "AC block sum")
    assert(st.getInt(3) == ref.min && st.getInt(4) == ref.max, "AC block extrema")
    // honest nulls
    val good = Multimodal.jpeg12Bytes(3L)
    def find(marker: Int): Int = {
      val i = good.indices.dropRight(1).find(i =>
        (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == marker).get
      i
    }
    val sof = find(0xc1)
    def patched(off: Int, v: Int): Array[Byte] = {
      val c = good.clone(); c(off) = v.toByte; c
    }
    assert(MediaCodecHelper.jpeg12Stats(patched(sof + 4, 8)) == null,
      "precision 8 is the other path's")
    assert(MediaCodecHelper.jpeg12Stats(patched(sof + 1, 0xc0)) == null,
      "SOF0 cannot be 12-bit")
    assert(MediaCodecHelper.jpeg12Stats(patched(sof + 11, 0x21)) == null,
      "2x1 sampling")
    assert(MediaCodecHelper.jpeg12Stats(Multimodal.grayJpegBytes(3L)) == null,
      "8-bit SOF0 is not this path's")
    assert(MediaCodecHelper.decodeJpeg(good) == null,
      "the 8-bit raster decoder keeps nulling 12-bit frames")
    assert(MediaCodecHelper.jpeg12Stats(good.dropRight(8)) == null, "ragged")
  }

  // independent replay of T.81 H.1.2 (re-stated here, not shared with
  // the decoder): first sample <- 1<<(P-pt-1), rest of first line <-
  // Ra, first column <- Rb, else the scan predictor; mod 2^16; inverse
  // point transform << pt. Shared by the SOF3 and SOF11 tests.
  private def losslessRecon(w: Int, h: Int, p: Int, sel: Int, pt: Int,
                            nc: Int,
                            diff: (Int, Int, Int) => Int,
                            restartRows: Int = 0): Seq[Int] = {
      val rec = Array.ofDim[Int](nc, h, w)
      val out = Seq.newBuilder[Int]
      for (y <- 0 until h; x <- 0 until w; c <- 0 until nc) {
        // a row-aligned restart re-predicts its row as a first line
        val fl = y == 0 || (restartRows > 0 && y % restartRows == 0)
        val pred =
          if (fl && x == 0) 1 << (p - pt - 1)
          else if (fl) rec(c)(y)(x - 1)
          else if (x == 0) rec(c)(y - 1)(0)
          else {
            val ra = rec(c)(y)(x - 1)
            val rb = rec(c)(y - 1)(x)
            val rcn = rec(c)(y - 1)(x - 1)
            sel match {
              case 1 => ra
              case 2 => rb
              case 3 => rcn
              case 4 => ra + rb - rcn
              case 5 => ra + ((rb - rcn) >> 1)
              case 6 => rb + ((ra - rcn) >> 1)
              case _ => (ra + rb) >> 1
            }
          }
        val rx = (pred + diff(c, x, y)) & 0xffff
        rec(c)(y)(x) = rx
        out += ((rx << pt) & 0xffff)
      }
      out.result()
  }

  private def losslessCheck(bytes: Array[Byte], w: Int, h: Int, p: Int,
                            sel: Int, pt: Int, nc: Int,
                            diff: (Int, Int, Int) => Int,
                            tag: String, restartRows: Int = 0): Unit = {
    val st = MediaCodecHelper.jpegLosslessStats(bytes)
    assert(st != null, tag)
    val pix = losslessRecon(w, h, p, sel, pt, nc, diff, restartRows)
    assert(st.getInt(0) == w && st.getInt(1) == h, tag)
    assert(st.getInt(2) == nc && st.getInt(3) == p, tag)
    assert(st.getLong(4) == pix.map(_.toLong).sum, s"$tag sum")
    assert(st.getInt(5) == pix.min && st.getInt(6) == pix.max, tag)
  }

  test("lossless JPEG reconstructs the DPCM recurrence for all 7 predictors") {
    def check(bytes: Array[Byte], w: Int, h: Int, p: Int, sel: Int, pt: Int,
              nc: Int, diff: (Int, Int, Int) => Int, tag: String): Unit =
      losslessCheck(bytes, w, h, p, sel, pt, nc, diff, tag)
    // the three gated lanes (predictors 1, 2, 4)
    for (id <- 0L until 12L) {
      val w16 = 6 + (id % 5).toInt
      check(Multimodal.jpegLosslessG16Bytes(id), w16, 5 + (id % 4).toInt,
        16, 1, 0, 1, (_, x, y) => {
          val k = x + y * w16
          if (k % 23 == 7) 32768
          else if (k % 17 == 3) ((id * 31 + x * 3 + y * 5) % 40000).toInt - 20000
          else ((id * 7 + x * 13 + y * 29) % 1201).toInt - 600
        }, s"g16 id $id")
      check(Multimodal.jpegLosslessG12Bytes(id), 5 + (id % 6).toInt,
        4 + (id % 5).toInt, 12, 2, 2, 1,
        (_, x, y) => ((id * 11 + x * 7 + y * 3) % 401).toInt - 200,
        s"g12 id $id")
      check(Multimodal.jpegLossless3cBytes(id), 4 + (id % 7).toInt,
        4 + (id % 3).toInt, 8, 4, 0, 3,
        (c, x, y) => ((id * 5 + c * 17 + x * 3 + y * 11) % 101).toInt - 50,
        s"c3 id $id")
    }
    // the shift-based predictors 3/5/6/7 (not prefix-summable, so no
    // SQL oracle lane): negative-difference shifts exercise the
    // arithmetic >> on both signs
    for (sel <- Seq(3, 5, 6, 7); pt <- Seq(0, 1)) {
      val d = (c: Int, x: Int, y: Int) => ((x * 37 + y * 53 + c * 7) % 501) - 250
      val bytes = Multimodal.jpegLosslessBytes(7, 6, 14, sel, pt, 2, d)
      check(bytes, 7, 6, 14, sel, pt, 2, d, s"sel $sel pt $pt")
    }
  }

  test("lossless JPEG envelope honest-nulls") {
    // fixture layout: SOI 2 + DHT 38 (marker 2, len 2 = 36, class 1,
    // counts 16, vals 17) -> SOF3 marker at 40: precision byte 44, nc
    // byte 49, comp hv byte 51; SOS marker at 53 (nc=1): Ss byte 60,
    // AhAl byte 62; entropy from 63
    val good = Multimodal.jpegLosslessG16Bytes(3L)
    assert(MediaCodecHelper.jpegLosslessStats(good) != null)
    // the 8-bit STILL decoder keeps nulling SOF3 (no fabricated raster)
    assert(MediaCodecHelper.decodeJpeg(good) == null, "SOF3 stays out of decodeJpeg")
    // and the lossless decoder nulls every OTHER frame type
    assert(MediaCodecHelper.jpegLosslessStats(Multimodal.grayJpegBytes(3L)) == null,
      "SOF0 is not lossless")
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = good.clone(); b(off) = v.toByte; b
    }
    assert((good(40) & 0xff) == 0xff && (good(41) & 0xff) == 0xc3, "layout check")
    assert(MediaCodecHelper.jpegLosslessStats(patched(44, 1)) == null, "precision 1")
    assert(MediaCodecHelper.jpegLosslessStats(patched(44, 17)) == null, "precision 17")
    assert(MediaCodecHelper.jpegLosslessStats(patched(51, 0x21)) == null,
      "2x1 sampling")
    assert(MediaCodecHelper.jpegLosslessStats(patched(60, 0)) == null, "Ss 0")
    assert(MediaCodecHelper.jpegLosslessStats(patched(60, 8)) == null, "Ss 8")
    assert(MediaCodecHelper.jpegLosslessStats(patched(62, 0x10)) == null, "Ah != 0")
    // pt >= precision on the 12-bit lane
    val g12 = Multimodal.jpegLosslessG12Bytes(3L)
    assert(MediaCodecHelper.jpegLosslessStats(g12) != null)
    def patched12(off: Int, v: Int): Array[Byte] = {
      val b = g12.clone(); b(off) = v.toByte; b
    }
    assert(MediaCodecHelper.jpegLosslessStats(patched12(62, 12)) == null,
      "pt >= precision")
    // a MID-row DRI (5 MCUs, w=9) nulls: only row-aligned intervals
    // are in envelope (r19)
    val withDri = good.take(53) ++
      Array[Byte](0xff.toByte, 0xdd.toByte, 0, 4, 0, 5) ++ good.drop(53)
    assert((good(53) & 0xff) == 0xff && (good(54) & 0xff) == 0xda, "SOS at 53")
    assert(MediaCodecHelper.jpegLosslessStats(withDri) == null, "mid-row DRI")
    // truncated entropy data bails
    assert(MediaCodecHelper.jpegLosslessStats(good.dropRight(6)) == null, "ragged")
  }

  test("SOF11 lossless-arithmetic JPEG: gated lanes match the DPCM recurrence") {
    for (id <- 0L until 12L) {
      val w16 = 5 + (id % 6).toInt
      losslessCheck(Multimodal.jpegLosslessArithG16Bytes(id), w16,
        4 + (id % 5).toInt, 16, 1, 0, 1, (_, x, y) => {
          val k = x + y * w16
          if (k % 19 == 5) 32768
          else if (k % 13 == 2) ((id * 37 + x * 5 + y * 7) % 50001).toInt - 25000
          else ((id * 3 + x * 17 + y * 23) % 1401).toInt - 700
        }, s"arith g16 id $id")
      losslessCheck(Multimodal.jpegLosslessArithG12Bytes(id),
        4 + (id % 7).toInt, 4 + (id % 4).toInt, 12, 2, 2, 1,
        (_, x, y) => ((id * 13 + x * 11 + y * 5) % 501).toInt - 250,
        s"arith g12 id $id (non-default DAC L=1 U=3)")
      losslessCheck(Multimodal.jpegLosslessArith3cBytes(id),
        4 + (id % 5).toInt, 3 + (id % 4).toInt, 8, 4, 0, 3,
        (c, x, y) => ((id * 7 + c * 13 + x * 5 + y * 17) % 121).toInt - 60,
        s"arith c3 id $id")
    }
  }

  test("SOF11 and SOF3 decode identical samples from identical diffs (all 7 predictors)") {
    // two entirely different entropy coders (canonical Huffman vs the
    // Annex-D QM coder under the H.1.2.2 model), one pixel truth — the
    // cross-coder law that also covers the shift-based predictors
    // 3/5/6/7 the SQL oracle can't replay
    for (sel <- 1 to 7; pt <- Seq(0, 2)) {
      val d = (c: Int, x: Int, y: Int) =>
        ((x * 31 + y * 47 + c * 11 + sel * 5) % 801) - 400
      val hf = Multimodal.jpegLosslessBytes(6, 5, 14, sel, pt, 2, d)
      val af = Multimodal.jpegLosslessArithBytes(6, 5, 14, sel, pt, 2,
        dacL = -1, dacU = -1, d)
      val dh = MediaCodecHelper.decodeJpegLossless(hf)
      val da = MediaCodecHelper.decodeJpegLossless(af)
      assert(dh != null && da != null, s"sel $sel pt $pt")
      assert(da.width == dh.width && da.height == dh.height &&
        da.nc == dh.nc && da.precision == dh.precision, s"sel $sel pt $pt")
      assert(da.samples.toSeq == dh.samples.toSeq,
        s"sel $sel pt $pt: arithmetic and Huffman decodes diverge")
    }
    // wide diffs force X walks to X15 through BOTH magnitude-bin sets
    val wide = (c: Int, x: Int, y: Int) =>
      if ((x + y) % 3 == 0) ((x * 9001 + y * 7919 + c) % 65001) - 32500
      else ((x * 13 + y * 29 + c) % 31) - 15
    val hw = Multimodal.jpegLosslessBytes(8, 7, 16, 1, 0, 1, wide)
    val aw = Multimodal.jpegLosslessArithBytes(8, 7, 16, 1, 0, 1,
      dacL = -1, dacU = -1, wide)
    assert(MediaCodecHelper.decodeJpegLossless(aw).samples.toSeq ==
      MediaCodecHelper.decodeJpegLossless(hw).samples.toSeq, "wide diffs")
  }

  test("row-aligned restart intervals decode on both lossless paths") {
    // gated lanes vs the restart-aware recurrence
    for (id <- 0L until 10L) {
      val wr = 5 + (id % 5).toInt
      losslessCheck(Multimodal.jpegLosslessRstBytes(id), wr,
        5 + (id % 4).toInt, 16, 1, 0, 1, (_, x, y) => {
          val k = x + y * wr
          if (k % 13 == 4) ((id * 19 + x * 7 + y * 3) % 40001).toInt - 20000
          else ((id * 5 + x * 11 + y * 17) % 1201).toInt - 600
        }, s"huff rst id $id", restartRows = 2)
      losslessCheck(Multimodal.jpegLosslessArithRstBytes(id),
        4 + (id % 6).toInt, 4 + (id % 4).toInt, 12, 2, 0, 1,
        (_, x, y) => ((id * 7 + x * 13 + y * 11) % 501).toInt - 250,
        s"arith rst id $id", restartRows = 2)
    }
    // cross-coder law WITH restarts: same diffs + same DRI through both
    // entropy coders decode to identical samples, all 7 predictors
    for (sel <- 1 to 7) {
      val d = (c: Int, x: Int, y: Int) =>
        ((x * 29 + y * 41 + c * 13 + sel * 3) % 601) - 300
      val hf = Multimodal.jpegLosslessBytes(6, 7, 14, sel, 0, 2, d,
        restartInterval = 12) // 2 rows x 6 MCUs
      val af = Multimodal.jpegLosslessArithBytes(6, 7, 14, sel, 0, 2,
        dacL = -1, dacU = -1, d, restartInterval = 12)
      val dh = MediaCodecHelper.decodeJpegLossless(hf)
      val da = MediaCodecHelper.decodeJpegLossless(af)
      assert(dh != null && da != null, s"rst sel $sel")
      assert(da.samples.toSeq == dh.samples.toSeq,
        s"rst sel $sel: coders diverge under restarts")
    }
    // restart semantics actually change pixels (the reset is not a no-op)
    val d0 = (c: Int, x: Int, y: Int) => ((x * 3 + y * 7) % 101) - 50
    val plain = MediaCodecHelper.decodeJpegLossless(
      Multimodal.jpegLosslessBytes(5, 6, 12, 2, 0, 1, d0))
    val rst = MediaCodecHelper.decodeJpegLossless(
      Multimodal.jpegLosslessBytes(5, 6, 12, 2, 0, 1, d0,
        restartInterval = 10))
    assert(plain.samples.toSeq != rst.samples.toSeq,
      "a restart must reset prediction, not just resync bytes")
    // a MID-row interval stays honest-null
    val g = Multimodal.jpegLosslessRstBytes(3L)
    // DRI payload sits 4 bytes after the 0xFFDD marker: find and patch it
    val driAt = (0 until g.length - 1).find(i =>
      (g(i) & 0xff) == 0xff && (g(i + 1) & 0xff) == 0xdd).get
    val badDri = g.clone()
    badDri(driAt + 5) = (badDri(driAt + 5) + 1).toByte // no longer % w == 0
    assert(MediaCodecHelper.jpegLosslessStats(badDri) == null,
      "mid-row restart intervals stay out of envelope")
  }

  test("SOF11 envelope honest-nulls") {
    val good = Multimodal.jpegLosslessArithG16Bytes(3L)
    assert(MediaCodecHelper.jpegLosslessStats(good) != null)
    // the 8-bit raster decoder keeps nulling lossless-arithmetic frames
    assert(MediaCodecHelper.decodeJpeg(good) == null,
      "SOF11 stays out of decodeJpeg")
    // truncated entropy data bails (no zero-padded garbage)
    assert(MediaCodecHelper.jpegLosslessStats(good.dropRight(4)) == null,
      "ragged")
    // a MID-row DRI (5 MCUs, w=8) nulls, exactly like the Huffman path
    val sosAt = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val withDri = good.take(sosAt) ++
      Array[Byte](0xff.toByte, 0xdd.toByte, 0, 4, 0, 5) ++ good.drop(sosAt)
    assert(MediaCodecHelper.jpegLosslessStats(withDri) == null, "mid-row DRI")
    // a DAC with L > U is malformed
    val g12 = Multimodal.jpegLosslessArithG12Bytes(3L)
    assert(MediaCodecHelper.jpegLosslessStats(g12) != null)
    assert((g12(2) & 0xff) == 0xff && (g12(3) & 0xff) == 0xcc, "DAC at 2")
    val badDac = g12.clone()
    badDac(7) = 0x14.toByte // U=1 < L=4
    assert(MediaCodecHelper.jpegLosslessStats(badDac) == null, "L > U")
  }

  test("frame-sampling keeps every Nth frame and re-encodes a valid WAV") {
    val fs = MediaCodecHelper.wavFrameSample(Multimodal.wavBytes(8000, 100), 7)
    assert(fs != null)
    val row = MediaCodecHelper.wavPcmStats(fs)
    val kept = (0 until 100 by 7).map(i => (i % 256) * 128 - 16384)
    assert(row.getLong(0) == kept.length.toLong)
    assert(row.getLong(2) == kept.map(_.toLong).sum)
    assert(row.getInt(1) == 8000) // rate preserved
    // non-PCM input routes to null
    assert(MediaCodecHelper.wavFrameSample("RIFFxxxxWAVE".getBytes, 2) == null)
  }

  test("Column API: decode/resize/features/frame-sample stay codegen'd end-to-end") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 16, 9, 8000, 100), (2L, 47, 15, 12000, 149))
      .toDF("id", "w", "h", "rate", "n")
      .withColumn("img", Multimodal.makePng(col("w"), col("h")))
      .withColumn("wav", Multimodal.makeWav(col("rate"), col("n")))
    val img = Multimodal.decodeImage(col("img"))
    val rs = Multimodal.decodeImage(Multimodal.imageResize(col("img"), 8, 8))
    val fs = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("wav"), 4))
    val got = df.select(col("id"), col("w"), col("h"), col("n"),
        img.getField("width").as("dw"), img.getField("px_sum").as("ps"),
        rs.getField("width").as("rw"), rs.getField("px_sum").as("rp"),
        fs.getField("n_samples").as("fn"), fs.getField("pcm_sum").as("fsum"))
      .collect().sortBy(_.getLong(0))
    for (r <- got) {
      val (w, h, n) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(r.getInt(4) == w)
      val expSum = (for (y <- 0 until h; x <- 0 until w)
        yield ((x * 31 + y * 17) & 0xff).toLong).sum
      assert(r.getLong(5) == expSum)
      assert(r.getInt(6) == 8)
      val expRs = (for (y <- 0 until 8; x <- 0 until 8)
        yield (((x * w / 8) * 31 + (y * h / 8) * 17) & 0xff).toLong).sum
      assert(r.getLong(7) == expRs)
      val kept = 0 until n by 4
      assert(r.getLong(8) == kept.length.toLong)
      assert(r.getLong(9) == kept.map(i => ((i % 256) * 128 - 16384).toLong).sum)
    }
    // an unaliased output is named after the prettyName alone (the int
    // arguments are not children), and the interpreted path calls the
    // same helper as codegen
    assert(df.select(Multimodal.imageResize(col("img"), 8, 8)).columns.toSeq ==
      Seq("graft_png_resize(img)"))
    val png = Multimodal.pngBytes(16, 9)
    val lit = org.apache.spark.sql.catalyst.expressions.Literal(png)
    assert(graft.expr.MediaCall.pngResizeNearest(lit, 8, 8).eval()
      .asInstanceOf[Array[Byte]].toSeq ==
      MediaCodecHelper.pngResizeNearest(png, 8, 8).toSeq)
    assert(graft.expr.MediaCall.pngStats(lit).eval() == MediaCodecHelper.pngStats(png))
  }

  // Under AQE, EnsureRequirements only inserts exchanges at execution
  // time (inside AdaptiveSparkPlanExec, opaque to collect()), so plan
  // assertions build the plan with AQE off to see the real exchanges.
  private def physicalNoAqe(build: => org.apache.spark.sql.DataFrame) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try build.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("pl_mm_corpus: no binary column ever enters an exchange") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.BinaryType
    val plan = physicalNoAqe(
      graft.queries.MediaPack.multimodalCorpus(spark, TestSpark.sfDir))
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, "expected the dedup window exchange")
    for (e <- exchanges; f <- e.child.schema.fields)
      assert(f.dataType != BinaryType,
        s"blob column '${f.name}' would be shuffled — decode/hash must stay scan-side")
  }

  test("mm_codec_roundtrip: decode pipeline plans zero shuffles") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = physicalNoAqe(
      graft.queries.MediaPack.codecRoundtrip(spark, TestSpark.sfDir))
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"per-row decode must be a pure scan-side map, found: $exchanges")
  }

  test("r15 media envelopes: every new decode query plans zero shuffles") {
    import org.apache.spark.sql.execution.exchange.Exchange
    for (q <- Seq(
        graft.queries.MediaPack.pngEnvelope(spark, TestSpark.sfDir),
        graft.queries.MediaPack.videoNoDht(spark, TestSpark.sfDir),
        graft.queries.MediaPack.audioDepth(spark, TestSpark.sfDir))) {
      val exchanges = physicalNoAqe(q).collect { case e: Exchange => e }
      assert(exchanges.isEmpty,
        s"per-row decode must be a pure scan-side map, found: $exchanges")
    }
  }

  test("PNG with IDAT split across multiple chunks decodes (valid per spec)") {
    // re-chunk a fixture PNG: split its single IDAT into 3-byte chunks
    val whole = Multimodal.pngBytes(12, 7)
    def beInt(b: Array[Byte], o: Int) =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    val out = new java.io.ByteArrayOutputStream()
    out.write(whole, 0, 8) // signature
    var off = 8
    while (off + 8 <= whole.length) {
      val len = beInt(whole, off)
      val tag = new String(whole, off + 4, 4, "US-ASCII")
      if (tag == "IDAT") {
        val data = whole.slice(off + 8, off + 8 + len)
        for (g <- data.grouped(3)) {
          val crc = new java.util.zip.CRC32()
          val tagged = "IDAT".getBytes("US-ASCII") ++ g
          crc.update(tagged)
          out.write(Array(((g.length >> 24) & 0xff).toByte, ((g.length >> 16) & 0xff).toByte,
            ((g.length >> 8) & 0xff).toByte, (g.length & 0xff).toByte))
          out.write(tagged)
          out.write(Array((((crc.getValue >> 24) & 0xff)).toByte, ((crc.getValue >> 16) & 0xff).toByte,
            ((crc.getValue >> 8) & 0xff).toByte, (crc.getValue & 0xff).toByte))
        }
      } else out.write(whole, off, 12 + len)
      off += 12 + len
    }
    val r = MediaCodecHelper.decodePng(out.toByteArray)
    assert(r != null && r.width == 12 && r.height == 7)
    assert(r.pix.toSeq == formulaPix(12, 7).toSeq)
  }

  test("out-of-envelope / header-vs-data-mismatched PNGs are rejected") {
    val good = Multimodal.pngBytes(8, 8)
    def mutated(o: Int, v: Byte) = { val b = good.clone(); b(o) = v; b }
    // IHDR data starts at byte 16: depth at +8=24, colorType at +9=25,
    // interlace at +12=28 (0-based)
    assert(MediaCodecHelper.decodePng(mutated(24, 16)) == null, "16-bit depth")
    // colorType flipped to palette but no PLTE chunk present: corrupt
    assert(MediaCodecHelper.decodePng(mutated(25, 3)) == null, "PLTE-less palette")
    // interlace flag set but the stream is sequential-sized: the Adam7
    // pass layout expects more filtered bytes than the stream holds
    assert(MediaCodecHelper.decodePng(mutated(28, 1)) == null, "size mismatch")
  }

  test("PNG: IHDR is the first chunk and appears exactly once, 8- and 16-bit") {
    def beInt(b: Array[Byte], o: Int) = java.nio.ByteBuffer.wrap(b, o, 4).getInt
    // (tag, whole chunk) for every chunk after the signature
    def chunks(b: Array[Byte]): Seq[(String, Array[Byte])] = {
      val out = Seq.newBuilder[(String, Array[Byte])]
      var off = 8
      while (off < b.length) {
        val len = beInt(b, off)
        out += new String(b, off + 4, 4, "US-ASCII") -> b.slice(off, off + 12 + len)
        off += 12 + len
      }
      out.result()
    }
    def png(cs: Seq[(String, Array[Byte])]) = Multimodal.pngBytes(1, 1).take(8) ++ cs.flatMap(_._2)
    val text = {
      val tagged = "tEXtComment\u0000first".getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32(); crc.update(tagged)
      java.nio.ByteBuffer.allocate(8 + tagged.length).putInt(tagged.length - 4)
        .put(tagged).putInt(crc.getValue.toInt).array()
    }
    val sample16 = (x: Int, y: Int, _: Int) => x * 4099 + y * 257
    for ((decode, big, small) <- Seq(
        (MediaCodecHelper.decodePng _, Multimodal.pngBytes(8, 8), Multimodal.pngBytes(4, 4)),
        (MediaCodecHelper.decodePng16 _,
          Multimodal.png16Bytes(8, 8, 0, interlaced = false, sample16),
          Multimodal.png16Bytes(4, 4, 0, interlaced = false, sample16)))) {
      val r = decode(big)
      assert(r != null && r.width == 8 && r.height == 8)
      // sig | IHDR 8x8 | IDAT | IHDR 4x4 | IDAT | IEND: a second IHDR
      // must not reset the geometry into a 4x4 decode
      val (head, iend) = chunks(big).span(_._1 != "IEND")
      val second = chunks(small).filter(c => c._1 == "IHDR" || c._1 == "IDAT")
      assert(decode(png(head ++ second ++ iend)) == null, "second IHDR")
      // an ancillary chunk ahead of IHDR: IHDR must come first
      assert(decode(png(("tEXt", text) +: chunks(big))) == null, "chunk before IHDR")
    }
  }

  test("palette / alpha / RGBA PNGs decode to the exact fixture formulas") {
    for (id <- 0L until 40L) {
      // palette (type 3): index -> RGB via PLTE
      val p3 = MediaCodecHelper.decodePng(Multimodal.palPngBytes(id))
      val (w3, h3) = (12 + (id % 19).toInt, 7 + (id % 13).toInt)
      assert(p3 != null && p3.width == w3 && p3.height == h3 && p3.bpp == 3,
        s"id $id p3")
      for (y <- 0 until h3; x <- 0 until w3) {
        val i = ((x * 5 + y * 13 + id) % 16).toInt
        val o = (y * w3 + x) * 3
        assert((p3.pix(o) & 0xff) == (i * 41 + 7) % 256, s"id $id p3 r($x,$y)")
        assert((p3.pix(o + 1) & 0xff) == (i * 61 + 13) % 256)
        assert((p3.pix(o + 2) & 0xff) == (i * 89 + 29) % 256)
      }
      // palette + tRNS: RGBA with default-255 beyond the tRNS array
      val p3a = MediaCodecHelper.decodePng(Multimodal.palAlphaPngBytes(id))
      val (wa, ha) = (10 + (id % 17).toInt, 6 + (id % 11).toInt)
      assert(p3a != null && p3a.bpp == 4 && p3a.width == wa && p3a.height == ha)
      for (y <- 0 until ha; x <- 0 until wa) {
        val i = ((x * 11 + y * 3 + id) % 16).toInt
        val o = (y * wa + x) * 4
        assert((p3a.pix(o) & 0xff) == (i * 41 + 7) % 256)
        val expA = if (i < 8) (i * 53 + 17) % 256 else 255
        assert((p3a.pix(o + 3) & 0xff) == expA, s"id $id alpha($x,$y)")
      }
      // gray+alpha (type 4)
      val ga = MediaCodecHelper.decodePng(Multimodal.grayAlphaPngBytes(id))
      val (wg, hg) = (14 + (id % 9).toInt, 5 + (id % 6).toInt)
      assert(ga != null && ga.bpp == 2 && ga.width == wg && ga.height == hg)
      for (y <- 0 until hg; x <- 0 until wg) {
        val o = (y * wg + x) * 2
        assert((ga.pix(o) & 0xff) == ((x * 23 + y * 29 + id) % 256).toInt)
        assert((ga.pix(o + 1) & 0xff) == ((x * 13 + y * 17 + id) % 256).toInt)
      }
      // RGBA (type 6)
      val ra = MediaCodecHelper.decodePng(Multimodal.rgbaPngBytes(id))
      val (wr, hr) = (9 + (id % 11).toInt, 6 + (id % 7).toInt)
      assert(ra != null && ra.bpp == 4 && ra.width == wr && ra.height == hr)
      for (y <- 0 until hr; x <- 0 until wr) {
        val o = (y * wr + x) * 4
        assert((ra.pix(o) & 0xff) == ((x * 19 + y * 7 + id) % 256).toInt)
        assert((ra.pix(o + 3) & 0xff) == ((x * 3 + y * 5 + id) % 256).toInt)
      }
    }
  }

  test("Adam7 interlace is a pure re-ordering: same raster both ways") {
    def px(x: Int, y: Int) = Array((x * 19 + y * 7) % 256, (x * 19 + y * 7 + 71) % 256,
      (x * 19 + y * 7 + 142) % 256, (x * 3 + y * 5) % 256)
    for ((w, h) <- Seq((1, 1), (2, 3), (7, 5), (8, 8), (9, 10), (16, 2), (3, 17))) {
      val seq = MediaCodecHelper.decodePng(
        Multimodal.pngEnvelopeBytes(w, h, 6, interlaced = false, px))
      val ilc = MediaCodecHelper.decodePng(
        Multimodal.pngEnvelopeBytes(w, h, 6, interlaced = true, px))
      assert(seq != null && ilc != null, s"${w}x$h")
      assert(java.util.Arrays.equals(seq.pix, ilc.pix), s"${w}x$h rasters differ")
    }
  }

  test("alpha rasters round-trip resize -> type-4/6 re-encode -> decode") {
    val src = MediaCodecHelper.decodePng(Multimodal.rgbaPngBytes(11L))
    val rz = MediaCodecHelper.pngResizeNearest(Multimodal.rgbaPngBytes(11L), 6, 6)
    assert(rz != null)
    val back = MediaCodecHelper.decodePng(rz)
    assert(back != null && back.bpp == 4 && back.width == 6 && back.height == 6)
    for (y <- 0 until 6; x <- 0 until 6; c <- 0 until 4) {
      val sx = x * src.width / 6; val sy = y * src.height / 6
      assert((back.pix((y * 6 + x) * 4 + c) & 0xff) ==
        (src.pix((sy * src.width + sx) * 4 + c) & 0xff), s"($x,$y,$c)")
    }
    // gray+alpha re-encode path (color type 4)
    val ga = MediaCodecHelper.pngResizeNearest(Multimodal.grayAlphaPngBytes(4L), 5, 5)
    val gback = MediaCodecHelper.decodePng(ga)
    assert(gback != null && gback.bpp == 2 && gback.width == 5)
  }

  test("PNG envelope edges: corrupt index, color-key tRNS, short tRNS") {
    // an index past the palette is corrupt -> null, never out-of-bounds
    val shortPal = Multimodal.pngEnvelopeBytes(4, 4, 3, interlaced = false,
      (_, _) => Array(10), palette = Array.tabulate(4)(i => (i, i, i)))
    assert(MediaCodecHelper.decodePng(shortPal) == null)
    // tRNS on color type 2 is color-KEY transparency: the alpha channel
    // is SYNTHESIZED — RGBA out, alpha 0 exactly where all three samples
    // match the key
    val keyed = MediaCodecHelper.decodePng(
      Multimodal.pngEnvelopeBytes(4, 4, 2, interlaced = false,
        (x, y) => Array(x, y, x + y), trns = Array(0, 0, 0, 0, 0, 0)))
    assert(keyed != null && keyed.bpp == 4)
    assert((keyed.pix(3) & 0xff) == 0, "pixel (0,0)=(0,0,0) matches the key")
    assert((keyed.pix(7) & 0xff) == 255, "pixel (1,0)=(1,0,1) does not")
    // a tRNS shorter than the palette defaults the tail to opaque
    val tail = MediaCodecHelper.decodePng(Multimodal.pngEnvelopeBytes(
      4, 4, 3, interlaced = false, (x, y) => Array((x + y * 4) % 16),
      palette = Array.tabulate(16)(i => (i, 2 * i, 3 * i)), trns = Array(7)))
    assert(tail != null && tail.bpp == 4)
    assert((tail.pix(3) & 0xff) == 7, "entry 0 alpha from tRNS")
    assert((tail.pix(7) & 0xff) == 255, "entry 1 defaults opaque")
  }

  test("16-bit PNG stats: full-precision samples, byte-level filters, Adam7") {
    for (id <- 0L until 24L) {
      val g = MediaCodecHelper.png16Stats(Multimodal.gray16PngBytes(id))
      val (w, h) = (13 + (id % 11).toInt, 6 + (id % 9).toInt)
      val vals = for (y <- 0 until h; x <- 0 until w)
        yield ((x * 2311 + y * 3571 + id * 97) % 65536).toInt
      assert(g != null, s"id $id gray16")
      assert(g.getInt(0) == w && g.getInt(1) == h && g.getInt(2) == 1)
      assert(g.getLong(3) == vals.map(_.toLong).sum, s"id $id sum")
      assert(g.getInt(4) == vals.min && g.getInt(5) == vals.max)
      val c = MediaCodecHelper.png16Stats(Multimodal.rgb16PngBytes(id))
      val (cw, ch) = (8 + (id % 9).toInt, 5 + (id % 8).toInt)
      val cvals = for (y <- 0 until ch; x <- 0 until cw; k <- 0 until 3)
        yield ((x * 2311 + y * 3571 + id * 97 + k * 7919) % 65536).toInt
      assert(c != null && c.getInt(2) == 3)
      assert(c.getLong(3) == cvals.map(_.toLong).sum, s"id $id rgb sum")
    }
    // interlace is a pure re-ordering at 16-bit too
    def px(x: Int, y: Int, c: Int) = (x * 999 + y * 77 + c * 13) % 65536
    val seq16 = MediaCodecHelper.png16Stats(
      Multimodal.png16Bytes(9, 10, 6, interlaced = false, px))
    val ilc16 = MediaCodecHelper.png16Stats(
      Multimodal.png16Bytes(9, 10, 6, interlaced = true, px))
    assert(seq16 != null && ilc16 != null)
    assert(seq16.getLong(3) == ilc16.getLong(3) &&
      seq16.getInt(4) == ilc16.getInt(4) && seq16.getInt(5) == ilc16.getInt(5))
    // envelope edges: 8-bit blob -> null here; 16-bit -> null in decodePng;
    // palette can't be 16-bit
    assert(MediaCodecHelper.png16Stats(Multimodal.pngBytes(4, 4)) == null)
    assert(MediaCodecHelper.decodePng(Multimodal.gray16PngBytes(1L)) == null)
  }

  test("G.711 expansion: canonical extremes, algebraic identity, WAV path") {
    // canonical values from the G.711 tables: both µ-law zeros, the
    // ±32124 µ-law extremes, the A-law -8 at 0x55 and +32256 at 0xAA
    assert(MediaCodecHelper.ulawToLinear(0xff) == 0)
    assert(MediaCodecHelper.ulawToLinear(0x7f) == 0)
    assert(MediaCodecHelper.ulawToLinear(0x00) == -32124)
    assert(MediaCodecHelper.ulawToLinear(0x80) == 32124)
    assert(MediaCodecHelper.alawToLinear(0x55) == -8)
    assert(MediaCodecHelper.alawToLinear(0xaa) == 32256)
    assert(MediaCodecHelper.alawToLinear(0x2a) == -32256)
    // algebraic identity over ALL 256 bytes: the implementation's
    // ((8m+132)<<e)-132 must equal the (2m+33)*2^(e+2)-132 closed form
    for (b <- 0 until 256) {
      val u = (~b) & 0xff
      val mag = ((2 * (u & 15) + 33) << (((u & 112) >> 4) + 2)) - 132
      val want = if ((u & 128) != 0) -mag else mag
      assert(MediaCodecHelper.ulawToLinear(b) == want, s"ulaw byte $b")
    }
    // through the WAV path: stats over a µ-law fixture replay the formula
    val row = MediaCodecHelper.wavPcmStats(Multimodal.wavUlawBytes(3L))
    val vals = (0 until 70 + 3 % 35)
      .map(i => MediaCodecHelper.ulawToLinear(((i * 29 + 3 * 13) % 256).toInt))
    assert(row != null && row.getInt(6) == 8)
    assert(row.getLong(0) == vals.length.toLong)
    assert(row.getLong(2) == vals.map(_.toLong).sum)
    assert(row.getLong(3) == vals.map(v => v.toLong * v).sum)
    // decimation preserves the codec: re-encoded clip still decodes µ-law
    val fs = MediaCodecHelper.wavPcmStats(
      MediaCodecHelper.wavFrameSample(Multimodal.wavUlawBytes(3L), 2))
    val kept = vals.indices.filter(_ % 2 == 0).map(vals)
    assert(fs != null && fs.getLong(2) == kept.map(_.toLong).sum,
      "codec lost in the frame-sample re-encode")
    // A-law WAV path
    val ar = MediaCodecHelper.wavPcmStats(Multimodal.wavAlawBytes(5L))
    val avals = (0 until 65 + 5 % 25)
      .map(i => MediaCodecHelper.alawToLinear(((i * 37 + 5 * 11) % 256).toInt))
    assert(ar != null && ar.getLong(2) == avals.map(_.toLong).sum)
  }

  test("jpegMeta walks SOI→SOF through variable-length segments") {
    // the fixture varies the COM length with (w+h) % 7, so these hit
    // different SOF offsets; components 1 and 3 both parse
    for ((w, h, c) <- Seq((24, 12, 1), (63, 22, 3), (1, 1, 1),
        (65535, 65535, 4), (300, 2, 3))) {
      val r = MediaCodecHelper.jpegMeta(Multimodal.jpegBytes(w, h, c))
      assert(r != null, s"${w}x$h/$c")
      assert(r.getInt(0) == w && r.getInt(1) == h && r.getInt(2) == c)
    }
  }

  test("jpegMeta: malformed and non-JPEG blobs return null, never garbage") {
    val good = Multimodal.jpegBytes(24, 12, 3)
    assert(MediaCodecHelper.jpegMeta(null) == null)
    assert(MediaCodecHelper.jpegMeta(Array[Byte](0x12, 0x34)) == null)
    assert(MediaCodecHelper.jpegMeta(Multimodal.pngBytes(8, 8)) == null)
    // truncated before the SOF segment
    assert(MediaCodecHelper.jpegMeta(good.take(20)) == null, "truncated")
    // SOS before any SOF: the walk must stop, not scan entropy data
    val noSof = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xda.toByte, 0, 8, 1, 1, 0, 0, 63, 0, 0x12, 0xff.toByte, 0x00, 0x34)
    assert(MediaCodecHelper.jpegMeta(noSof) == null, "SOS before SOF")
    // a segment length pointing past the end of the buffer
    val overflow = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xfe.toByte, 0x7f, 0xff.toByte, 'x')
    assert(MediaCodecHelper.jpegMeta(overflow) == null, "length overflow")
    // DHT (C4) must be skipped as a plain segment, not taken as a SOF
    val dhtFirst = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(Array[Byte](0xff.toByte, 0xd8.toByte))
      o.write(Array[Byte](0xff.toByte, 0xc4.toByte, 0, 5, 1, 2, 3))
      o.write(good.drop(2)) // rest of a valid stream (APP0 COM SOF0 ...)
      o.toByteArray
    }
    val r = MediaCodecHelper.jpegMeta(dhtFirst)
    assert(r != null && r.getInt(0) == 24 && r.getInt(1) == 12 &&
      r.getInt(2) == 3)
  }

  test("jpegMeta Column API: codegen'd walk matches the fixture formulas") {
    val s = spark
    import s.implicits._
    val df = (0L until 64L).toDF("doc_id")
      .withColumn("jpg", Multimodal.makeJpeg(
        (lit(24) + col("doc_id") % 40).cast("int"),
        (lit(12) + col("doc_id") % 11).cast("int"),
        (lit(1) + (col("doc_id") % 2) * 2).cast("int")))
    val got = df.select(col("doc_id"),
        Multimodal.mediaType(col("jpg")).as("t"),
        Multimodal.jpegWidth(col("jpg")).as("w"),
        Multimodal.jpegHeight(col("jpg")).as("h"),
        Multimodal.jpegComponents(col("jpg")).as("c"))
      .as[(Long, String, Long, Long, Long)].collect()
    got.foreach { case (id, t, w, h, c) =>
      assert(t == "image/jpeg")
      assert(w == 24 + id % 40 && h == 12 + id % 11 && c == 1 + (id % 2) * 2)
    }
  }

  // ---- baseline JPEG decode (Huffman + dequant + IDCT + color) ----

  /** Independent reference IDCT for the AC seed block: direct 2D double
    * sum (NOT the production separable form), floor(x+128.5) rounding.
    * Agreement with the stored GrayAcPixels and with production decode
    * means three independent evaluations of T.81 A.3.3 coincide.
    */
  private def referenceIdct(zigzagQuantized: Array[Int]): Array[Int] = {
    // regenerate zigzag by the diagonal walk (third independent derivation)
    val zig = new Array[(Int, Int)](64)
    var r = 0; var c = 0
    for (i <- 0 until 64) {
      zig(i) = (r, c)
      if ((r + c) % 2 == 0) {
        if (c == 7) r += 1 else if (r == 0) c += 1 else { r -= 1; c += 1 }
      } else {
        if (r == 7) c += 1 else if (c == 0) r += 1 else { r += 1; c -= 1 }
      }
    }
    val f = Array.ofDim[Double](8, 8) // f(row=v)(col=u), dequantized
    for (k <- 0 until 64 if zigzagQuantized(k) != 0) {
      val (row, col) = zig(k)
      f(row)(col) = zigzagQuantized(k).toDouble * (if (k == 0) 8 else 16)
    }
    def ct(u: Int, x: Int): Double =
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) / 2.0 *
        math.cos((2 * x + 1) * u * math.Pi / 16.0)
    val out = new Array[Int](64)
    for (y <- 0 until 8; x <- 0 until 8) {
      var acc = 0.0
      for (v <- 0 until 8; u <- 0 until 8) acc += f(v)(u) * ct(u, x) * ct(v, y)
      out(y * 8 + x) = math.max(0, math.min(255, math.floor(acc + 128.5).toInt))
    }
    out
  }

  test("GrayAcPixels matches an independent direct-form reference IDCT") {
    assert(referenceIdct(Multimodal.GrayAcSeed).toSeq ==
      Multimodal.GrayAcPixels.toSeq)
  }

  test("gray baseline JPEG decodes exactly: constants, AC block, restarts") {
    for (id <- Seq(0L, 1L, 7L, 36L, 123L, 499L)) {
      val w = 20 + (id % 37).toInt; val h = 11 + (id % 13).toInt
      val r = MediaCodecHelper.decodeJpeg(Multimodal.grayJpegBytes(id))
      assert(r != null, s"id $id failed to decode")
      assert(r.width == w && r.height == h && r.bpp == 1)
      for (y <- 0 until h; x <- 0 until w) {
        val bx = x / 8; val by = y / 8
        val want =
          if (bx == 0 && by == 0) Multimodal.GrayAcPixels((y % 8) * 8 + (x % 8))
          else ((bx * 29 + by * 41 + id * 7) % 256).toInt
        assert((r.pix(y * w + x) & 0xff) == want,
          s"id $id pixel ($x,$y): got ${r.pix(y * w + x) & 0xff}, want $want")
      }
    }
  }

  test("4:2:0 color JPEG decodes exactly through upsample + YCbCr→RGB") {
    for (id <- Seq(0L, 3L, 16L, 250L)) {
      val w = 9 + (id % 23).toInt; val h = 7 + (id % 17).toInt
      val r = MediaCodecHelper.decodeJpeg(Multimodal.colorJpegBytes(id))
      assert(r != null && r.width == w && r.height == h && r.bpp == 3)
      for (y <- 0 until h; x <- 0 until w) {
        val yv = (((x / 8) * 23 + (y / 8) * 31 + id * 11) % 256).toInt
        val cb = (((x / 16) * 17 + id * 5) % 256).toInt - 128
        val cr = (((y / 16) * 19 + id * 3) % 256).toInt - 128
        def cl(v: Int) = math.max(0, math.min(255, v))
        val want = Seq(
          cl(yv + ((91881 * cr + 32768) >> 16)),
          cl(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)),
          cl(yv + ((116130 * cb + 32768) >> 16)))
        val got = (0 to 2).map(c => r.pix((y * w + x) * 3 + c) & 0xff)
        assert(got == want, s"id $id pixel ($x,$y): got $got, want $want")
      }
    }
  }

  test("4:4:4 color (no subsampling) also decodes exactly") {
    val id = 42L
    val w = 19; val h = 10
    val bytes = Multimodal.jpegBaselineBytes(w, h, color = true, sub420 = false,
      yBlock = (bx, by) => ((bx * 23 + by * 31 + id * 11) % 256).toInt,
      cbBlock = (mx, _) => ((mx * 17 + id * 5) % 256).toInt,
      crBlock = (_, my) => ((my * 19 + id * 3) % 256).toInt,
      acSeed = null, restartInterval = 2)
    val r = MediaCodecHelper.decodeJpeg(bytes)
    assert(r != null && r.width == w && r.height == h && r.bpp == 3)
    // 4:4:4: chroma block grid == Y block grid (bx, by), not the MCU grid
    for (y <- 0 until h; x <- 0 until w) {
      val yv = (((x / 8) * 23 + (y / 8) * 31 + id * 11) % 256).toInt
      val cb = (((x / 8) * 17 + id * 5) % 256).toInt - 128
      val cr = (((y / 8) * 19 + id * 3) % 256).toInt - 128
      def cl(v: Int) = math.max(0, math.min(255, v))
      val want = Seq(
        cl(yv + ((91881 * cr + 32768) >> 16)),
        cl(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)),
        cl(yv + ((116130 * cb + 32768) >> 16)))
      val got = (0 to 2).map(c => r.pix((y * w + x) * 3 + c) & 0xff)
      assert(got == want, s"pixel ($x,$y): got $got, want $want")
    }
  }

  test("out-of-envelope and corrupt JPEGs return null, never garbage") {
    val good = Multimodal.grayJpegBytes(5L)
    assert(MediaCodecHelper.decodeJpeg(null) == null)
    assert(MediaCodecHelper.decodeJpeg(Array[Byte](1, 2)) == null)
    // truncated mid-entropy
    assert(MediaCodecHelper.decodeJpeg(good.dropRight(good.length / 3)) == null)
    // flip SOF0 -> SOF2: the baseline scan header (Ss=0, Se=63) is
    // malformed as a progressive scan (DC scans must have Se=0), so the
    // progressive path must bail to null, not misdecode
    val prog = good.clone()
    val sofIdx = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofIdx + 1) = 0xc2.toByte
    assert(MediaCodecHelper.decodeJpeg(prog) == null)
    // the meta-only fixture (garbage entropy bytes, no DQT/DHT)
    assert(MediaCodecHelper.decodeJpeg(Multimodal.jpegBytes(24, 12, 3)) == null)
    // corrupt a byte in the entropy stream: either a Huffman code goes
    // invalid (null) or values change — it must never throw
    val corrupt = good.clone()
    corrupt(corrupt.length - 10) = (corrupt(corrupt.length - 10) ^ 0x55).toByte
    MediaCodecHelper.decodeJpeg(corrupt) // no exception escapes
  }

  test("jpegResizeToPng: decode → NN resize → PNG round-trips the index map") {
    val id = 17L
    val src = MediaCodecHelper.decodeJpeg(Multimodal.grayJpegBytes(id))
    val png = MediaCodecHelper.jpegResizeToPng(Multimodal.grayJpegBytes(id), 8, 8)
    assert(png != null)
    val r = MediaCodecHelper.decodePng(png)
    assert(r != null && r.width == 8 && r.height == 8 && r.bpp == 1)
    for (y <- 0 until 8; x <- 0 until 8) {
      val sx = x * src.width / 8; val sy = y * src.height / 8
      assert((r.pix(y * 8 + x) & 0xff) == (src.pix(sy * src.width + sx) & 0xff))
    }
    assert(MediaCodecHelper.jpegResizeToPng(Array[Byte](1, 2, 3), 4, 4) == null)
  }

  test("JPEG Column API stays codegen'd end-to-end") {
    val s = spark
    import s.implicits._
    val df = (0L until 32L).toDF("doc_id")
      .withColumn("jpg", Multimodal.makeGrayJpeg(col("doc_id")))
      .withColumn("jpgc", Multimodal.makeColorJpeg(col("doc_id")))
    val st = Multimodal.decodeJpeg(col("jpg"))
    val stc = Multimodal.decodeJpeg(col("jpgc"))
    val rs = Multimodal.decodeImage(Multimodal.jpegResizePng(col("jpg"), 8, 8))
    val got = df.select(col("doc_id"),
        st.getField("width").as("w"), st.getField("height").as("h"),
        st.getField("channels").as("ch"), st.getField("px_sum").as("s"),
        stc.getField("channels").as("cch"),
        rs.getField("width").as("rw")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 20 + (id % 37).toInt)
      assert(r.getInt(2) == 11 + (id % 13).toInt)
      assert(r.getInt(3) == 1 && r.getInt(5) == 3 && r.getInt(6) == 8)
      // px_sum replayed from the block formula + AC constant
      val w = 20 + (id % 37).toInt; val h = 11 + (id % 13).toInt
      var sum = 0L
      for (by <- 0 until (h + 7) / 8; bx <- 0 until (w + 7) / 8) {
        val vis = math.min(8, w - 8 * bx) * math.min(8, h - 8 * by)
        sum += (if (bx == 0 && by == 0) 8383L
                else ((bx * 29 + by * 41 + id * 7) % 256) * vis)
      }
      assert(r.getLong(4) == sum, s"id $id px_sum")
    }
  }

  test("progressive gray decode == baseline decode of the same blocks") {
    // Same dims/blocks/AC seed through two entirely different bitstream
    // layouts: six progressive scans (spectral bands, Al=1 successive
    // approximation, restart markers in every scan) must reconstruct the
    // exact quantized coefficients of the single baseline scan, so the
    // rasters are byte-identical.
    for (id <- 0L until 40L) {
      val w = 17 + (id % 29).toInt; val h = 10 + (id % 9).toInt
      def blk(bx: Int, by: Int) = ((bx * 37 + by * 43 + id * 13) % 256).toInt
      val base = MediaCodecHelper.decodeJpeg(Multimodal.jpegBaselineBytes(
        w, h, color = false, sub420 = false, blk, null, null,
        Multimodal.GrayAcSeed, restartInterval = 5))
      val prog = MediaCodecHelper.decodeJpeg(
        Multimodal.grayProgressiveJpegBytes(id))
      assert(base != null && prog != null, s"id $id decode failed")
      assert(prog.width == w && prog.height == h && prog.bpp == 1)
      assert(java.util.Arrays.equals(prog.pix, base.pix), s"id $id pixels")
    }
    // the AC seed block survives band-split + approximation bit-exactly
    val p0 = MediaCodecHelper.decodeJpeg(Multimodal.grayProgressiveJpegBytes(0))
    for (y <- 0 until 8; x <- 0 until 8)
      assert((p0.pix(y * p0.width + x) & 0xff) ==
        Multimodal.GrayAcPixels(y * 8 + x), s"seed ($x,$y)")
  }

  test("progressive 4:2:0 color decode == baseline decode of the same blocks") {
    for (id <- 0L until 40L) {
      val w = 10 + (id % 21).toInt; val h = 8 + (id % 13).toInt
      def yb(bx: Int, by: Int) = ((bx * 13 + by * 29 + id * 17) % 256).toInt
      def cb(mx: Int, my: Int) = { val _ = my; ((mx * 11 + id * 7) % 256).toInt }
      def cr(mx: Int, my: Int) = { val _ = mx; ((my * 23 + id * 9) % 256).toInt }
      val base = MediaCodecHelper.decodeJpeg(Multimodal.jpegBaselineBytes(
        w, h, color = true, sub420 = true, yb, cb, cr, null, 0))
      val prog = MediaCodecHelper.decodeJpeg(
        Multimodal.colorProgressiveJpegBytes(id))
      assert(base != null && prog != null, s"id $id decode failed")
      assert(prog.width == w && prog.height == h && prog.bpp == 3)
      assert(java.util.Arrays.equals(prog.pix, base.pix), s"id $id pixels")
    }
  }

  test("progressive: truncated / scanless streams return null, never garbage") {
    val good = Multimodal.grayProgressiveJpegBytes(3)
    assert(MediaCodecHelper.decodeJpeg(good) != null)
    // no EOI: a progressive image is only complete at EOI
    assert(MediaCodecHelper.decodeJpeg(good.dropRight(2)) == null)
    // truncated mid-scan
    assert(MediaCodecHelper.decodeJpeg(good.take(good.length / 2)) == null)
    // header only (SOI..SOF2..DHT, no SOS): scanless EOI is null
    val meta = MediaCodecHelper.jpegMeta(good)
    assert(meta != null, "SOF2 header metadata still parses")
  }

  test("sequential multi-scan decode == single-scan baseline of the same blocks") {
    // The same 4:2:0 frame through two layouts: Y alone (non-interleaved
    // real-grid block order) then Cb+Cr interleaved, vs one interleaved
    // scan. Pad blocks are coded only in the single-scan layout; they are
    // invisible, so the rasters must still be byte-identical.
    for (id <- 0L until 40L) {
      val w = 11 + (id % 19).toInt; val h = 9 + (id % 11).toInt
      def yb(bx: Int, by: Int) = ((bx * 19 + by * 31 + id * 23) % 256).toInt
      def cb(mx: Int, my: Int) = { val _ = my; ((mx * 13 + id * 3) % 256).toInt }
      def cr(mx: Int, my: Int) = { val _ = mx; ((my * 29 + id * 5) % 256).toInt }
      val base = MediaCodecHelper.decodeJpeg(Multimodal.jpegBaselineBytes(
        w, h, color = true, sub420 = true, yb, cb, cr, null, 0))
      val seq = MediaCodecHelper.decodeJpeg(Multimodal.seqJpegBytes(id))
      assert(base != null && seq != null, s"id $id decode failed")
      assert(seq.width == w && seq.height == h && seq.bpp == 3)
      assert(java.util.Arrays.equals(seq.pix, base.pix), s"id $id pixels")
    }
    // a component scanned twice, or missing at EOI, is corrupt -> null
    val good = Multimodal.seqJpegBytes(7)
    assert(MediaCodecHelper.decodeJpeg(good.dropRight(2)) == null, "no EOI")
  }

  test("GIF decode: LZW + palette replay the fixture formulas, interlaced too") {
    for (id <- 0L until 64L) {
      val w = 13 + (id % 17).toInt; val h = 8 + (id % 9).toInt
      val r = MediaCodecHelper.decodeGif(Multimodal.gifFixtureBytes(id))
      assert(r != null, s"id $id decode failed")
      assert(r.width == w && r.height == h && r.bpp == 3)
      // independent replay: pixel (x,y) -> palette((x*7+y*11+id)%16)
      for (y <- 0 until h; x <- 0 until w) {
        val i = ((x * 7 + y * 11 + id) % 16).toInt
        val o = (y * w + x) * 3
        assert((r.pix(o) & 0xff) == (i * 37 + 5) % 256, s"id $id r($x,$y)")
        assert((r.pix(o + 1) & 0xff) == (i * 59 + 11) % 256, s"id $id g($x,$y)")
        assert((r.pix(o + 2) & 0xff) == (i * 83 + 23) % 256, s"id $id b($x,$y)")
      }
    }
    // interlaced and sequential row orders decode to the same raster
    val seq = MediaCodecHelper.decodeGif(Multimodal.gifBytes(21, 17,
      interlaced = false, 4, i => (i, 2 * i, 3 * i),
      (x, y) => (x + y) % 16))
    val ilc = MediaCodecHelper.decodeGif(Multimodal.gifBytes(21, 17,
      interlaced = true, 4, i => (i, 2 * i, 3 * i),
      (x, y) => (x + y) % 16))
    assert(seq != null && ilc != null)
    assert(java.util.Arrays.equals(seq.pix, ilc.pix))
    // a wide image forces LZW code widths past the initial 5 bits: the
    // width-growth handshake (decoder at 1<<w, encoder one later) must
    // hold through several bumps
    val big = MediaCodecHelper.decodeGif(Multimodal.gifBytes(200, 60,
      interlaced = false, 4,
      i => ((i * 7) % 256, (i * 13) % 256, (i * 19) % 256),
      (x, y) => (x * 5 + y * 3 + x * y) % 16))
    assert(big != null && big.width == 200 && big.height == 60)
    for (y <- Seq(0, 31, 59); x <- Seq(0, 99, 199)) {
      val i = (x * 5 + y * 3 + x * y) % 16
      assert((big.pix((y * 200 + x) * 3) & 0xff) == (i * 7) % 256, s"($x,$y)")
    }
    // malformed: truncated, non-GIF, oversized dims -> null, never garbage
    val good = Multimodal.gifFixtureBytes(3)
    assert(MediaCodecHelper.decodeGif(null) == null)
    assert(MediaCodecHelper.decodeGif(good.take(10)) == null)
    assert(MediaCodecHelper.decodeGif(good.dropRight(good.length / 2)) == null)
    assert(MediaCodecHelper.decodeGif(Multimodal.pngBytes(4, 4)) == null)
    val corrupt = good.clone()
    corrupt(good.length / 2) = (corrupt(good.length / 2) ^ 0x55).toByte
    MediaCodecHelper.decodeGif(corrupt) // may be null or decode; must not throw
  }

  test("multi-scan SOF0 past the buffered-coefficient cap returns null fast") {
    // 4000x4000x3 = 48M samples: passes the 64M single-scan cap, but the
    // buffered (multi-scan) path holds 4-byte Ints per sample, so the
    // 16M-sample progressive ceiling must apply the moment multiScan is
    // discovered at SOS — before the ~192 MB coefficient-buffer allocation.
    val out = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    b(0xff, 0xd8) // SOI
    b(0xff, 0xc0, 0, 17, 8, 0x0f, 0xa0, 0x0f, 0xa0, 3, // SOF0 4000x4000x3
      1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)
    b(0xff, 0xda, 0, 8, 1, 1, 0x00, 0, 63, 0) // SOS: Y alone -> multiScan
    val t0 = System.nanoTime()
    assert(MediaCodecHelper.decodeJpeg(out.toByteArray) == null)
    assert(System.nanoTime() - t0 < 1e9.toLong, "cap must fire before alloc")
  }

  test("a scan naming the same component twice is rejected, not misdecoded") {
    val good = Multimodal.seqJpegBytes(7)
    assert(MediaCodecHelper.decodeJpeg(good) != null)
    // locate the second SOS (the interleaved Cb+Cr scan, ns=2): entropy
    // data cannot contain a bare FF DA (FF00 stuffing), so the byte scan
    // finds only real markers
    val sos = (0 until good.length - 1).filter(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda)
    assert(sos.length == 2, "fixture has a Y scan and a Cb+Cr scan")
    val dup = good.clone()
    assert((dup(sos(1) + 4) & 0xff) == 2, "second scan is ns=2")
    dup(sos(1) + 7) = dup(sos(1) + 5) // Cr's id := Cb's id
    assert(MediaCodecHelper.decodeJpeg(dup) == null)
  }

  test("a scan naming a component id the frame lacks is rejected on every path") {
    // libjpeg: "Invalid component ID in SOS". The single-scan 8-bit and
    // the 12-bit paths must match scan components by id, never by
    // position; scan ids out of frame order are corrupt too
    def patchSosId(good: Array[Byte], id: Int): Array[Byte] = {
      val sos = (0 until good.length - 1).find(i =>
        (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
      val bad = good.clone()
      assert((bad(sos + 5) & 0xff) == 1, "first scan component is id 1")
      bad(sos + 5) = id.toByte
      bad
    }
    val gray = Multimodal.grayJpegBytes(0)
    val j12 = Multimodal.jpeg12Bytes(0)
    assert(MediaCodecHelper.decodeJpeg(gray) != null)
    assert(MediaCodecHelper.decodeJpeg12(j12) != null)
    assert(MediaCodecHelper.decodeJpeg(patchSosId(gray, 9)) == null)
    assert(MediaCodecHelper.decodeJpegAuto(patchSosId(gray, 9)) == null)
    assert(MediaCodecHelper.decodeJpeg12(patchSosId(j12, 9)) == null)
    assert(MediaCodecHelper.jpeg12Stats(patchSosId(j12, 9)) == null)
    // color single scan listing Y, Cr, Cb: every id exists, order wrong
    val color = Multimodal.colorJpegBytes(0)
    val sos = (0 until color.length - 1).find(i =>
      (color(i) & 0xff) == 0xff && (color(i + 1) & 0xff) == 0xda).get
    val swapped = color.clone()
    swapped(sos + 7) = 3; swapped(sos + 9) = 2
    assert(MediaCodecHelper.decodeJpeg(color) != null)
    assert(MediaCodecHelper.decodeJpeg(swapped) == null)
  }

  test("GIF image offset from / smaller than the logical screen is null") {
    def px(x: Int, y: Int) = (x * 3 + y * 5) % 16
    def pl(i: Int) = ((i * 31 + 7) % 256, (i * 43 + 13) % 256, (i * 53 + 17) % 256)
    val good = Multimodal.gifBytes(19, 11, interlaced = false, 4, pl, px)
    assert(MediaCodecHelper.decodeGif(good) != null)
    // image descriptor follows header(6) + LSD(7) + global table
    val palBytes = 3 * (2 << ((good(10) & 0xff) & 7))
    val desc = 13 + palBytes
    assert((good(desc) & 0xff) == 0x2c, "descriptor located")
    // nonzero left offset: the image must be composited onto the logical
    // screen, which this decoder does not do -> honest null
    val offs = good.clone(); offs(desc + 1) = 1
    assert(MediaCodecHelper.decodeGif(offs) == null)
    // image smaller than the logical screen: same compositing requirement
    val small = good.clone(); small(desc + 5) = 18 // width 18 < screen 19
    assert(MediaCodecHelper.decodeGif(small) == null)
  }

  test("animated GIF: frame count via the sub-block walk, clear-code decode") {
    for (id <- 0L until 32L) {
      val w = 11 + (id % 13).toInt; val h = 7 + (id % 7).toInt
      val nf = 2 + (id % 5).toInt
      val blob = Multimodal.gifAnimFixtureBytes(id)
      val meta = MediaCodecHelper.gifMeta(blob)
      assert(meta != null, s"id $id meta")
      assert(meta.getInt(0) == w && meta.getInt(1) == h && meta.getInt(2) == nf)
      // frame 0 decodes through the CLEAR-reset literal-code stream
      val r = MediaCodecHelper.decodeGif(blob)
      assert(r != null && r.width == w && r.height == h, s"id $id decode")
      for (y <- 0 until h; x <- 0 until w) {
        val i = ((x * 3 + y * 7 + id) % 16).toInt
        assert((r.pix((y * w + x) * 3) & 0xff) == (i * 43 + 3) % 256,
          s"id $id ($x,$y)")
      }
    }
    // gifMeta on the single-image fixtures counts exactly one frame, and
    // the two meta paths agree on dimensions
    val single = Multimodal.gifFixtureBytes(9L)
    val m1 = MediaCodecHelper.gifMeta(single)
    assert(m1 != null && m1.getInt(2) == 1)
    assert(m1.getInt(0) == 13 + 9 % 17 && m1.getInt(1) == 8 + 9 % 9)
    // malformed: truncated mid-frame / non-GIF / imageless -> null
    val anim = Multimodal.gifAnimFixtureBytes(4L)
    assert(MediaCodecHelper.gifMeta(anim.dropRight(anim.length / 3)) == null)
    assert(MediaCodecHelper.gifMeta(Multimodal.pngBytes(4, 4)) == null)
    val imageless = anim.take(13 + 48) ++ Array(0x3b.toByte)
    assert(MediaCodecHelper.gifMeta(imageless) == null)
  }

  test("GIF compositing: disposal 1/2/3, transparency, sub-rect frames") {
    // mirror of the fixture's documented per-pixel CASE semantics —
    // written from the spec, not from the decoder
    def expected(id: Long): Seq[(Long, Int, Int, Int)] = {
      val w = 11 + (id % 13).toInt; val h = 7 + (id % 7).toInt
      def idx(f: Int)(x: Int, y: Int) = ((x * 3 + y * 7 + id + f * 5) % 16).toInt
      def pal(i: Int) = ((i * 43 + 3) % 256, (i * 67 + 9) % 256, (i * 97 + 27) % 256)
      val aL = 1 + (id % 3).toInt; val aT = 1 + (id % 2).toInt
      val aW = 5 + (id % 4).toInt; val aH = 3 + (id % 3).toInt
      val bL = 2 + (id % 3).toInt; val bW = 4 + (id % 3).toInt
      val bH = 5 + (id % 2).toInt
      val cL = (id % 4).toInt; val cT = 1 + (id % 3).toInt
      val cW = 6 + (id % 2).toInt; val cH = 3 + (id % 2).toInt
      def inA(x: Int, y: Int) = x >= aL && x < aL + aW && y >= aT && y < aT + aH
      def inB(x: Int, y: Int) = x >= bL && x < bL + bW && y < bH
      def inC(x: Int, y: Int) = x >= cL && x < cL + cW && y >= cT && y < cT + cH
      def state(k: Int)(x: Int, y: Int): Int = k match {
        case 0 => idx(0)(x, y)
        case 1 => if (inA(x, y) && idx(1)(x, y) != 15) idx(1)(x, y) else idx(0)(x, y)
        case 2 => if (inB(x, y)) idx(2)(x, y) else idx(0)(x, y)
        case _ =>
          if (inC(x, y) && idx(3)(x, y) != 15) idx(3)(x, y)
          else if (inB(x, y)) -1 else idx(0)(x, y)
      }
      (0 to 3).map { k =>
        val cells = for (y <- 0 until h; x <- 0 until w) yield state(k)(x, y)
        val op = cells.filter(_ >= 0).map(pal)
        val sum = op.map { case (r, g, b) => (r + g + b).toLong }.sum
        val mn = if (op.isEmpty) -1 else op.map { case (r, g, b) => r min g min b }.min
        val mx = if (op.isEmpty) -1 else op.map { case (r, g, b) => r max g max b }.max
        (sum, op.size, mn, mx)
      }
    }
    for (id <- 0L until 32L) {
      val res = MediaCodecHelper.gifAnimStats(Multimodal.gifComposeFixtureBytes(id))
      assert(res != null, s"id $id")
      assert(res.getInt(0) == 11 + (id % 13).toInt &&
        res.getInt(1) == 7 + (id % 7).toInt)
      val fr = res.getArray(2)
      assert(fr.numElements() == 4, s"id $id frames")
      val exp = expected(id)
      for (k <- 0 to 3) {
        val f = fr.getStruct(k, 4)
        assert(f.getLong(0) == exp(k)._1, s"id $id frame $k sum")
        assert(f.getInt(1) == exp(k)._2, s"id $id frame $k opaque")
        assert(f.getInt(2) == exp(k)._3, s"id $id frame $k min")
        assert(f.getInt(3) == exp(k)._4, s"id $id frame $k max")
      }
    }
    // frame 3 must actually have a transparent hole (disposal 2 punched B
    // and C did not fully re-cover it) for at least one id, or the
    // opaque-count lane proves nothing
    assert((0L until 32L).exists { id =>
      val e = expected(id)
      e(3)._2 < e(0)._2
    }, "no id exercises the post-disposal-2 hole")
  }

  test("GIF compositing edges: no-GCE, interlace, all-transparent, nulls") {
    // single-image, no GCE, interlaced on odd ids: the anim path must
    // agree with the strict single-frame decoder's statistics
    for (id <- Seq(8L, 9L)) {
      val blob = Multimodal.gifFixtureBytes(id)
      val s1 = MediaCodecHelper.gifStats(blob)
      val a1 = MediaCodecHelper.gifAnimStats(blob)
      assert(s1 != null && a1 != null)
      val f0 = a1.getArray(2).getStruct(0, 4)
      assert(a1.getArray(2).numElements() == 1)
      assert(f0.getLong(0) == s1.getLong(3), s"id $id sum parity")
      assert(f0.getInt(1) == s1.getInt(0) * s1.getInt(1), s"id $id opaque")
      assert(f0.getInt(2) == s1.getInt(4) && f0.getInt(3) == s1.getInt(5))
    }
    // a frame that is ENTIRELY its transparent index over the virgin
    // canvas: zero opaque pixels, extrema report -1
    val ghost = Multimodal.gifComposeBytes(6, 4,
      i => (i, i, i), Seq(Multimodal.GifFrameSpec(0, 0, 6, 4,
        disposal = 0, transIdx = 5, (_, _) => 5)))
    val g = MediaCodecHelper.gifAnimStats(ghost)
    assert(g != null)
    val gf = g.getArray(2).getStruct(0, 4)
    assert(gf.getLong(0) == 0L && gf.getInt(1) == 0)
    assert(gf.getInt(2) == -1 && gf.getInt(3) == -1)
    // byte surgery on a compose fixture: GCE packed byte at offset 64
    // (6 sig + 7 LSD + 48 GCT + 3), image-descriptor left at 70
    val base = Multimodal.gifComposeFixtureBytes(0L)
    assert((base(61) & 0xff) == 0x21 && (base(62) & 0xff) == 0xf9,
      "fixture layout drifted — GCE not at 61")
    val reserved = base.clone(); reserved(64) = (4 << 2).toByte
    assert(MediaCodecHelper.gifAnimStats(reserved) == null,
      "reserved disposal 4 must be out of envelope")
    assert((base(69) & 0xff) == 0x2c, "descriptor not at 69")
    val escape = base.clone(); escape(70) = 200.toByte
    assert(MediaCodecHelper.gifAnimStats(escape) == null,
      "frame escaping the logical screen must null")
    // truncation anywhere (including the lost trailer) -> null
    assert(MediaCodecHelper.gifAnimStats(base.dropRight(1)) == null)
    assert(MediaCodecHelper.gifAnimStats(
      base.dropRight(base.length / 2)) == null)
    // the strict single-frame decoder accepts the compose stream (its
    // FIRST frame is full-screen) and agrees with the anim path on it
    val strict = MediaCodecHelper.gifStats(base)
    val anim0 = MediaCodecHelper.gifAnimStats(base).getArray(2).getStruct(0, 4)
    assert(strict != null && strict.getLong(3) == anim0.getLong(0))
  }

  test("GIF frame extract: composited RGBA PNG agrees with anim stats") {
    for (id <- Seq(0L, 3L, 7L, 13L); k <- 0 to 3) {
      val blob = Multimodal.gifComposeFixtureBytes(id)
      val anim = MediaCodecHelper.gifAnimStats(blob)
      val f = anim.getArray(2).getStruct(k, 4)
      val png = MediaCodecHelper.gifFramePng(blob, k)
      assert(png != null, s"id $id frame $k")
      val st = MediaCodecHelper.pngStats(png)
      assert(st != null && st.getInt(2) == 4, s"id $id frame $k RGBA")
      assert(st.getInt(0) == anim.getInt(0) && st.getInt(1) == anim.getInt(1))
      // PNG channel sum = RGB sum + 255 per opaque pixel (alpha)
      assert(st.getLong(3) == f.getLong(0) + 255L * f.getInt(1),
        s"id $id frame $k sum")
      val np = anim.getInt(0) * anim.getInt(1)
      val expMn = if (f.getInt(1) < np) 0 else f.getInt(2)
      assert(st.getInt(4) == expMn, s"id $id frame $k min")
      assert(st.getInt(5) == (if (f.getInt(1) > 0) 255 else 0))
    }
    // past-the-end frame and negative index: null; truncated: null
    val blob = Multimodal.gifComposeFixtureBytes(1L)
    assert(MediaCodecHelper.gifFramePng(blob, 4) == null)
    assert(MediaCodecHelper.gifFramePng(blob, -1) == null)
    assert(MediaCodecHelper.gifFramePng(blob.dropRight(1), 0) == null,
      "early stop must still require the trailer")
    // a single-image plain GIF: frame 0 extract is the full opaque frame
    val single = Multimodal.gifFixtureBytes(6L)
    val p0 = MediaCodecHelper.pngStats(MediaCodecHelper.gifFramePng(single, 0))
    val s0 = MediaCodecHelper.gifStats(single)
    assert(p0 != null && p0.getLong(3) ==
      s0.getLong(3) + 255L * s0.getInt(0) * s0.getInt(1))
  }

  test("16-bit PNG raster path: nearest resize at depth 16, full precision") {
    for (id <- 0L until 24L) {
      val out = MediaCodecHelper.png16ResizeNearest(
        Multimodal.gray16PngBytes(id), 7, 5)
      assert(out != null, s"id $id")
      assert((out(24) & 0xff) == 16, "IHDR depth byte must stay 16")
      val st = MediaCodecHelper.png16Stats(out)
      val (sw, sh) = (13 + (id % 11).toInt, 6 + (id % 9).toInt)
      val vals = for (y <- 0 until 5; x <- 0 until 7) yield {
        val sx = x * sw / 7; val sy = y * sh / 5
        ((sx * 2311 + sy * 3571 + id * 97) % 65536).toInt
      }
      assert(st != null && st.getInt(0) == 7 && st.getInt(1) == 5 &&
        st.getInt(2) == 1, s"id $id header")
      assert(st.getLong(3) == vals.map(_.toLong).sum, s"id $id sum")
      assert(st.getInt(4) == vals.min && st.getInt(5) == vals.max, s"id $id")
    }
    // RGBA16 through the generic writer, x-upscale + y-downscale mixed
    def px(x: Int, y: Int, c: Int) = (x * 4099 + y * 257 + c * 31) % 65536
    val up = MediaCodecHelper.png16ResizeNearest(
      Multimodal.png16Bytes(5, 4, 6, interlaced = false, px), 10, 3)
    val stUp = MediaCodecHelper.png16Stats(up)
    val expect = for (y <- 0 until 3; x <- 0 until 10; c <- 0 until 4)
      yield px(x * 5 / 10, y * 4 / 3, c)
    assert(stUp != null && stUp.getInt(2) == 4)
    assert(stUp.getLong(3) == expect.map(_.toLong).sum)
    assert(stUp.getInt(4) == expect.min && stUp.getInt(5) == expect.max)
    // envelope: 8-bit input has its own path, and the 16-bit output does
    // not leak into the 8-bit decoder
    assert(MediaCodecHelper.png16ResizeNearest(
      Multimodal.pngBytes(6, 6), 3, 3) == null)
    assert(MediaCodecHelper.decodePng(up) == null)
  }

  test("GIF: local color table overrides a decoy global; extensions skipped") {
    def px(x: Int, y: Int) = (x * 3 + y * 5) % 16
    def pl(i: Int) = ((i * 31 + 7) % 256, (i * 43 + 13) % 256, (i * 53 + 17) % 256)
    val plain = MediaCodecHelper.decodeGif(
      Multimodal.gifBytes(19, 11, interlaced = false, 4, pl, px))
    // palette moved into a LOCAL table (global is an all-zero decoy),
    // plus GCE + comment extension blocks before the image descriptor
    val lct = MediaCodecHelper.decodeGif(
      Multimodal.gifBytes(19, 11, interlaced = false, 4, pl, px,
        localTable = true, withExtensions = true))
    assert(plain != null && lct != null)
    assert(java.util.Arrays.equals(plain.pix, lct.pix),
      "local table + extension skip must decode identically")
    assert((lct.pix(0) & 0xff) == 7, "decoy global table leaked through")
  }

  test("gray color-key tRNS synthesizes alpha (type 0 -> gray+alpha)") {
    val r = MediaCodecHelper.decodePng(
      Multimodal.pngEnvelopeBytes(6, 4, 0, interlaced = false,
        (x, y) => Array((x * 5 + y * 3) % 256), trns = Array(0, 7)))
    assert(r != null && r.bpp == 2)
    for (y <- 0 until 4; x <- 0 until 6) {
      val g = r.pix((y * 6 + x) * 2) & 0xff
      val a = r.pix((y * 6 + x) * 2 + 1) & 0xff
      assert(g == (x * 5 + y * 3) % 256)
      assert(a == (if (g == 7) 0 else 255), s"alpha at ($x,$y)")
    }
    // a key above the 8-bit range can never match: fully opaque output
    val hi = MediaCodecHelper.decodePng(
      Multimodal.pngEnvelopeBytes(3, 3, 0, interlaced = false,
        (x, y) => Array((x + y) % 256), trns = Array(1, 0)))
    assert(hi != null && (0 until 9).forall(i => (hi.pix(2 * i + 1) & 0xff) == 255))
  }

  /** Cut one chunk (tag + payload + framing) out of a PNG byte stream and
    * re-insert it immediately before IEND — chunk-order surgery for the
    * ordering-rule tests below.
    */
  private def moveChunkToEnd(png: Array[Byte], tag: String): Array[Byte] = {
    def findChunk(from: Int): Int = {
      var off = 8
      while (off + 8 <= png.length) {
        val t = new String(png, off + 4, 4, "US-ASCII")
        val len = java.nio.ByteBuffer.wrap(png, off, 4).getInt
        if (t == tag && off >= from) return off
        off += 12 + len
      }
      -1
    }
    val at = findChunk(0)
    assert(at > 0, s"no $tag chunk to move")
    val len = java.nio.ByteBuffer.wrap(png, at, 4).getInt
    val chunk = png.slice(at, at + 12 + len)
    val without = png.take(at) ++ png.drop(at + 12 + len)
    val iend = {
      var off = 8
      var found = -1
      while (off + 8 <= without.length && found < 0) {
        if (new String(without, off + 4, 4, "US-ASCII") == "IEND") found = off
        else off += 12 + java.nio.ByteBuffer.wrap(without, off, 4).getInt
      }
      found
    }
    assert(iend > 0)
    without.take(iend) ++ chunk ++ without.drop(iend)
  }

  test("16-bit color-key tRNS synthesizes full-precision alpha") {
    val id = 3L // odd: sequential gray lane; id%5!=0: sequential RGB lane
    val g = MediaCodecHelper.decodePng16(Multimodal.gray16KeyPngBytes(id))
    val w = 9 + (id % 7).toInt; val h = 5 + (id % 6).toInt
    def s(x: Int, y: Int): Int = ((x * 2311 + y * 3571 + id * 97) % 65536).toInt
    assert(g != null && g.bpp == 4, "gray16 + synthesized alpha16")
    def s16(r: graft.expr.MediaCodecHelper.Raster, o: Int): Int =
      ((r.pix(o) & 0xff) << 8) | (r.pix(o + 1) & 0xff)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 4
      assert(s16(g, o) == s(x, y), s"sample ($x,$y)")
      val expA = if (s(x, y) == s(1, 1)) 0 else 65535
      assert(s16(g, o + 2) == expA, s"alpha ($x,$y)")
    }
    val c = MediaCodecHelper.decodePng16(Multimodal.rgb16KeyPngBytes(id))
    assert(c != null && c.bpp == 8, "RGB16 + synthesized alpha16")
    // keyed pixel (2,1) transparent; its gray-channel twin (different
    // G/B) stays opaque — all three samples must match
    val cw = 7 + (id % 6).toInt
    assert(s16(c, ((1 * cw + 2) * 4 + 3) * 2) == 0, "key pixel alpha")
    assert(s16(c, ((0 * cw + 0) * 4 + 3) * 2) == 65535)
    // ordering + validity: tRNS after IDAT rejected; tRNS on an
    // alpha-bearing 16-bit type rejected
    assert(MediaCodecHelper.decodePng16(
      moveChunkToEnd(Multimodal.gray16KeyPngBytes(id), "tRNS")) == null,
      "tRNS after IDAT must be rejected at depth 16")
  }

  test("PLTE / tRNS arriving after IDAT data are rejected (spec ordering)") {
    val pal = Multimodal.pngEnvelopeBytes(4, 4, 3, interlaced = false,
      (x, y) => Array((x + y) % 4),
      palette = Array.tabulate(4)(i => (i, 2 * i, 3 * i)))
    assert(MediaCodecHelper.decodePng(pal) != null, "fixture sane")
    assert(MediaCodecHelper.decodePng(moveChunkToEnd(pal, "PLTE")) == null,
      "PLTE after IDAT must be rejected")
    val keyed = Multimodal.pngEnvelopeBytes(4, 4, 0, interlaced = false,
      (x, y) => Array((x + y) % 256), trns = Array(0, 1))
    assert(MediaCodecHelper.decodePng(keyed) != null, "fixture sane")
    assert(MediaCodecHelper.decodePng(moveChunkToEnd(keyed, "tRNS")) == null,
      "tRNS after IDAT must be rejected")
  }

  test("float32 WAV decodes on the exact floor(f*2^15) lattice") {
    val id = 5L
    val row = MediaCodecHelper.wavPcmStats(Multimodal.wavFloatFixtureBytes(id))
    val n = 50 + (id % 25).toInt
    val vs = (0 until n).map(i => ((((i * 419 + id * 23) % 2049) - 1024) * 32).toLong)
    assert(row != null)
    assert(row.getLong(0) == n && row.getInt(1) == 22050)
    assert(row.getLong(2) == vs.sum, "pcm_sum")
    assert(row.getLong(3) == vs.map(v => v * v).sum, "pcm_sqsum")
    assert(row.getLong(4) == vs.map(math.abs).max, "pcm_peak")
    assert(row.getInt(6) == 32)
  }

  test("extensible WAV resolves its GUID; bad GUIDs and NaN/Inf are handled") {
    val id = 7L
    val ext = Multimodal.wavExtPcmFixtureBytes(id)
    val row = MediaCodecHelper.wavPcmStats(ext)
    val nf = 30 + (id % 15).toInt
    val vs = (0 until 2 * nf).map(j => (((j * 331 + id * 7) % 65536) - 32768).toLong)
    assert(row != null && row.getLong(0) == nf, "n_samples counts frames")
    assert(row.getLong(2) == vs.sum)
    // channel-0 zero crossings: even interleaved indices only
    val ch0 = vs.indices.collect { case j if j % 2 == 0 => vs(j) < 0 }
    assert(row.getLong(5) == ch0.sliding(2).count(p => p(0) != p(1)))
    // corrupt one GUID tail byte -> unknown subformat -> null
    val bad = ext.clone()
    val gi = bad.indexOfSlice(Seq(0x38.toByte, 0x9b.toByte, 0x71.toByte))
    assert(gi > 0); bad(gi) = 0x39.toByte
    assert(MediaCodecHelper.wavPcmStats(bad) == null)
    // NaN reports 0; small floats land exactly on the lattice
    val weird = Multimodal.wavExtensibleBytes(3, 32, 1, 8000, 3, out => {
      def le(i: Int): Unit = (0 until 4).foreach(b => out.write((i >> (8 * b)) & 0xff))
      le(java.lang.Float.floatToIntBits(Float.NaN))
      le(java.lang.Float.floatToIntBits(0.5f))
      le(java.lang.Float.floatToIntBits(-0.25f))
    })
    val wr = MediaCodecHelper.wavPcmStats(weird)
    assert(wr != null && wr.getLong(2) == 0L + 0 + 16384 - 8192)
  }

  test("float64 WAV: exact lattice, decimation, NaN/Inf doubles") {
    val id = 9L
    val row = MediaCodecHelper.wavPcmStats(Multimodal.wavFloat64FixtureBytes(id))
    val n = 40 + (id % 21).toInt
    val vs = (0 until n).map(i => ((((i * 523 + id * 29) % 4097) - 2048) * 16).toLong)
    assert(row != null)
    assert(row.getLong(0) == n && row.getInt(1) == 24000)
    assert(row.getLong(2) == vs.sum, "pcm_sum")
    assert(row.getLong(3) == vs.map(v => v * v).sum, "pcm_sqsum")
    assert(row.getLong(4) == vs.map(math.abs).max, "pcm_peak")
    assert(row.getInt(6) == 64)
    // the codec-preserving sampler keeps 8-byte samples verbatim
    val dec = MediaCodecHelper.wavFrameSample(
      Multimodal.wavFloat64FixtureBytes(id), 2)
    val dr = MediaCodecHelper.wavPcmStats(dec)
    val kept = vs.indices.collect { case i if i % 2 == 0 => vs(i) }
    assert(dr != null && dr.getLong(0) == kept.size && dr.getInt(6) == 64)
    assert(dr.getLong(2) == kept.sum, "decimated sum")
    // hand-built doubles: a value float32 CANNOT represent exactly stays
    // exact at 64-bit (2^-20 scales to 2^-5: floor lands at 0 vs the
    // full-precision ±ulp world); NaN reports 0; ±Inf clamps then trips
    // the overflow guard via sqsum
    val tiny = Multimodal.wavFloat64Bytes(8000, 2, 1 << 20, i => 1 - 2 * i)
    val tr = MediaCodecHelper.wavPcmStats(tiny)
    // 1/2^20 * 2^15 = 1/32 -> floor 0; -1/2^20 -> floor -1
    assert(tr != null && tr.getLong(2) == -1L && tr.getLong(4) == 1L)
    val weird = {
      val out = new java.io.ByteArrayOutputStream()
      val base = Multimodal.wavFloat64Bytes(8000, 2, 1, i => 0)
      val bs = base.clone()
      val dOff = bs.length - 16
      def putD(o: Int, d: Double): Unit = {
        val bits = java.lang.Double.doubleToLongBits(d)
        (0 until 8).foreach(b => bs(o + b) = ((bits >> (8 * b)) & 0xff).toByte)
      }
      putD(dOff, Double.NaN); putD(dOff + 8, 0.75)
      out.write(bs); out.toByteArray
    }
    val wr = MediaCodecHelper.wavPcmStats(weird)
    assert(wr != null && wr.getLong(2) == 24576L, "NaN->0, 0.75->24576")
  }

  test("DHT-less stills: stats/resize fall back to Annex K implied tables") {
    val nodht = Multimodal.jpegNoDhtBytes(12, 8,
      (bx, by) => (bx * 17 + by * 23) % 256,
      (bx, by) => (bx * 13) % 256, (bx, by) => (by * 19) % 256)
    // strict decode refuses (no tables), the auto path implies Annex K
    assert(MediaCodecHelper.decodeJpeg(nodht) == null)
    assert(MediaCodecHelper.jpegStats(nodht) != null,
      "jpegStats must imply standard tables for a DHT-less stream")
    assert(MediaCodecHelper.jpegResizeToPng(nodht, 6, 4) != null,
      "resize path must imply standard tables too")
    // a stream WITH its own DHT that fails must NOT be retried under
    // different tables (that could 'succeed' with garbage)
    val withDht = Multimodal.grayJpegBytes(3L)
    assert(MediaCodecHelper.jpegStats(withDht) != null, "fixture sane")
    val truncated = withDht.dropRight(withDht.length / 3)
    assert(MediaCodecHelper.jpegStats(truncated) == null)
  }
}
