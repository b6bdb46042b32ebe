package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.expr.{AviCodecHelper, MediaCodecHelper}
import graft.expr.MediaCodecHelper.Raster

/** Property tests for the PNG codec: ANY raster (arbitrary dims, gray or
  * RGB, arbitrary per-encode filter) must round-trip encode→decode to the
  * identical byte sequence, and resize must agree with the integer index
  * map on arbitrary source/target geometry.
  */
class MediaCodecPropertySpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], i: Int): A =
    g.pureApply(Gen.Parameters.default, Seed(1234L + i))

  private val geometry: Gen[(Int, Int, Int, Int)] = for {
    w <- Gen.choose(1, 80)
    h <- Gen.choose(1, 40)
    bpp <- Gen.oneOf(1, 3)
    filter <- Gen.choose(0, 4)
  } yield (w, h, bpp, filter)

  private def raster(w: Int, h: Int, bpp: Int, seed: Int): Array[Byte] = {
    val a = new Array[Byte](w * h * bpp)
    var s = seed | 1
    for (i <- a.indices) { s = s * 1103515245 + 12345; a(i) = (s >> 13).toByte }
    a
  }

  test("encode(filter)→decode is the identity for 200 arbitrary rasters") {
    for (i <- 0 until 200) {
      val (w, h, bpp, filter) = sample(geometry, i)
      val px = raster(w, h, bpp, i)
      val dec = MediaCodecHelper.decodePng(
        MediaCodecHelper.encodePng(new Raster(w, h, bpp, px), filter))
      assert(dec != null, s"case $i ${w}x$h bpp=$bpp filter=$filter did not decode")
      assert(dec.width == w && dec.height == h && dec.bpp == bpp, s"case $i header")
      assert(java.util.Arrays.equals(dec.pix, px),
        s"case $i ${w}x$h bpp=$bpp filter=$filter pixels corrupted")
    }
  }

  test("resize agrees with the integer index map for 100 arbitrary geometries") {
    val geo = for {
      sw <- Gen.choose(1, 60); sh <- Gen.choose(1, 30)
      dw <- Gen.choose(1, 24); dh <- Gen.choose(1, 24)
    } yield (sw, sh, dw, dh)
    for (i <- 0 until 100) {
      val (sw, sh, dw, dh) = sample(geo, i)
      val px = raster(sw, sh, 1, i)
      val enc = MediaCodecHelper.encodePng(new Raster(sw, sh, 1, px))
      val out = MediaCodecHelper.decodePng(
        MediaCodecHelper.pngResizeNearest(enc, dw, dh))
      assert(out != null && out.width == dw && out.height == dh, s"case $i")
      for (y <- 0 until dh; x <- 0 until dw) {
        val sx = x * sw / dw; val sy = y * sh / dh
        assert(out.pix(y * dw + x) == px(sy * sw + sx),
          s"case $i ($sw,$sh)->($dw,$dh) at ($x,$y)")
      }
    }
  }

  test("WAV frame-sampling composes: sampling twice = sampling the product step") {
    // step a then step b over the decimated stream picks frames at
    // indices that are multiples of a*b of the original — because each
    // re-encode is a canonical WAV, the composition law is exact
    val stepGen = for { a <- Gen.choose(1, 6); b <- Gen.choose(1, 6);
                        n <- Gen.choose(1, 400) } yield (a, b, n)
    for (i <- 0 until 100) {
      val (a, b, n) = sample(stepGen, i)
      val wav = graft.ops.Multimodal.wavBytes(8000, n)
      val twice = MediaCodecHelper.wavFrameSample(
        MediaCodecHelper.wavFrameSample(wav, a), b)
      val once = MediaCodecHelper.wavFrameSample(wav, a * b)
      assert(java.util.Arrays.equals(twice, once),
        s"case $i: step $a then $b != step ${a * b} over $n samples")
    }
  }

  test("jpegMeta: 500 arbitrary byte blobs never throw; valid prefixes parse") {
    // hostile-input law: the marker walk is total — null or a correct
    // struct, never an exception, never an out-of-range read
    val blobGen = for {
      n <- Gen.choose(0, 300)
      bs <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield bs.toArray
    for (i <- 0 until 500) {
      val raw = sample(blobGen, 7000 + i)
      MediaCodecHelper.jpegMeta(raw) // must not throw
      // same blob glued after a valid SOI: still total
      MediaCodecHelper.jpegMeta(Array[Byte](0xff.toByte, 0xd8.toByte) ++ raw)
      // corrupting one byte of a valid stream: total, and if it still
      // parses the dimensions must be sane (parsed from SOF bounds)
      val good = graft.ops.Multimodal.jpegBytes(16 + i % 50, 9 + i % 30,
        1 + i % 3)
      val pos = i % good.length
      val mutated = good.clone(); mutated(pos) = (mutated(pos) ^ 0x5a).toByte
      val r = MediaCodecHelper.jpegMeta(mutated)
      if (r != null) {
        assert(r.getInt(0) > 0 && r.getInt(1) > 0 && r.getInt(2) > 0)
      }
    }
  }
  test("JPEG mutations: every decode entry point is total and keeps SOF dims") {
    // seeded bit flips and truncations of each fixture flavor through
    // every public JPEG decode: never an exception, and any raster that
    // still decodes carries the dimensions of a SOF in the stream
    import graft.ops.Multimodal._
    val flavors: Seq[Long => Array[Byte]] = Seq(grayJpegBytes, colorJpegBytes,
      seqJpegBytes, grayJpegArithBytes, condJpegArithBytes,
      grayJpegArithProgBytes, msJpegArithBytes, colorJpegArithBytes,
      grayProgressiveJpegBytes, colorProgressiveJpegBytes, jpeg12Bytes(_),
      jpeg12WideQBytes, jpegLosslessG16Bytes, jpegLosslessG12Bytes,
      jpegLossless3cBytes, jpegLosslessArithG16Bytes,
      jpegLosslessArithG12Bytes, jpegLosslessRstBytes,
      jpegLosslessArithRstBytes, jpegLosslessArith3cBytes)
    def mutants(good: Array[Byte], seed: Long): Seq[Array[Byte]] = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(30) {
        val m = good.clone(); val pos = rnd.nextInt(m.length)
        m(pos) = (m(pos) ^ (1 << rnd.nextInt(8))).toByte; m
      } ++ Seq.fill(6)(good.take(rnd.nextInt(good.length)))
    }
    // (width, height) of every SOF-marker position: entropy data never
    // holds a bare FF Cx, so the byte scan finds every real frame header
    def sofDims(b: Array[Byte]): Set[(Int, Int)] =
      (0 until b.length - 8).filter { i =>
        val m = b(i + 1) & 0xff
        (b(i) & 0xff) == 0xff && m >= 0xc0 && m <= 0xcf && m != 0xc4 &&
          m != 0xc8 && m != 0xcc
      }.map(i => (((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff),
        ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff))).toSet
    var decoded = 0
    for ((gen, fi) <- flavors.zipWithIndex; id <- 0L until 6L;
         m <- mutants(gen(id), fi * 1000L + id)) {
      val dims = sofDims(m)
      def check(w: Int, h: Int, what: String): Unit = {
        decoded += 1
        assert(dims((w, h)), s"flavor $fi id $id: $what ${w}x$h not a SOF")
      }
      val r = MediaCodecHelper.decodeJpegAuto(m)
      if (r != null) check(r.width, r.height, "raster")
      val t = MediaCodecHelper.decodeJpeg12(m)
      if (t != null) check(t.width, t.height, "12-bit")
      val l = MediaCodecHelper.decodeJpegLossless(m)
      if (l != null) check(l.width, l.height, "lossless")
      val meta = MediaCodecHelper.jpegMeta(m)
      if (meta != null) check(meta.getInt(0), meta.getInt(1), "meta")
    }
    assert(decoded > 1000, "mutants mostly keep decoding: the law is exercised")
    for (gen <- Seq[Long => Array[Byte]](aviMjpegBytes, aviMjpegNoDhtBytes);
         id <- 0L until 4L; m <- mutants(gen(id), 77L + id)) {
      val row = AviCodecHelper.mjpegStats(m, 1)
      if (row != null)
        assert(row.getInt(2) <= row.getInt(1) && row.getInt(1) <= row.getInt(0))
    }
    // the same mutations through the GIF block walk, the PNG chunk walk
    // and the WAV header read: every entry point is total on every
    // container, and mutants still decode often enough to exercise them
    val containers: Seq[Long => Array[Byte]] = Seq(gifFixtureBytes,
      gifAnimFixtureBytes, gifComposeFixtureBytes,
      palPngBytes, palAlphaPngBytes, grayAlphaPngBytes, rgbaPngBytes,
      id => rgbPngBytes(5 + id.toInt, 4),
      png1GrayBytes, png2GrayBytes, png4GrayKeyBytes, png4PaletteBytes,
      gray16PngBytes, rgb16PngBytes, gray16KeyPngBytes, rgb16KeyPngBytes,
      id => wavBytesWithList(8000, 40 + id.toInt), wav8Bytes, wav24Bytes,
      wav32Bytes, wavUlawBytes, wavAlawBytes, wavFloatFixtureBytes,
      wavFloat64FixtureBytes, wavExtPcmFixtureBytes, wavExtFloatFixtureBytes,
      wavAdpcmMonoBytes, wavAdpcmStereoBytes, wavMsAdpcmMonoBytes,
      wavMsAdpcmStereoBytes)
    var nonNull = 0
    for ((gen, fi) <- containers.zipWithIndex; id <- 0L until 6L;
         m <- mutants(gen(id), 50000L + fi * 1000L + id)) {
      val results = Seq[AnyRef](MediaCodecHelper.decodeGif(m),
        MediaCodecHelper.gifMeta(m), MediaCodecHelper.gifAnimStats(m),
        MediaCodecHelper.gifFramePng(m, 1), MediaCodecHelper.decodePng(m),
        MediaCodecHelper.decodePng16(m), MediaCodecHelper.wavPcmStats(m),
        MediaCodecHelper.wavFrameSample(m, 3))
      nonNull += results.count(_ != null)
    }
    assert(nonNull > 3000, s"only $nonNull mutant results decoded")
  }
}
