package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal columns: images/audio as opaque `binary` columns with typed
  * metadata extracted by header parsing.
  *
  * Design for 100 TB: media bytes travel as ordinary Parquet binary
  * columns (Parquet stores them page-compressed; projection pruning means
  * a metadata-only query never reads the blobs once metadata is
  * materialized to its own columns). Header parsing is pure Column
  * arithmetic over `substring`/`hex`/`conv` — codegen'd, no UDF in the
  * extract path. Pixel/sample DECODE is REAL for every image/audio
  * format in scope — PNG (all five 8-bit color types incl. palette and
  * alpha, sequential or Adam7: inflate + filter reconstruction), JPEG
  * (baseline/multi-scan/progressive: Huffman + dequant + IDCT + chroma
  * upsample + YCbCr→RGB, ITU-T T.81), GIF (LZW + palettes + interlace,
  * animation length via [[gifMeta]]), integer-PCM WAV (8/16/24/32-bit)
  * and G.711 µ-law/A-law — via the codegen'd
  * expressions in graft.expr.MediaCodecHelper ([[decodeImage]],
  * [[decodeJpeg]], [[imageResize]], [[jpegResizePng]],
  * [[audioFeatures]], [[audioFrameSample]]). [[jpegMeta]] additionally
  * extracts frame-header metadata without entropy decode (the cheap path
  * for dimension gates). VIDEO is real for MJPEG-in-AVI — the container
  * walk plus per-frame JPEG decode ([[videoMeta]]/[[videoFrameStats]]/
  * [[videoFrame]], graft.expr.AviCodecHelper) — so `decodeImageStub`
  * remains the seam only for inter-frame codecs (H.264/HEVC/VP9/AV1),
  * where a decode UDF (or mapInPandas in pyspark pipelines) would plug in.
  *
  * Fixture generators (valid minimal PNG / WAV bytes, CRCs and all) are
  * Scala UDFs — they exist to create test data, not to process it.
  */
object Multimodal {

  // ---- fixture generation (driver/UDF side) ----

  /** Minimal valid grayscale PNG (signature, IHDR, IDAT with a real
    * deflate stream and CRCs, IEND). Deterministic bytes for a given
    * (width, height): pixel (x,y) = (x*31 + y*17) & 0xFF.
    */
  def pngBytes(width: Int, height: Int): Array[Byte] = {
    val raw = new Array[Byte](height * (width + 1)) // filter byte 0 per row
    for (y <- 0 until height; x <- 0 until width)
      raw(y * (width + 1) + 1 + x) = ((x * 31 + y * 17) & 0xff).toByte
    pngFile(width, height, 8, 0, interlaced = false, null, null, raw)
  }

  /** A fixture PNG around an already-filtered image stream: signature,
    * IHDR, optional PLTE/tRNS, one deflated IDAT, IEND — each chunk with
    * its length and CRC. Fixture-side: shares no code with
    * MediaCodecHelper's PNG decode or encode paths.
    */
  private def pngFile(width: Int, height: Int, depth: Int, colorType: Int,
                      interlaced: Boolean, palette: Array[(Int, Int, Int)],
                      trns: Array[Int], filtered: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def be(i: Int): Array[Byte] =
      Array(((i >> 24) & 0xff).toByte, ((i >> 16) & 0xff).toByte,
            ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Unit = {
      out.write(be(data.length))
      val tagged = tag.getBytes("US-ASCII") ++ data
      out.write(tagged)
      val crc = new java.util.zip.CRC32()
      crc.update(tagged)
      out.write(be(crc.getValue.toInt))
    }
    out.write(Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte))
    chunk("IHDR", be(width) ++ be(height) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0,
        if (interlaced) 1 else 0))
    if (palette != null)
      chunk("PLTE", palette.flatMap { case (r, g, b) =>
        Array(r.toByte, g.toByte, b.toByte) })
    if (trns != null) chunk("tRNS", trns.map(_.toByte))
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    // loop until finished — a single deflate() call truncates the IDAT
    // stream once stored-block overhead exceeds the slack on large rasters
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    chunk("IDAT", zout.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** The filtered stream of a fixture PNG: seven Adam7 sub-images or one
    * full-image pass, rows alternating None and Sub — Sub at BYTE level,
    * the left neighbor `filterBpp` bytes back. `row(xs, y)` returns the
    * unfiltered bytes of the pass row at image row `y` covering image
    * columns `xs`.
    */
  private def pngFiltered(width: Int, height: Int, interlaced: Boolean,
                          filterBpp: Int)
                         (row: (Seq[Int], Int) => Array[Int]): Array[Byte] = {
    val passes =
      if (interlaced)
        Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      else Array((0, 0, 1, 1))
    val raw = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- passes) {
      val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        for (py <- 0 until ph) {
          val r = row((0 until pw).map(x0 + _ * dx), y0 + py * dy)
          if (py % 2 == 0) {
            raw.write(0) // None
            r.foreach(raw.write)
          } else {
            raw.write(1) // Sub — own subtraction math
            for (i <- r.indices) {
              val left = if (i >= filterBpp) r(i - filterBpp) else 0
              raw.write((r(i) - left) & 0xff)
            }
          }
        }
      }
    }
    raw.toByteArray
  }

  /** `v`'s low `n` bytes, little-endian (the RIFF/WAV field order). */
  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(b => ((v >> (8 * b)) & 0xff).toByte).toArray

  /** Minimal valid PCM WAV (RIFF/fmt/data), 16-bit mono: deterministic
    * triangle-ish samples.
    */
  def wavBytes(sampleRate: Int, nSamples: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dataLen = nSamples * 2
    out.write("RIFF".getBytes("US-ASCII")); out.write(le(36 + dataLen, 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(16, 4))
    out.write(le(1, 2)); out.write(le(1, 2))            // PCM, mono
    out.write(le(sampleRate, 4)); out.write(le(sampleRate * 2, 4))
    out.write(le(2, 2)); out.write(le(16, 2))           // block align, bits
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (i <- 0 until nSamples) out.write(le((i % 256) * 128 - 16384, 2))
    out.toByteArray
  }

  /** WAV with LIST(INFO) and `fact` chunks BEFORE `fmt ` — the real-world
    * layout (many encoders write INFO metadata first) that a fixed-offset
    * parser reads as garbage. Same audio content as `wavBytes`.
    */
  def wavBytesWithList(sampleRate: Int, nSamples: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dataLen = nSamples * 2
    val listData = "INFOIART".getBytes("US-ASCII") ++ le(2, 4) ++
      "g\u0000".getBytes("US-ASCII") // INFO + IART sub-chunk, 14 bytes
    val factData = le(nSamples, 4)
    val riffLen = 4 + (8 + listData.length) + (8 + factData.length) +
      (8 + 16) + (8 + dataLen)
    out.write("RIFF".getBytes("US-ASCII")); out.write(le(riffLen, 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("LIST".getBytes("US-ASCII")); out.write(le(listData.length, 4))
    out.write(listData)
    out.write("fact".getBytes("US-ASCII")); out.write(le(factData.length, 4))
    out.write(factData)
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(16, 4))
    out.write(le(1, 2)); out.write(le(1, 2))            // PCM, mono
    out.write(le(sampleRate, 4)); out.write(le(sampleRate * 2, 4))
    out.write(le(2, 2)); out.write(le(16, 2))           // block align, bits
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (i <- 0 until nSamples) out.write(le((i % 256) * 128 - 16384, 2))
    out.toByteArray
  }

  /** Integer-PCM WAV at an arbitrary depth (8/16/24/32), mono — the
    * independent fixture writer for the audio-depth lanes. `sample(i)`
    * returns the SIGNED value; 8-bit encodes it unsigned-offset (v+128)
    * per the WAV convention.
    */
  def wavDepthBytes(bits: Int, sampleRate: Int, nSamples: Int,
                    sample: Int => Int): Array[Byte] = {
    require(bits == 8 || bits == 16 || bits == 24 || bits == 32)
    val bp = bits / 8
    val out = new java.io.ByteArrayOutputStream()
    val dataLen = nSamples * bp
    out.write("RIFF".getBytes("US-ASCII")); out.write(le(36 + dataLen, 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(16, 4))
    out.write(le(1, 2)); out.write(le(1, 2))            // PCM, mono
    out.write(le(sampleRate, 4)); out.write(le(sampleRate * bp, 4))
    out.write(le(bp, 2)); out.write(le(bits, 2))
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (i <- 0 until nSamples) {
      val v = sample(i)
      if (bits == 8) out.write((v + 128) & 0xff) else out.write(le(v, bp))
    }
    out.toByteArray
  }

  /** 8-bit lane: 80+id%40 samples at 8000 Hz, value (i*13+id)%256 − 128
    * (full unsigned range, center-zeroed on read).
    */
  def wav8Bytes(id: Long): Array[Byte] =
    wavDepthBytes(8, 8000, 80 + (id % 40).toInt,
      i => ((i * 13 + id) % 256).toInt - 128)

  /** 24-bit lane: 60+id%30 samples at 16000 Hz, value
    * (i*2113 + id*17) % 2^24 − 2^23 (full signed-24 range).
    */
  def wav24Bytes(id: Long): Array[Byte] =
    wavDepthBytes(24, 16000, 60 + (id % 30).toInt,
      i => ((i * 2113 + id * 17) % 16777216).toInt - 8388608)

  /** 32-bit lane: 40+id%20 samples at 44100 Hz, value
    * ((i*9973 + id*31) % 400001 − 200000) · 1000 — bounded at ±2·10⁸ so
    * the squared sum provably fits int64 at any fixture length.
    */
  def wav32Bytes(id: Long): Array[Byte] =
    wavDepthBytes(32, 44100, 40 + (id % 20).toInt,
      i => (((i * 9973 + id * 31) % 400001).toInt - 200000) * 1000)

  /** G.711 log-companded WAV (codec 6 = A-law, 7 = µ-law), mono, one
    * byte per sample — the telephony/VoIP corpus format. `byteAt(i)` is
    * the RAW companded byte; decode expands it through the public G.711
    * formulas.
    */
  def wavG711Bytes(aLaw: Boolean, sampleRate: Int, nSamples: Int,
                   byteAt: Int => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII")); out.write(le(36 + nSamples, 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(16, 4))
    out.write(le(if (aLaw) 6 else 7, 2)); out.write(le(1, 2)) // codec, mono
    out.write(le(sampleRate, 4)); out.write(le(sampleRate, 4))
    out.write(le(1, 2)); out.write(le(8, 2))            // block align, bits
    out.write("data".getBytes("US-ASCII")); out.write(le(nSamples, 4))
    for (i <- 0 until nSamples) out.write(byteAt(i) & 0xff)
    out.toByteArray
  }

  /** µ-law lane: 70+id%35 samples at 8000 Hz, byte (i*29+id*13)%256 —
    * sweeps every segment/mantissa/sign combination across the corpus.
    */
  def wavUlawBytes(id: Long): Array[Byte] =
    wavG711Bytes(aLaw = false, 8000, 70 + (id % 35).toInt,
      i => ((i * 29 + id * 13) % 256).toInt)

  /** A-law lane: 65+id%25 samples at 8000 Hz, byte (i*37+id*11)%256. */
  def wavAlawBytes(id: Long): Array[Byte] =
    wavG711Bytes(aLaw = true, 8000, 65 + (id % 25).toInt,
      i => ((i * 37 + id * 11) % 256).toInt)

  /** IEEE-float32 WAV (codec 3), mono, spec-complete non-PCM header
    * (cbSize=0 fmt extension + fact chunk). Sample i = num(i)/den with
    * `den` a power of two and |num| ≤ 2^24, so the float is EXACT and
    * the production decoder's floor(f·2^15) lands on num(i)·(2^15/den)
    * with zero rounding anywhere — the property the oracle replays in
    * integers.
    */
  def wavFloatBytes(sampleRate: Int, nSamples: Int, den: Int,
                    num: Int => Int): Array[Byte] = {
    require(den > 0 && (den & (den - 1)) == 0, s"den must be a power of 2: $den")
    val out = new java.io.ByteArrayOutputStream()
    val dataLen = nSamples * 4
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le(4 + (8 + 18) + (8 + 4) + (8 + dataLen), 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(18, 4))
    out.write(le(3, 2)); out.write(le(1, 2))            // IEEE float, mono
    out.write(le(sampleRate, 4)); out.write(le(sampleRate * 4, 4))
    out.write(le(4, 2)); out.write(le(32, 2))           // block align, bits
    out.write(le(0, 2))                                 // cbSize
    out.write("fact".getBytes("US-ASCII")); out.write(le(4, 4))
    out.write(le(nSamples, 4))
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (i <- 0 until nSamples)
      out.write(le(java.lang.Float.floatToIntBits(num(i).toFloat / den), 4))
    out.toByteArray
  }

  /** Float lane: 50+id%25 samples at 22050 Hz, sample
    * ((i*419 + id*23) % 2049 − 1024) / 1024 ∈ [−1, 1] — decodes to
    * exactly (num · 32) on the 16-bit lattice.
    */
  def wavFloatFixtureBytes(id: Long): Array[Byte] =
    wavFloatBytes(22050, 50 + (id % 25).toInt, 1024,
      i => ((i * 419 + id * 23) % 2049).toInt - 1024)

  /** IEEE-float64 WAV (codec 3, bits 64), mono, spec-complete non-PCM
    * header — [[wavFloatBytes]] at the other precision: sample i =
    * num(i)/den with `den` a power of two, exact in double, so the
    * production decoder's floor(d·2^15) lands on num(i)·(2^15/den) with
    * zero rounding anywhere.
    */
  def wavFloat64Bytes(sampleRate: Int, nSamples: Int, den: Int,
                      num: Int => Int): Array[Byte] = {
    require(den > 0 && (den & (den - 1)) == 0, s"den must be a power of 2: $den")
    val out = new java.io.ByteArrayOutputStream()
    val dataLen = nSamples * 8
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le(4 + (8 + 18) + (8 + 4) + (8 + dataLen), 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(18, 4))
    out.write(le(3, 2)); out.write(le(1, 2))            // IEEE float, mono
    out.write(le(sampleRate, 4)); out.write(le(sampleRate.toLong * 8, 4))
    out.write(le(8, 2)); out.write(le(64, 2))           // block align, bits
    out.write(le(0, 2))                                 // cbSize
    out.write("fact".getBytes("US-ASCII")); out.write(le(4, 4))
    out.write(le(nSamples, 4))
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (i <- 0 until nSamples)
      out.write(le(java.lang.Double.doubleToLongBits(
        num(i).toDouble / den), 8))
    out.toByteArray
  }

  /** Float64 lane: 40+id%21 samples at 24000 Hz, sample
    * ((i*523 + id*29) % 4097 − 2048) / 2048 — decodes to exactly
    * (num · 16) on the 16-bit lattice.
    */
  def wavFloat64FixtureBytes(id: Long): Array[Byte] =
    wavFloat64Bytes(24000, 40 + (id % 21).toInt, 2048,
      i => ((i * 523 + id * 29) % 4097).toInt - 2048)

  /** IMA/DVI ADPCM WAV writer (codec 0x11) — the independent nibble
    * PACKER (it never decodes: block headers and nibbles come straight
    * from the caller's closed-form functions, so it shares zero code
    * with the production recurrence decoder). Spec-complete header:
    * 20-byte fmt (cbSize 2 + wSamplesPerBlock) and a fact chunk. Block
    * `b` opens with one 4-byte header per channel (int16 `pred(b, c)`,
    * uint8 `stepIdx(b, c)`, reserved 0), then `groups` 4-byte nibble
    * runs per channel, round-robined — channel c's nibble k of block b
    * is `nib(b, c, k)` (low half-byte first within each byte).
    */
  def wavAdpcmBytes(sampleRate: Int, channels: Int, groups: Int,
                    nBlocks: Int, pred: (Int, Int) => Int,
                    stepIdx: (Int, Int) => Int,
                    nib: (Int, Int, Int) => Int): Array[Byte] = {
    val blockAlign = 4 * channels + groups * 4 * channels
    val spb = 1 + 8 * groups // samples per block per channel
    val dataLen = nBlocks * blockAlign
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le(4 + (8 + 20) + (8 + 4) + (8 + dataLen), 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(20, 4))
    out.write(le(0x11, 2)); out.write(le(channels, 2))
    out.write(le(sampleRate, 4))
    out.write(le(sampleRate * blockAlign / spb, 4))     // avg bytes/sec
    out.write(le(blockAlign, 2)); out.write(le(4, 2))   // block align, bits
    out.write(le(2, 2)); out.write(le(spb, 2))          // cbSize, spb
    out.write("fact".getBytes("US-ASCII")); out.write(le(4, 4))
    out.write(le(nBlocks * spb, 4))
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (b <- 0 until nBlocks) {
      for (c <- 0 until channels) {
        out.write(le(pred(b, c) & 0xffff, 2))
        out.write(stepIdx(b, c) & 0xff); out.write(0)
      }
      for (g <- 0 until groups; c <- 0 until channels; bi <- 0 until 4) {
        val k = 8 * g + 2 * bi
        out.write((nib(b, c, k) & 0x0f) | ((nib(b, c, k + 1) & 0x0f) << 4))
      }
    }
    out.toByteArray
  }

  /** ADPCM mono lane: 2+id%2 blocks of 41 samples (5 nibble groups) at
    * 8000 Hz — block b seeds predictor (id·97 + b·411) % 1024 − 512 and
    * step index (id + 17·b) % 89, nibble k = (k·7 + id·3 + b·11) % 16.
    * Multi-block: proves the per-block predictor reset.
    */
  def wavAdpcmMonoBytes(id: Long): Array[Byte] =
    wavAdpcmBytes(8000, 1, 5, 2 + (id % 2).toInt,
      (b, _) => ((id * 97 + b * 411) % 1024).toInt - 512,
      (b, _) => ((id + 17 * b) % 89).toInt,
      (b, _, k) => ((k * 7 + id * 3 + b * 11) % 16).toInt)

  /** ADPCM stereo lane: one block of 4+id%3 nibble groups per channel at
    * 16000 Hz — channel c seeds predictor (id·97 + c·333) % 1024 − 512
    * and step index (id + 31·c) % 89, nibble k = (k·7 + id·3 + c·5) % 16.
    * Proves the 4-byte channel-round-robin group walk.
    */
  def wavAdpcmStereoBytes(id: Long): Array[Byte] =
    wavAdpcmBytes(16000, 2, 4 + (id % 3).toInt, 1,
      (_, c) => ((id * 97 + c * 333) % 1024).toInt - 512,
      (_, c) => ((id + 31 * c) % 89).toInt,
      (_, c, k) => ((k * 7 + id * 3 + c * 5) % 16).toInt)

  /** Microsoft ADPCM WAV writer (codec 0x02) — the independent block
    * PACKER (never decodes: predictor indexes, deltas, header samples
    * and nibbles come straight from the caller's closed-form functions).
    * Spec-complete fmt: cbSize 32 with wSamplesPerBlock, wNumCoef = 7
    * and the standard coefficient pairs, plus a fact chunk. Block `b`
    * opens with the 7-byte-per-channel header grouped BY FIELD across
    * channels (bPredictor bytes, then iDelta, iSamp1, iSamp2 int16
    * runs), then `nibBytes` nibble bytes — HIGH half first; for stereo
    * each byte is one frame (high = channel 0's nibble k, low = channel
    * 1's), for mono byte j carries nibbles 2j (high) and 2j+1 (low).
    */
  def wavMsAdpcmBytes(sampleRate: Int, channels: Int, nibBytes: Int,
                      nBlocks: Int, predIdx: (Int, Int) => Int,
                      idelta: (Int, Int) => Int, samp1: (Int, Int) => Int,
                      samp2: (Int, Int) => Int,
                      nib: (Int, Int, Int) => Int): Array[Byte] = {
    val blockAlign = 7 * channels + nibBytes
    val spb = 2 + 2 * nibBytes / channels // samples per block per channel
    val dataLen = nBlocks * blockAlign
    val coefs = Array((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
      (460, -208), (392, -232))
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le(4 + (8 + 50) + (8 + 4) + (8 + dataLen), 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(50, 4))
    out.write(le(0x02, 2)); out.write(le(channels, 2))
    out.write(le(sampleRate, 4))
    out.write(le(sampleRate * blockAlign / spb, 4))     // avg bytes/sec
    out.write(le(blockAlign, 2)); out.write(le(4, 2))   // block align, bits
    out.write(le(32, 2)); out.write(le(spb, 2))         // cbSize, spb
    out.write(le(coefs.length, 2))                      // wNumCoef
    coefs.foreach { case (a, b) =>
      out.write(le(a & 0xffff, 2)); out.write(le(b & 0xffff, 2))
    }
    out.write("fact".getBytes("US-ASCII")); out.write(le(4, 4))
    out.write(le(nBlocks * spb, 4))
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    for (b <- 0 until nBlocks) {
      for (c <- 0 until channels) out.write(predIdx(b, c) & 0xff)
      for (c <- 0 until channels) out.write(le(idelta(b, c) & 0xffff, 2))
      for (c <- 0 until channels) out.write(le(samp1(b, c) & 0xffff, 2))
      for (c <- 0 until channels) out.write(le(samp2(b, c) & 0xffff, 2))
      for (j <- 0 until nibBytes) {
        val (hi, lo) =
          if (channels == 2) (nib(b, 0, j), nib(b, 1, j))
          else (nib(b, 0, 2 * j), nib(b, 0, 2 * j + 1))
        out.write(((hi & 0x0f) << 4) | (lo & 0x0f))
      }
    }
    out.toByteArray
  }

  /** MS-ADPCM mono lane: 2+id%2 blocks of 10 nibble bytes (22 frames) at
    * 8000 Hz — block b selects coefficient pair (b·3 + id) % 7, seeds
    * delta 16 + (id·13 + b·7) % 500, samp1 (id·97 + b·411) % 1024 − 512,
    * samp2 (id·53 + b·29) % 1024 − 512, nibble k = (k·7 + id·3 + b·11)
    * % 16. Multi-block: proves the per-block header reset; the pair
    * sweep hits every standard coefficient pair across ids.
    */
  def wavMsAdpcmMonoBytes(id: Long): Array[Byte] =
    wavMsAdpcmBytes(8000, 1, 10, 2 + (id % 2).toInt,
      (b, _) => ((b * 3 + id) % 7).toInt,
      (b, _) => 16 + ((id * 13 + b * 7) % 500).toInt,
      (b, _) => ((id * 97 + b * 411) % 1024).toInt - 512,
      (b, _) => ((id * 53 + b * 29) % 1024).toInt - 512,
      (b, _, k) => ((k * 7 + id * 3 + b * 11) % 16).toInt)

  /** MS-ADPCM stereo lane: one block of 8 + 2·(id%3) nibble bytes (one
    * frame per byte) at 16000 Hz — channel c selects pair (c + id) % 7,
    * seeds delta 16 + (id·11 + c·5) % 300, samp1 (id·97 + c·333) % 1024
    * − 512, samp2 (id·41 + c·77) % 1024 − 512, nibble k = (k·7 + id·3 +
    * c·5) % 16. Proves the per-byte high/low channel de-interleave.
    */
  def wavMsAdpcmStereoBytes(id: Long): Array[Byte] =
    wavMsAdpcmBytes(16000, 2, 8 + 2 * (id % 3).toInt, 1,
      (_, c) => ((c + id) % 7).toInt,
      (_, c) => 16 + ((id * 11 + c * 5) % 300).toInt,
      (_, c) => ((id * 97 + c * 333) % 1024).toInt - 512,
      (_, c) => ((id * 41 + c * 77) % 1024).toInt - 512,
      (_, c, k) => ((k * 7 + id * 3 + c * 5) % 16).toInt)

  /** WAVE_FORMAT_EXTENSIBLE (0xFFFE) writer — the >2-channel/high-depth
    * container every DAW exports: 40-byte fmt (cbSize 22, valid bits,
    * channel mask, SubFormat GUID carrying the REAL format), fact chunk.
    * `payload` emits the raw interleaved sample bytes.
    */
  def wavExtensibleBytes(baseCodec: Int, bits: Int, channels: Int,
                         sampleRate: Int, nFrames: Int,
                         payload: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val bp = bits / 8
    val out = new java.io.ByteArrayOutputStream()
    val dataLen = nFrames * channels * bp
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le(4 + (8 + 40) + (8 + 4) + (8 + dataLen), 4))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le(40, 4))
    out.write(le(0xFFFE, 2)); out.write(le(channels, 2))
    out.write(le(sampleRate, 4))
    out.write(le(sampleRate * channels * bp, 4))
    out.write(le(channels * bp, 2)); out.write(le(bits, 2))
    out.write(le(22, 2))                                // cbSize
    out.write(le(bits, 2))                              // valid bits
    out.write(le((1 << channels) - 1, 4))               // channel mask
    out.write(le(baseCodec, 2))                         // GUID: base format
    // GUID tail 0000-0010-8000-00AA00389B71
    out.write(Array[Int](0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
      0x00, 0xaa, 0x00, 0x38, 0x9b, 0x71).map(_.toByte))
    out.write("fact".getBytes("US-ASCII")); out.write(le(4, 4))
    out.write(le(nFrames, 4))
    out.write("data".getBytes("US-ASCII")); out.write(le(dataLen, 4))
    payload(out)
    out.toByteArray
  }

  /** Extensible-PCM16 STEREO lane: 30+id%15 frames at 12000 Hz,
    * interleaved sample j = (j*331 + id*7) % 65536 − 32768 (channel 0 =
    * even j, the zero-crossing channel).
    */
  def wavExtPcmFixtureBytes(id: Long): Array[Byte] = {
    val nf = 30 + (id % 15).toInt
    wavExtensibleBytes(1, 16, 2, 12000, nf, out => {
      def le(i: Int, n: Int): Unit =
        (0 until n).foreach(b => out.write((i >> (8 * b)) & 0xff))
      for (j <- 0 until nf * 2) le(((j * 331 + id * 7) % 65536).toInt - 32768, 2)
    })
  }

  /** Extensible-FLOAT mono lane: 35+id%18 samples at 16000 Hz, sample
    * ((i*257 + id*19) % 1025 − 512) / 512 — decodes to exactly (num·64).
    */
  def wavExtFloatFixtureBytes(id: Long): Array[Byte] = {
    val n = 35 + (id % 18).toInt
    wavExtensibleBytes(3, 32, 1, 16000, n, out => {
      def le(i: Int, nb: Int): Unit =
        (0 until nb).foreach(b => out.write((i >> (8 * b)) & 0xff))
      for (i <- 0 until n) le(java.lang.Float.floatToIntBits(
        (((i * 257 + id * 19) % 1025).toInt - 512).toFloat / 512), 4)
    })
  }

  /** Minimal valid RGB PNG (color type 2, filter 0) — written by its OWN
    * byte-level code, deliberately NOT via MediaCodecHelper.encodePng: the
    * oracle check on decoded RGB values only means something if fixture
    * generation and production decode share no code path. Channel c of
    * pixel (x,y) = (x*31 + y*17 + c*53) & 0xFF.
    */
  def rgbPngBytes(width: Int, height: Int): Array[Byte] = {
    val stride = width * 3
    val raw = new Array[Byte](height * (stride + 1))
    for (y <- 0 until height; x <- 0 until width; c <- 0 until 3)
      raw(y * (stride + 1) + 1 + x * 3 + c) = ((x * 31 + y * 17 + c * 53) & 0xff).toByte
    pngFile(width, height, 8, 2, interlaced = false, null, null, raw)
  }

  /** Shared fixture-side PNG writer — signature, chunk+CRC emission,
    * Adam7 pass geometry, and the None/Sub row filtering (Sub at BYTE
    * level: left neighbor is bpp bytes back, the spec rule that matters
    * when a 16-bit sample spans two bytes) for both the 8-bit envelope
    * fixtures and the 16-bit lanes. One copy of the filter math, still
    * deliberately sharing NO code with MediaCodecHelper's decode or
    * encode paths, so the gated round-trips prove the production decoder
    * against an independent construction. `pixBytes(x, y)` returns one
    * pixel's CODED bytes (exactly bpp of them).
    */
  private def writePngFixture(width: Int, height: Int, depth: Int,
                              colorType: Int, bpp: Int, interlaced: Boolean,
                              pixBytes: (Int, Int) => Array[Int],
                              palette: Array[(Int, Int, Int)],
                              trns: Array[Int]): Array[Byte] =
    pngFile(width, height, depth, colorType, interlaced, palette, trns,
      pngFiltered(width, height, interlaced, bpp) { (xs, y) =>
        xs.toArray.flatMap { x =>
          val v = pixBytes(x, y)
          Array.tabulate(bpp)(c => v(c) & 0xff)
        }
      })

  /** SUB-BYTE PNG fixture (depth 1/2/4, color types 0/3) — bit-packed
    * rows MSB-first with per-row byte padding (spec §7.2), the same
    * chunk/CRC emission and Adam7 geometry as [[writePngFixture]], and
    * the same None/Sub row alternation with Sub applied at the BYTE
    * level on the PACKED bytes (the spec's bpp=1 rule for sub-byte
    * depths — the subtlety this fixture exists to prove). Own bit
    * packer; shares no code with the decoder's unpack path.
    */
  def pngSubByteBytes(width: Int, height: Int, depth: Int, colorType: Int,
                      interlaced: Boolean, sample: (Int, Int) => Int,
                      palette: Array[(Int, Int, Int)] = null,
                      trns: Array[Int] = null): Array[Byte] = {
    require(depth == 1 || depth == 2 || depth == 4, s"bad depth $depth")
    require(colorType == 0 || colorType == 3, s"bad sub-byte type $colorType")
    val mask = (1 << depth) - 1
    // Sub on the PACKED bytes: left neighbor 1 byte back
    pngFile(width, height, depth, colorType, interlaced, palette, trns,
      pngFiltered(width, height, interlaced, 1) { (xs, y) =>
        val row = new Array[Int]((xs.length * depth + 7) / 8)
        for ((x, pxi) <- xs.zipWithIndex) {
          val bit = pxi * depth
          row(bit / 8) |= (sample(x, y) & mask) << (8 - depth - bit % 8)
        }
        row
      })
  }

  /** Bi-level (depth 1) gray lane: (17+id%14)×(9+id%10) — wider than a
    * byte so row padding is inside the gate — Adam7 on odd ids, pixel
    * (x,y) = (x + y·3 + id) % 2; decodes to 0/255.
    */
  def png1GrayBytes(id: Long): Array[Byte] =
    pngSubByteBytes(17 + (id % 14).toInt, 9 + (id % 10).toInt, 1, 0,
      interlaced = id % 2 == 1,
      (x, y) => ((x + y * 3 + id) % 2).toInt)

  /** Depth-2 gray lane: (11+id%9)×(7+id%8), Adam7 when id%3==0, pixel
    * (x,y) = (x·3 + y·5 + id) % 4; decodes to v·85.
    */
  def png2GrayBytes(id: Long): Array[Byte] =
    pngSubByteBytes(11 + (id % 9).toInt, 7 + (id % 8).toInt, 2, 0,
      interlaced = id % 3 == 0,
      (x, y) => ((x * 3 + y * 5 + id) % 4).toInt)

  /** Depth-4 gray COLOR-KEY lane: (9+id%8)×(6+id%7), sequential, pixel
    * (x,y) = (x·7 + y·11 + id) % 16, tRNS key id%16 in RAW sample space
    * — decodes to gray+alpha with v·17 gray and alpha 0 exactly where
    * the raw sample equals the key.
    */
  def png4GrayKeyBytes(id: Long): Array[Byte] =
    pngSubByteBytes(9 + (id % 8).toInt, 6 + (id % 7).toInt, 4, 0,
      interlaced = false,
      (x, y) => ((x * 7 + y * 11 + id) % 16).toInt,
      trns = Array(0, (id % 16).toInt))

  /** Depth-4 palette lane with per-entry tRNS alpha: (13+id%10)×(8+id%9),
    * Adam7 on even ids, index (x,y) = (x·5 + y·7 + id) % 16 into a
    * 16-entry palette (r,g,b) = (i·17, 255−i·17, (i·53)%256), alpha i·16
    * for the first 8 entries and the spec-default 255 past the tRNS
    * array.
    */
  def png4PaletteBytes(id: Long): Array[Byte] =
    pngSubByteBytes(13 + (id % 10).toInt, 8 + (id % 9).toInt, 4, 3,
      interlaced = id % 2 == 0,
      (x, y) => ((x * 5 + y * 7 + id) % 16).toInt,
      palette = Array.tabulate(16)(i => (i * 17, 255 - i * 17, (i * 53) % 256)),
      trns = Array.tabulate(8)(i => i * 16))

  /** 8-bit envelope fixture (palette / alpha / Adam7): `px(x, y)` returns
    * the channel bytes of one pixel (for color type 3, the single palette
    * index). See [[writePngFixture]].
    */
  def pngEnvelopeBytes(width: Int, height: Int, colorType: Int,
                       interlaced: Boolean, px: (Int, Int) => Array[Int],
                       palette: Array[(Int, Int, Int)] = null,
                       trns: Array[Int] = null): Array[Byte] = {
    val bpp = colorType match {
      case 0 | 3 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case t => throw new IllegalArgumentException(s"bad color type $t")
    }
    writePngFixture(width, height, 8, colorType, bpp, interlaced, px,
      palette, trns)
  }

  /** 16-bit fixture (gray16/RGB16/alpha variants): `sample(x, y, c)`
    * returns channel c's 16-bit value, written big-endian. See
    * [[writePngFixture]].
    */
  def png16Bytes(width: Int, height: Int, colorType: Int,
                 interlaced: Boolean,
                 sample: (Int, Int, Int) => Int): Array[Byte] = {
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case t => throw new IllegalArgumentException(s"bad 16-bit color $t")
    }
    writePngFixture(width, height, 16, colorType, 2 * channels, interlaced,
      (x, y) => Array.tabulate(2 * channels) { i =>
        val v = sample(x, y, i / 2) & 0xffff
        if (i % 2 == 0) v >> 8 else v & 0xff
      }, null, null)
  }

  /** Gray16 lane: (13+id%11) x (6+id%9), Adam7 on odd ids, sample
    * (x,y) = (x*2311 + y*3571 + id*97) % 65536.
    */
  def gray16PngBytes(id: Long): Array[Byte] =
    png16Bytes(13 + (id % 11).toInt, 6 + (id % 9).toInt, 0, id % 2 == 1,
      (x, y, _) => ((x * 2311 + y * 3571 + id * 97) % 65536).toInt)

  /** RGB16 lane: (8+id%9) x (5+id%8), Adam7 when id%3==0, channel c =
    * (x*2311 + y*3571 + id*97 + c*7919) % 65536.
    */
  def rgb16PngBytes(id: Long): Array[Byte] =
    png16Bytes(8 + (id % 9).toInt, 5 + (id % 8).toInt, 2, id % 3 == 0,
      (x, y, c) => ((x * 2311 + y * 3571 + id * 97 + c * 7919) % 65536).toInt)

  /** Gray16 COLOR-KEY lane (r17): (9+id%7) x (5+id%6), Adam7 on even
    * ids, sample (x,y) = (x*2311 + y*3571 + id*97) % 65536, tRNS key =
    * the sample at (1,1) — so at least one pixel always matches and the
    * decoder's synthesized 16-bit alpha (0x0000 on match, 0xFFFF
    * elsewhere) is pinned at full precision.
    */
  def gray16KeyPngBytes(id: Long): Array[Byte] = {
    def s(x: Int, y: Int): Int = ((x * 2311 + y * 3571 + id * 97) % 65536).toInt
    val key = s(1, 1)
    writePngFixture(9 + (id % 7).toInt, 5 + (id % 6).toInt, 16, 0, 2,
      id % 2 == 0,
      (x, y) => { val v = s(x, y); Array(v >> 8, v & 0xff) },
      null, Array(key >> 8, key & 0xff))
  }

  /** RGB16 COLOR-KEY lane (r17): (7+id%6) x (4+id%5), Adam7 when
    * id%5==0, channel c = (x*2311 + y*3571 + id*97 + c*7919) % 65536,
    * tRNS key = the three samples at (2,1) — all three must match for
    * alpha 0, per the spec's color-key rule.
    */
  def rgb16KeyPngBytes(id: Long): Array[Byte] = {
    def s(x: Int, y: Int, c: Int): Int =
      ((x * 2311 + y * 3571 + id * 97 + c * 7919) % 65536).toInt
    val key = Array.tabulate(3)(c => s(2, 1, c))
    writePngFixture(7 + (id % 6).toInt, 4 + (id % 5).toInt, 16, 2, 6,
      id % 5 == 0,
      (x, y) => Array.tabulate(6) { i =>
        val v = s(x, y, i / 2); if (i % 2 == 0) v >> 8 else v & 0xff },
      null, key.flatMap(v => Array(v >> 8, v & 0xff)))
  }

  /** 16-entry fixture palette: i → ((i*41+7)%256,(i*61+13)%256,(i*89+29)%256). */
  private def fixPalette: Array[(Int, Int, Int)] =
    Array.tabulate(16)(i => ((i * 41 + 7) % 256, (i * 61 + 13) % 256,
      (i * 89 + 29) % 256))

  /** Palette PNG (color type 3, no tRNS), Adam7-interlaced on odd ids:
    * index (x,y) = (x*5 + y*13 + id) % 16 over (12+id%19) x (7+id%13).
    */
  def palPngBytes(id: Long): Array[Byte] =
    pngEnvelopeBytes(12 + (id % 19).toInt, 7 + (id % 13).toInt, 3,
      id % 2 == 1, (x, y) => Array(((x * 5 + y * 13 + id) % 16).toInt),
      palette = fixPalette)

  /** Palette+tRNS PNG (decodes to RGBA; alpha(i) = (i*53+17)%256 for the
    * first 8 entries, spec-default 255 beyond the tRNS array),
    * Adam7-interlaced when id%3==1: index (x,y) = (x*11 + y*3 + id) % 16
    * over (10+id%17) x (6+id%11).
    */
  def palAlphaPngBytes(id: Long): Array[Byte] =
    pngEnvelopeBytes(10 + (id % 17).toInt, 6 + (id % 11).toInt, 3,
      id % 3 == 1, (x, y) => Array(((x * 11 + y * 3 + id) % 16).toInt),
      palette = fixPalette,
      trns = Array.tabulate(8)(i => (i * 53 + 17) % 256))

  /** Gray+alpha PNG (color type 4), Adam7-interlaced when id%3==2:
    * gray = (x*23+y*29+id)%256, alpha = (x*13+y*17+id)%256 over
    * (14+id%9) x (5+id%6).
    */
  def grayAlphaPngBytes(id: Long): Array[Byte] =
    pngEnvelopeBytes(14 + (id % 9).toInt, 5 + (id % 6).toInt, 4,
      id % 3 == 2, (x, y) => Array(((x * 23 + y * 29 + id) % 256).toInt,
        ((x * 13 + y * 17 + id) % 256).toInt))

  /** RGBA PNG (color type 6), Adam7-interlaced on even ids:
    * r/g/b = (x*19+y*7+id + {0,71,142})%256, alpha = (x*3+y*5+id)%256
    * over (9+id%11) x (6+id%7).
    */
  def rgbaPngBytes(id: Long): Array[Byte] =
    pngEnvelopeBytes(9 + (id % 11).toInt, 6 + (id % 7).toInt, 6,
      id % 2 == 0, (x, y) => Array(((x * 19 + y * 7 + id) % 256).toInt,
        ((x * 19 + y * 7 + id + 71) % 256).toInt,
        ((x * 19 + y * 7 + id + 142) % 256).toInt,
        ((x * 3 + y * 5 + id) % 256).toInt))

  // ---------------- fixture-side JPEG writer ----------------
  //
  // One writer under every JPEG fixture encoder below: marker segments,
  // canonical Huffman codes, the FF00-stuffing bit writer, the block walk
  // and the QM encoder ([[QmEnc]]). It deliberately shares NO code with
  // the production decoder in expr/MediaCodecHelper — its zigzag-order
  // inputs, tables, code derivations and coders are its own — so a hash
  // match on decoded statistics proves two independent implementations of
  // the T.81 layers agree.

  /** A canonical Huffman table (T.81 Annex C): BITS counts per code
    * length and the symbol values in code order. `vals` may be just the
    * HEAD of the value list (a constant-block encoder only emits the
    * first symbols); positions past it still advance the code space.
    */
  private final class FixHuff(val counts: Array[Int], val vals: Array[Int]) {
    val code: Map[Int, (Int, Int)] = {
      var c = 0; var k = 0
      val m = scala.collection.mutable.Map[Int, (Int, Int)]()
      for (l <- 1 to 16) {
        for (_ <- 0 until counts(l - 1)) {
          if (k < vals.length) m(vals(k)) = (c, l)
          c += 1; k += 1
        }
        c <<= 1
      }
      m.toMap
    }
  }

  /** A table whose symbols all sit at code length `len`. */
  private def flatHuff(len: Int, vals: Seq[Int]): FixHuff =
    new FixHuff(Array.tabulate(16)(i => if (i == len - 1) vals.length else 0),
      vals.toArray)

  // DC categories 0..11 and the 12 AC symbols the constant and seed
  // blocks need, all at code length 4 (16 slots, all-ones code unused)
  private val FixDc = flatHuff(4, 0 to 11)
  private val FixAc = flatHuff(4,
    Seq(0x00, 0x01, 0x02, 0x03, 0x04, 0x05, 0x11, 0x12, 0x21, 0x31, 0xB1, 0xF0))
  // quant tables, zigzag order: luma DC=8 / AC=16, chroma DC=4 / AC=16
  private val FixQ0 = Seq.tabulate(64)(i => if (i == 0) 8 else 16)
  private val FixQ1 = Seq.tabulate(64)(i => if (i == 0) 4 else 16)

  private def be16(v: Int): Seq[Int] = Seq((v >> 8) & 0xff, v & 0xff)

  /** One component of a fixture frame: frame index, id, sampling factors,
    * table selectors, real block grid (T.81 A.2.2), and its quantized
    * zigzag coefficient block at block position (bx, by).
    */
  private final case class FixComp(idx: Int, id: Int, hf: Int, vf: Int,
                                   tdta: Int, bwReal: Int, bhReal: Int,
                                   blk: (Int, Int) => Array[Int])

  /** The 1- or 3-component fixture frame: Y (2x2 when `sub420`) + Cb/Cr
    * at 1x1, block constant v quantized to (v-128)·8/q (exact: the DC
    * quant step q is 8 for luma and 4 for chroma), `acSeed` replacing
    * Y block (0,0). Chroma block functions take chroma block positions —
    * under 4:2:0 one per MCU.
    */
  private def fixComps(width: Int, height: Int, color: Boolean, sub420: Boolean,
                       yBlock: (Int, Int) => Int, cbBlock: (Int, Int) => Int,
                       crBlock: (Int, Int) => Int, acSeed: Array[Int],
                       chromaTables: Int): Seq[FixComp] = {
    def const(v: Int, q: Int): Array[Int] = {
      val a = new Array[Int](64); a(0) = (v - 128) * 8 / q; a
    }
    val y = FixComp(0, 1, if (sub420) 2 else 1, if (sub420) 2 else 1, 0x00,
      (width + 7) / 8, (height + 7) / 8, (bx, by) =>
        if (acSeed != null && bx == 0 && by == 0) acSeed else const(yBlock(bx, by), 8))
    if (!color) Seq(y)
    else {
      val (cw, ch) = if (sub420) ((width + 1) / 2, (height + 1) / 2) else (width, height)
      def chroma(i: Int, f: (Int, Int) => Int) = FixComp(i, i + 1, 1, 1,
        chromaTables, (cw + 7) / 8, (ch + 7) / 8, (bx, by) => const(f(bx, by), 4))
      Seq(y, chroma(1, cbBlock), chroma(2, crBlock))
    }
  }

  private final class JpegWriter {
    val out = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))

    /** One marker segment: FF, marker, 2-byte length, payload. */
    def seg(marker: Int, payload: Seq[Int]): Unit = {
      b(0xff, marker); b(be16(payload.length + 2): _*); b(payload: _*)
    }
    /** DQT: (Pq<<4 | Tq, zigzag entries), 16-bit entries when Pq = 1. */
    def dqt(tables: (Int, Seq[Int])*): Unit =
      seg(0xdb, tables.flatMap { case (pqTq, q) =>
        pqTq +: (if ((pqTq >> 4) == 0) q else q.flatMap(be16)) })
    /** DHT: (Tc<<4 | Th, table) — several tables may share a segment. */
    def dht(tables: (Int, FixHuff)*): Unit =
      seg(0xc4, tables.flatMap { case (tcTh, t) => tcTh +: (t.counts.toSeq ++ t.vals) })
    /** SOF: (id, H<<4 | V, Tq) per component. */
    def sof(marker: Int, precision: Int, w: Int, h: Int,
            comps: Seq[(Int, Int, Int)]): Unit =
      seg(marker, Seq(precision) ++ be16(h) ++ be16(w) ++ Seq(comps.length) ++
        comps.flatMap { case (id, hv, tq) => Seq(id, hv, tq) })
    def dri(interval: Int): Unit = if (interval > 0) seg(0xdd, be16(interval))
    /** SOS: (id, Td<<4 | Ta) per component, then Ss, Se, Ah<<4 | Al. */
    def sos(comps: Seq[(Int, Int)], ss: Int, se: Int, ahal: Int): Unit =
      seg(0xda, Seq(comps.length) ++ comps.flatMap { case (id, t) => Seq(id, t) } ++
        Seq(ss, se, ahal))
    /** SOI, the fixture quant tables (the chroma one only for color) and
      * an 8-bit SOF: luma on quant table 0, chroma on 1.
      */
    def dctHeader(marker: Int, w: Int, h: Int, comps: Seq[FixComp]): Unit = {
      b(0xff, 0xd8)
      dqt(Seq(0x00 -> FixQ0) ++ (if (comps.length > 1) Seq(0x01 -> FixQ1) else Nil): _*)
      sof(marker, 8, w, h,
        comps.map(c => (c.id, (c.hf << 4) | c.vf, if (c.idx == 0) 0 else 1)))
    }
    def frameSos(comps: Seq[FixComp], ss: Int, se: Int, ahal: Int): Unit =
      sos(comps.map(c => (c.id, c.tdta)), ss, se, ahal)
    def finish(): Array[Byte] = { b(0xff, 0xd9); out.toByteArray }

    // ---- MSB-first bit writer with FF00 stuffing ----
    private var acc = 0
    private var nbits = 0
    def putBit(bit: Int): Unit = {
      acc = (acc << 1) | bit; nbits += 1
      if (nbits == 8) {
        out.write(acc)
        if (acc == 0xff) out.write(0x00)
        acc = 0; nbits = 0
      }
    }
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { putBit((v >> i) & 1); i -= 1 }
    }
    def flushBits(): Unit = while (nbits != 0) putBit(1) // pad with 1s
    /** Byte-align, then the RSTn marker. */
    def restart(idx: Int): Unit = { flushBits(); b(0xff, 0xd0 + idx) }

    def putSym(t: FixHuff, sym: Int): Unit = {
      val (c, l) = t.code(sym); putBits(c, l)
    }
    /** Category symbol then the F.1.2.1 magnitude bits (d < 0 codes as
      * d − 1 + 2^s); category 16 is lossless's bitless 32768.
      */
    def putDiff(t: FixHuff, d: Int): Unit = {
      val s = cat(d)
      putSym(t, s)
      if (s > 0 && s < 16) putBits(if (d < 0) d + (1 << s) - 1 else d, s)
    }
    /** AC run/size symbols over zigzag [from, to] of `zz` (already point
      * transformed) up to its last nonzero value, ZRL for runs past 15.
      */
    def putAcRuns(ac: FixHuff, zz: Int => Int, from: Int, to: Int): Unit = {
      var lastNz = from - 1
      for (k <- from to to if zz(k) != 0) lastNz = k
      var k = from
      while (k <= lastNz) {
        var run = 0
        while (zz(k) == 0) { run += 1; k += 1 }
        while (run >= 16) { putSym(ac, 0xF0); run -= 16 }
        val v = zz(k); val s = cat(v)
        putSym(ac, (run << 4) | s)
        putBits(if (v < 0) v + (1 << s) - 1 else v, s)
        k += 1
      }
    }
    /** A sequential block: DC difference, AC runs, EOB unless coefficient
      * 63 is nonzero. Returns the block's DC, the next prediction.
      */
    def putBlock(dc: FixHuff, ac: FixHuff, zz: Array[Int], pred: Int): Int = {
      putDiff(dc, zz(0) - pred)
      putAcRuns(ac, zz(_), 1, 63)
      if (zz(63) == 0) putSym(ac, 0x00)
      zz(0)
    }
  }

  private def cat(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** The fixture block walk (T.81 A.2): one component visits its real
    * block grid, several interleave by MCU over a `width`×`height` frame
    * whose largest sampling factor is `hmax` (fixtures sample
    * symmetrically), each component's hf×vf blocks in turn. `restart(n)`
    * runs before every `restartInterval`-th MCU with the RSTn index.
    */
  private def fixScan(comps: Seq[FixComp], width: Int, height: Int, hmax: Int,
                      restartInterval: Int, restart: Int => Unit)
                     (block: (FixComp, Int, Int) => Unit): Unit = {
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * hmax - 1) / (8 * hmax)
    var mcu = 0
    def boundary(): Unit = {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0)
        restart((mcu / restartInterval - 1) & 7)
      mcu += 1
    }
    if (comps.length == 1) {
      val c = comps.head
      for (by <- 0 until c.bhReal; bx <- 0 until c.bwReal) { boundary(); block(c, bx, by) }
    } else {
      for (my <- 0 until mcusY; mx <- 0 until mcusX) {
        boundary()
        for (c <- comps; v <- 0 until c.vf; h <- 0 until c.hf)
          block(c, mx * c.hf + h, my * c.vf + v)
      }
    }
  }

  /** Minimal structurally-valid JPEG: SOI, JFIF APP0, a COM segment whose
    * length varies with (w+h) so the SOF offset is data-dependent (a
    * fixed-offset parser reads garbage), SOF0 with the given dimensions
    * and component count, a one-component SOS with a few entropy bytes
    * (containing a bare FF! — a marker walk that keeps scanning past SOS
    * would misparse), and EOI. Own byte emission, deliberately sharing no
    * code with the production parser.
    */
  def jpegBytes(width: Int, height: Int, components: Int): Array[Byte] = {
    val j = new JpegWriter
    j.b(0xff, 0xd8) // SOI
    // APP0 JFIF v1.1, no density, no thumbnail
    j.seg(0xe0, "JFIF".map(_.toInt) ++ Seq(0, 1, 1, 0) ++ be16(1) ++ be16(1) ++ Seq(0, 0))
    val pad = (width + height) % 7 // data-dependent COM size
    j.seg(0xfe, "graft".map(_.toInt) ++ Seq.fill(pad)('x'.toInt))
    j.sof(0xc0, 8, width, height,
      (0 until components).map(c => (c + 1, 0x11, if (c == 0) 0 else 1)))
    j.sos(Seq(1 -> 0), 0, 63, 0)
    j.b(0x12, 0xff, 0x00, 0x34) // entropy bytes incl. stuffed FF
    j.finish()
  }

  /** REAL baseline JPEG encoder (fixture side): constant-valued 8×8
    * blocks (DC-only, so decoded values are exactly the block constants
    * under any conforming IDCT), an optional hand-set quantized
    * coefficient block at Y position (0,0) that exercises the AC/IDCT
    * path with pre-verified integer outputs, 4:4:4 or 4:2:0 chroma
    * layout, and restart markers, written through the fixture-side
    * [[JpegWriter]] with custom canonical Huffman tables — so a hash
    * match on decoded statistics proves two independent implementations
    * of the T.81 entropy/DCT layers agree.
    *
    * Quant tables: luma DC=8 / AC=16 (table 0), chroma DC=4 / AC=16
    * (table 1). Block constant v encodes to quantized DC (v-128)·8/q —
    * exact by construction, so decode replays v exactly.
    *
    * @param yBlock  Y (or gray) constant for 8×8 block (bx, by) — also
    *                evaluated for pad blocks beyond the image edge
    * @param cbBlock Cb constant per chroma block == per MCU under 4:2:0
    * @param crBlock Cr constant per chroma block
    * @param acSeed  quantized zigzag coefficients (length 64) replacing
    *                Y block (0,0); null for all-constant images
    */
  def jpegBaselineBytes(width: Int, height: Int, color: Boolean,
                        sub420: Boolean,
                        yBlock: (Int, Int) => Int,
                        cbBlock: (Int, Int) => Int,
                        crBlock: (Int, Int) => Int,
                        acSeed: Array[Int],
                        restartInterval: Int): Array[Byte] = {
    require(width > 0 && height > 0)
    // acSeed is SPECIFIED in zigzag order, so no reorder happens here —
    // the decoder's dezigzag is what's under test
    val comps = fixComps(width, height, color, sub420, yBlock, cbBlock,
      crBlock, acSeed, chromaTables = 0x11)
    val j = new JpegWriter
    j.dctHeader(0xc0, width, height, comps)
    // two tables per DHT segment (exercises the decoder's multi-table walk)
    j.dht(0x00 -> FixDc, 0x10 -> FixAc)
    if (color) j.dht(0x01 -> FixDc, 0x11 -> FixAc)
    j.dri(restartInterval)
    j.frameSos(comps, 0, 63, 0)
    val preds = new Array[Int](comps.length)
    fixScan(comps, width, height, comps.head.hf, restartInterval,
      rst => { j.restart(rst); java.util.Arrays.fill(preds, 0) }) { (c, bx, by) =>
      preds(c.idx) = j.putBlock(FixDc, FixAc, c.blk(bx, by), preds(c.idx))
    }
    j.flushBits()
    j.finish()
  }

  /** The hand-set AC test block (quantized, zigzag order): DC + 9 AC
    * coefficients including an 11-zero run that forces a (run, size)
    * symbol with run > 0. Its decoded 64 pixels were computed by an
    * INDEPENDENT Python IDCT at fixture-design time (sum 8383, min 103,
    * max 187, every value ≥ 0.016 from a rounding boundary vs ~1e-13
    * double noise) and are hard-coded in the DuckDB oracle — so the
    * hash gate covers the production Huffman + dequant + dezigzag +
    * IDCT path end-to-end.
    */
  val GrayAcSeed: Array[Int] = {
    val a = new Array[Int](64)
    a(0) = 3; a(1) = 5; a(2) = -3; a(3) = 2; a(4) = -2
    a(5) = 1; a(6) = 4; a(7) = -1; a(8) = 2; a(20) = 1
    a
  }

  /** Expected decode of [[GrayAcSeed]] (row-major), from the independent
    * reference IDCT — used by specs and embedded in the oracle SQL.
    */
  val GrayAcPixels: Array[Int] = Array(
    151, 138, 126, 127, 134, 133, 120, 106,
    143, 130, 118, 120, 128, 129, 117, 103,
    141, 128, 117, 119, 129, 132, 122, 109,
    143, 129, 117, 119, 130, 134, 125, 114,
    146, 131, 117, 117, 126, 130, 122, 111,
    162, 146, 129, 125, 132, 134, 124, 113,
    181, 163, 143, 136, 139, 138, 128, 116,
    187, 168, 146, 136, 137, 135, 123, 111)

  /** Gray baseline JPEG fixture for doc `id`: (20+id%37)×(11+id%13),
    * block (bx,by) constant (bx*29+by*41+id*7)%256 except the AC seed at
    * (0,0); restart marker every 5 MCUs.
    */
  def grayJpegBytes(id: Long): Array[Byte] =
    jpegBaselineBytes(20 + (id % 37).toInt, 11 + (id % 13).toInt,
      color = false, sub420 = false,
      yBlock = (bx, by) => ((bx * 29 + by * 41 + id * 7) % 256).toInt,
      cbBlock = null, crBlock = null,
      acSeed = GrayAcSeed, restartInterval = 5)

  /** 4:2:0 color baseline JPEG fixture for doc `id`: (9+id%23)×(7+id%17),
    * Y block (bx,by) = (bx*23+by*31+id*11)%256, chroma constant per MCU:
    * Cb = (mx*17+id*5)%256, Cr = (my*19+id*3)%256.
    */
  def colorJpegBytes(id: Long): Array[Byte] =
    jpegBaselineBytes(9 + (id % 23).toInt, 7 + (id % 17).toInt,
      color = true, sub420 = true,
      yBlock = (bx, by) => ((bx * 23 + by * 31 + id * 11) % 256).toInt,
      cbBlock = (mx, _) => ((mx * 17 + id * 5) % 256).toInt,
      crBlock = (_, my) => ((my * 19 + id * 3) % 256).toInt,
      acSeed = null, restartInterval = 0)

  /** T.81 Table D.3 constants for the ARITHMETIC fixture encoder —
    * published-spec data (the same table the production decoder carries;
    * restated here so the encoder shares no code with it, the zigzag
    * discipline). Packed (qe, nlps, nmps, switch) per row.
    */
  private val ArithQe: Array[Int] = Array(
    0x5a1d, 0x2586, 0x1114, 0x080b, 0x03d8, 0x01da, 0x00e5, 0x006f,
    0x0036, 0x001a, 0x000d, 0x0006, 0x0003, 0x0001, 0x5a7f, 0x3f25,
    0x2cf2, 0x207c, 0x17b9, 0x1182, 0x0cef, 0x09a1, 0x072f, 0x055c,
    0x0406, 0x0303, 0x0240, 0x01b1, 0x0144, 0x00f5, 0x00b7, 0x008a,
    0x0068, 0x004e, 0x003b, 0x002c, 0x5ae1, 0x484c, 0x3a0d, 0x2ef1,
    0x261f, 0x1f33, 0x19a8, 0x1518, 0x1177, 0x0e74, 0x0bfb, 0x09f8,
    0x0861, 0x0706, 0x05cd, 0x04de, 0x040f, 0x0363, 0x02d4, 0x025c,
    0x01f8, 0x01a4, 0x0160, 0x0125, 0x00f6, 0x00cb, 0x00ab, 0x008f,
    0x5b12, 0x4d04, 0x412c, 0x37d8, 0x2fe8, 0x293c, 0x2379, 0x1edf,
    0x1aa9, 0x174e, 0x1424, 0x119c, 0x0f6b, 0x0d51, 0x0bb6, 0x0a40,
    0x5832, 0x4d1c, 0x438e, 0x3bdd, 0x34ee, 0x2eae, 0x299a, 0x2516,
    0x5570, 0x4ca9, 0x44d9, 0x3e22, 0x3824, 0x32b4, 0x2e17, 0x56a8,
    0x4f46, 0x47e5, 0x41cf, 0x3c3d, 0x375e, 0x5231, 0x4c0f, 0x4639,
    0x415e, 0x5627, 0x50e7, 0x4b85, 0x5597, 0x504f, 0x5a10, 0x5522,
    0x59eb, 0x5a1d)
  private val ArithNlps: Array[Int] = Array(
    1, 14, 16, 18, 20, 23, 25, 28, 30, 33, 35, 9, 10, 12, 15, 36,
    38, 39, 40, 42, 43, 45, 46, 48, 49, 51, 52, 54, 56, 57, 59, 60,
    62, 63, 32, 33, 37, 64, 65, 67, 68, 69, 70, 72, 73, 74, 75, 77,
    78, 79, 48, 50, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 61, 61,
    65, 80, 81, 82, 83, 84, 86, 87, 87, 72, 72, 74, 74, 75, 77, 77,
    80, 88, 89, 90, 91, 92, 93, 86, 88, 95, 96, 97, 99, 99, 93, 95,
    101, 102, 103, 104, 99, 105, 106, 107, 103, 105, 108, 109, 110, 111,
    110, 112, 112, 113)
  private val ArithNmps: Array[Int] = Array(
    1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 13, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 9, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48,
    49, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 60, 61, 62, 63, 32,
    65, 66, 67, 68, 69, 70, 71, 72, 73, 74, 75, 76, 77, 78, 79, 48,
    81, 82, 83, 84, 85, 86, 87, 71, 89, 90, 91, 92, 93, 94, 86, 96,
    97, 98, 99, 100, 93, 102, 103, 104, 99, 106, 107, 103, 109, 107,
    111, 109, 111, 113)
  private val ArithSwitch: Set[Int] =
    Set(0, 14, 36, 64, 80, 88, 95, 105, 110, 112)

  /** The QM-coder ENCODER (T.81 Annex D): CODELPS/CODEMPS with
    * conditional MPS/LPS interval exchange, BYTEOUT from C bit 19 with
    * the pending-0xFF stack and carry resolution, zero-byte stuffing
    * after every emitted 0xFF, and the D.1.8 FLUSH that clears as many
    * trailing code bits as the final interval allows. Verified
    * byte-exact against the system libjpeg's arithmetic encoder on the
    * conformance goldens (see MediaCodecSpec) — yet shares no code with
    * the production DECODER in expr/MediaCodecHelper, whose register
    * machine is the F.2.2 decoder, not this one.
    */
  private final class QmEnc(out: java.io.ByteArrayOutputStream) {
    private var a = 0x10000L
    private var c = 0L
    private var ct = 11
    private var buffer = -1
    private var sc = 0L
    private var zc = 0L

    def reset(): Unit = {
      a = 0x10000L; c = 0L; ct = 11; buffer = -1; sc = 0L; zc = 0L
    }

    private def byteOut(): Unit = {
      val temp = (c >> 19).toInt
      if (temp > 0xff) {
        if (buffer >= 0) {
          while (zc > 0) { out.write(0); zc -= 1 }
          out.write(buffer + 1)
          if (buffer + 1 == 0xff) out.write(0)
        }
        zc += sc; sc = 0
        buffer = temp & 0xff
      } else if (temp == 0xff) {
        sc += 1
      } else {
        if (buffer == 0) zc += 1 // zero bytes stay pending: droppable
        // at the stream tail, emitted before any later nonzero byte
        else if (buffer >= 0) {
          while (zc > 0) { out.write(0); zc -= 1 }
          out.write(buffer)
        }
        if (sc > 0) {
          while (zc > 0) { out.write(0); zc -= 1 }
          while (sc > 0) { out.write(0xff); out.write(0); sc -= 1 }
        }
        buffer = temp
      }
      c &= 0x7ffffL
      ct += 8
    }

    private def renorm(): Unit = {
      while ({
        a <<= 1; c <<= 1; ct -= 1
        if (ct == 0) byteOut()
        (a & 0x8000L) == 0
      }) ()
    }

    /** Code decision `d` against bin `si` of `st`, adapting the bin. */
    def code(st: Array[Int], si: Int, d: Int): Unit = {
      val sv = st(si)
      val idx = sv >> 1
      var mps = sv & 1
      val qe = ArithQe(idx)
      a -= qe
      if (d != mps) {
        if (a >= qe) { c += a; a = qe }
        if (ArithSwitch(idx)) mps = 1 - mps
        st(si) = (ArithNlps(idx) << 1) | mps
        renorm()
      } else if ((a & 0x8000L) == 0) {
        if (a < qe) { c += a; a = qe }
        st(si) = (ArithNmps(idx) << 1) | mps
        renorm()
      } // fast MPS path: no renorm, no state change (D.1.5)
    }

    /** D.1.8 termination: clear low code bits, push out the remainder,
      * dropping final zero bytes (the decoder's past-the-end zero feed
      * reconstructs them).
      */
    def flush(): Unit = {
      val t = (a - 1 + c) & 0xffff0000L
      c = if (t < c) t + 0x8000L else t
      c <<= ct
      if ((c & 0xf8000000L) != 0) {
        if (buffer >= 0) {
          while (zc > 0) { out.write(0); zc -= 1 }
          out.write(buffer + 1)
          if (buffer + 1 == 0xff) out.write(0)
        }
        zc += sc; sc = 0
      } else {
        if (buffer == 0) zc += 1
        else if (buffer >= 0) {
          while (zc > 0) { out.write(0); zc -= 1 }
          out.write(buffer)
        }
        if (sc > 0) {
          while (zc > 0) { out.write(0); zc -= 1 }
          while (sc > 0) { out.write(0xff); out.write(0); sc -= 1 }
        }
      }
      if ((c & 0x7fff800L) != 0) {
        // pending zero bytes precede the final code bytes (only truly
        // TRAILING zeros are droppable — the r18 segment-flush fix the
        // libjpeg cross-check caught)
        while (zc > 0) { out.write(0); zc -= 1 }
        out.write(((c >> 19) & 0xff).toInt)
        if (((c >> 19) & 0xff) == 0xff) out.write(0)
        if ((c & 0x7f800L) != 0) {
          out.write(((c >> 11) & 0xff).toInt)
          if (((c >> 11) & 0xff) == 0xff) out.write(0)
        }
      }
    }

    /** The DC-difference decision tree (F.1.4.4.1; lossless H.1.2.2
      * reuses it): zero decision at `ctx`, sign, magnitude category up
      * the X bins from `xBase`, magnitude bits in the matching M bins.
      * Returns the difference's class against the DAC bounds: 0 zero or
      * small below L, 1/2 small positive/negative, 3/4 large.
      */
    def codeDiff(st: Array[Int], ctx: Int, xBase: Int, d: Int,
                 condL: Int, condU: Int): Int = {
      if (d == 0) { code(st, ctx, 0); return 0 }
      code(st, ctx, 1)
      val sign = if (d < 0) 1 else 0
      code(st, ctx + 1, sign)
      val v = math.abs(d) - 1
      var m = 0
      var si = ctx + 2 + sign
      if (v == 0) code(st, si, 0)
      else {
        code(st, si, 1)
        m = 1; si = xBase
        while (v >= (m << 1)) { code(st, si, 1); m <<= 1; si += 1 }
        code(st, si, 0)
      }
      si += 14
      var mm = m >> 1
      while (mm != 0) { code(st, si, if ((v & mm) != 0) 1 else 0); mm >>= 1 }
      if (m < ((1 << condL) >> 1)) 0
      else if (m > ((1 << condU) >> 1)) 3 + sign
      else 1 + sign
    }

    private val fixedBin = Array(113 << 1) // non-adaptive AC sign bin

    /** A block's AC band 1..63 (the F.1.4.4.2 model), zigzag order. */
    def codeAc(st: Array[Int], zz: Array[Int], condK: Int): Unit = {
      var lastNz = 0
      for (i <- 1 until 64 if zz(i) != 0) lastNz = i
      var k = 1
      while (k <= lastNz) {
        var si = 3 * (k - 1)
        code(st, si, 0) // not EOB
        while (zz(k) == 0) { code(st, si + 1, 0); si += 3; k += 1 }
        code(st, si + 1, 1)
        val cv = zz(k)
        code(fixedBin, 0, if (cv < 0) 1 else 0)
        val v = math.abs(cv) - 1
        var m = 0
        si += 2
        if (v == 0) code(st, si, 0)
        else {
          code(st, si, 1)
          if (v == 1) { code(st, si, 0); m = 1 }
          else {
            code(st, si, 1)
            m = 2; si = if (k <= condK) 189 else 217
            while (v >= (m << 1)) { code(st, si, 1); m <<= 1; si += 1 }
            code(st, si, 0)
          }
        }
        si += 14
        var mm = m >> 1
        while (mm != 0) { code(st, si, if ((v & mm) != 0) 1 else 0); mm >>= 1 }
        k += 1
      }
      if (lastNz < 63) code(st, 3 * (k - 1), 1) // EOB
    }
  }

  /** REAL arithmetic-coded JPEG encoder (fixture side): SOF9 extended
    * sequential with the F.1.4.4.1 DC and F.1.4.4.2 AC statistical
    * models over the [[QmEnc]] coder — constant-valued 8×8 blocks
    * (DC-only, decoded values exactly the block constants), an optional
    * quantized AC seed block at Y (0,0) with pre-verified integer
    * outputs, 4:4:4 or 4:2:0 chroma, restart markers (flush + RSTn +
    * full statistics reset), and DAC conditioning — `dacU`/`dacK` < 0
    * writes NO DAC segment, exercising the decoder's T.81 defaults
    * (L=0, U=1, Kx=5). Quant tables: luma DC=8/AC=16 (slot 0), chroma
    * DC=4/AC=16 (slot 1), as the baseline fixture.
    */
  def jpegArithBytes(width: Int, height: Int, color: Boolean,
                     sub420: Boolean,
                     yBlock: (Int, Int) => Int,
                     cbBlock: (Int, Int) => Int,
                     crBlock: (Int, Int) => Int,
                     acSeed: Array[Int],
                     restartInterval: Int,
                     dacU: Int, dacK: Int,
                     progressive: Boolean = false,
                     multiScan: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0)
    // the progressive lane is the GRAY spectral script (one DC scan +
    // one 1..63 AC scan, Al=0); color/successive-approximation
    // progressive conformance is covered by the libjpeg goldens in spec
    require(!(progressive && color), "progressive fixture lane is gray")
    // the multi-scan lane is the 1x1-color non-interleaved layout
    // (Y-only full-band scan + interleaved Cb+Cr scan)
    require(!multiScan || (color && !sub420 && !progressive),
      "multi-scan fixture lane is 1x1 color")
    val condL = 0
    val condU = if (dacU >= 0) dacU else 1
    val condK = if (dacK >= 0) dacK else 5
    // every component codes against conditioning/statistics slot 0
    val comps = fixComps(width, height, color, sub420, yBlock, cbBlock,
      crBlock, acSeed, chromaTables = 0x00)
    val j = new JpegWriter
    // SOF9 sequential / SOF10 progressive arithmetic
    j.dctHeader(if (progressive) 0xca else 0xc9, width, height, comps)
    // DAC: DC table 0 (U<<4|L) and AC table 0 (Kx)
    if (dacU >= 0 || dacK >= 0)
      j.seg(0xcc, Seq(0x00, (condU << 4) | condL, 0x10, condK))
    j.dri(restartInterval)
    // ---- entropy layer: each scan is its own arithmetic segment ----
    val enc = new QmEnc(j.out)
    val dcStats = new Array[Int](64)
    val acStats = new Array[Int](256)
    val dcCtx = new Array[Int](comps.length)
    val preds = new Array[Int](comps.length)
    def segmentStart(): Unit = {
      enc.reset()
      java.util.Arrays.fill(dcStats, 0); java.util.Arrays.fill(acStats, 0)
      java.util.Arrays.fill(dcCtx, 0); java.util.Arrays.fill(preds, 0)
    }
    def dcPart(c: FixComp, coef0: Int): Unit = {
      dcCtx(c.idx) = 4 * enc.codeDiff(dcStats, dcCtx(c.idx), 20,
        coef0 - preds(c.idx), condL, condU)
      preds(c.idx) = coef0
    }
    /** One arithmetic scan: DC and/or AC parts per block, restarts
      * flushing the coder into a fresh segment.
      */
    def scan(sc: Seq[FixComp], ss: Int, se: Int, dc: Boolean, ac: Boolean): Unit = {
      j.frameSos(sc, ss, se, 0)
      segmentStart()
      fixScan(sc, width, height, comps.head.hf, restartInterval,
        rst => { enc.flush(); j.b(0xff, 0xd0 + rst); segmentStart() }) { (c, bx, by) =>
        val zz = c.blk(bx, by)
        if (dc) dcPart(c, zz(0))
        if (ac) enc.codeAc(acStats, zz, condK)
      }
      enc.flush()
    }
    if (progressive) {
      // gray spectral script: SOS(DC, Ss=Se=0) then SOS(AC, 1..63)
      scan(comps, 0, 0, dc = true, ac = false)
      scan(comps, 1, 63, dc = false, ac = true)
    } else if (multiScan) {
      // T.81 non-interleaved sequential layout: Y full-band over its
      // block grid, then Cb+Cr interleaved
      scan(comps.take(1), 0, 63, dc = true, ac = true)
      scan(comps.drop(1), 0, 63, dc = true, ac = true)
    } else scan(comps, 0, 63, dc = true, ac = true)
    j.finish()
  }

  /** Gray arithmetic JPEG fixture for doc `id`: (14+id%19)×(10+id%11),
    * block (bx,by) constant (bx*31+by*47+id*13)%256 except the AC seed
    * at (0,0), restart every 3 MCUs, NO DAC segment (decoder defaults).
    */
  def grayJpegArithBytes(id: Long): Array[Byte] =
    jpegArithBytes(14 + (id % 19).toInt, 10 + (id % 11).toInt,
      color = false, sub420 = false,
      yBlock = (bx, by) => ((bx * 31 + by * 47 + id * 13) % 256).toInt,
      cbBlock = null, crBlock = null,
      acSeed = GrayAcSeed, restartInterval = 3, dacU = -1, dacK = -1)

  /** Gray arithmetic fixture with NON-default DAC conditioning (U=3,
    * Kx=16): same closed-form pixels, different bitstream contexts —
    * proves the conditioning plumbing end to end.
    */
  def condJpegArithBytes(id: Long): Array[Byte] =
    jpegArithBytes(12 + (id % 13).toInt, 9 + (id % 9).toInt,
      color = false, sub420 = false,
      yBlock = (bx, by) => ((bx * 53 + by * 19 + id * 29) % 256).toInt,
      cbBlock = null, crBlock = null,
      acSeed = GrayAcSeed, restartInterval = 0, dacU = 3, dacK = 16)

  /** PROGRESSIVE (SOF10) gray arithmetic fixture: the spectral script —
    * one DC scan + one 1..63 AC scan, each its own arithmetic segment,
    * restart every 4 blocks inside BOTH scans. Same closed-form pixels
    * as the sequential lanes: (13+id%17)×(9+id%10), block constant
    * (bx*41+by*23+id*19)%256, AC seed at (0,0).
    */
  def grayJpegArithProgBytes(id: Long): Array[Byte] =
    jpegArithBytes(13 + (id % 17).toInt, 9 + (id % 10).toInt,
      color = false, sub420 = false,
      yBlock = (bx, by) => ((bx * 41 + by * 23 + id * 19) % 256).toInt,
      cbBlock = null, crBlock = null,
      acSeed = GrayAcSeed, restartInterval = 4, dacU = 1, dacK = 5,
      progressive = true)

  /** MULTI-SCAN sequential-arithmetic fixture: 1x1 color SOF9 split
    * into a Y-only full-band scan (AC seed at (0,0)) and an interleaved
    * Cb+Cr scan, restarts every 2 blocks in both. (10+id%19)×(8+id%13);
    * Y const (bx*43+by*17+id*23)%256, Cb (bx*19+id*3)%256,
    * Cr (by*37+id*29)%256 per block position.
    */
  def msJpegArithBytes(id: Long): Array[Byte] =
    jpegArithBytes(10 + (id % 19).toInt, 8 + (id % 13).toInt,
      color = true, sub420 = false,
      yBlock = (bx, by) => ((bx * 43 + by * 17 + id * 23) % 256).toInt,
      cbBlock = (bx, _) => ((bx * 19 + id * 3) % 256).toInt,
      crBlock = (_, by) => ((by * 37 + id * 29) % 256).toInt,
      acSeed = GrayAcSeed, restartInterval = 2, dacU = 1, dacK = 5,
      multiScan = true)

  /** 4:2:0 color arithmetic fixture: Y block (bx,by) =
    * (bx*37+by*13+id*17)%256, Cb = (mx*23+id*7)%256, Cr =
    * (my*29+id*11)%256 per MCU, restart every 2 MCUs, default
    * conditioning via an explicit DAC segment.
    */
  def colorJpegArithBytes(id: Long): Array[Byte] =
    jpegArithBytes(11 + (id % 21).toInt, 8 + (id % 15).toInt,
      color = true, sub420 = true,
      yBlock = (bx, by) => ((bx * 37 + by * 13 + id * 17) % 256).toInt,
      cbBlock = (mx, _) => ((mx * 23 + id * 7) % 256).toInt,
      crBlock = (_, my) => ((my * 29 + id * 11) % 256).toInt,
      acSeed = null, restartInterval = 2, dacU = 1, dacK = 5)

  /** 12-bit extended-sequential JPEG (SOF1) fixture encoder — the
    * independent bitstream writer for the DICOM-shaped gray lane. One
    * quant table (8- or 16-bit per `q16`), one DC table (the 16 category
    * symbols 0–15 at code length 5 — canonical code i for symbol i) and
    * one AC table (EOB=0x00, run-0 sizes 0x01–0x0A and ZRL=0xF0 at
    * length 5, in that symbol order). Each 8×8 block carries a DC
    * difference (the closed-form block VALUE differenced against the
    * running predictor — pure arithmetic on the caller's values, the
    * decoder's dequant/IDCT reconstruction is never run here) plus
    * optional run-0 AC coefficients for block (0,0), then EOB. Restart
    * markers every `restartInterval` MCUs (1-padded byte alignment,
    * predictor reset).
    */
  def jpeg12Bytes(w: Int, h: Int, q0: Int, q16: Boolean,
                  dcBlock: (Int, Int) => Int, ac00: Seq[Int],
                  restartInterval: Int): Array[Byte] = {
    val dc = flatHuff(5, 0 to 15)
    val ac = flatHuff(5, 0x00 +: (1 to 10) :+ 0xf0)
    val j = new JpegWriter
    j.b(0xff, 0xd8) // SOI
    j.dqt((if (q16) 0x10 else 0x00) -> (q0 +: Seq.fill(63)(1))) // q0, unit steps
    j.dht(0x00 -> dc)
    j.dht(0x10 -> ac)
    j.sof(0xc1, 12, w, h, Seq((1, 0x11, 0))) // SOF1: 12-bit gray
    j.dri(restartInterval)
    j.sos(Seq(1 -> 0x00), 0, 63, 0)
    var pred = 0
    val gray = FixComp(0, 1, 1, 1, 0x00, (w + 7) / 8, (h + 7) / 8, (bx, by) =>
      (dcBlock(bx, by) +: (if (bx == 0 && by == 0) ac00 else Nil)).padTo(64, 0).toArray)
    fixScan(Seq(gray), w, h, 1, restartInterval, rst => { j.restart(rst); pred = 0 }) {
      (c, bx, by) => pred = j.putBlock(dc, ac, c.blk(bx, by), pred)
    }
    j.flushBits()
    j.finish()
  }

  /** 12-bit JPEG lane A: (10+id%15)×(9+id%8), q0=8 (8-bit DQT), restart
    * every 3 MCUs. DC-only blocks with dequantized DC = 8·(p−2048), so
    * the IDCT reproduces the closed-form block constant p = (bx·37 +
    * by·59 + id·13) % 4096 EXACTLY (floor(x+2048.5) absorbs float dust)
    * — the 12-bit twin of the 8-bit roundtrip gate's constant blocks,
    * reaching both clamp edges across ids.
    */
  def jpeg12Bytes(id: Long): Array[Byte] =
    jpeg12Bytes(10 + (id % 15).toInt, 9 + (id % 8).toInt, q0 = 8,
      q16 = false,
      (bx, by) => ((bx * 37 + by * 59 + id * 13) % 4096).toInt - 2048,
      ac00 = Nil, restartInterval = 3)

  /** 12-bit JPEG lane B: 16-BIT quant table (Pq=1, q0=800 — above the
    * 8-bit ceiling, so the wide-table read path is inside the gate),
    * no restarts. Quantized DC v in ±20 dequantizes to 800v; the IDCT's
    * /8 gives exact pixels 2048 + 100·v.
    */
  def jpeg12WideQBytes(id: Long): Array[Byte] =
    jpeg12Bytes(9 + (id % 11).toInt, 8 + (id % 9).toInt, q0 = 800,
      q16 = true,
      (bx, by) => ((bx * 7 + by * 11 + id * 3) % 41).toInt - 20,
      ac00 = Nil, restartInterval = 0)

  /** Lossless-JPEG (SOF3) fixture encoder — the independent bitstream
    * WRITER (never decodes: the DIFFERENCES are the closed-form input
    * and the predictor recurrence is never run here — the ADPCM fixture
    * discipline applied to images, so a hash match proves the decoder's
    * mod-2^16 DPCM reconstruction against the oracle's prefix-sum
    * replay, not against shared code). One DHT (class 0, id 0): the 17
    * category symbols 0–16 all at code length 5, so the canonical
    * assignment gives symbol i the 5-bit code i. Samples interleave in
    * raster order (one per component per MCU at 1×1 sampling); each
    * difference d emits its SSSS category code then SSSS magnitude bits
    * (T.81 F.1.2.1 mapping: d ≥ 0 → d, d < 0 → d − 1 + 2^SSSS; d =
    * 32768 → SSSS=16, no bits). FF bytes in the entropy stream are
    * 00-stuffed; the tail pads with 1-bits.
    */
  def jpegLosslessBytes(w: Int, h: Int, precision: Int, predictor: Int,
                        pt: Int, nc: Int,
                        diff: (Int, Int, Int) => Int,
                        restartInterval: Int = 0): Array[Byte] = {
    val t = flatHuff(5, 0 to 16)
    val j = losslessHeader(0xc3, w, h, precision, predictor, pt, nc,
      restartInterval, j => j.dht(0x00 -> t))
    losslessRows(w, h, nc, restartInterval, j.restart) { (c, x, y) =>
      val d = diff(c, x, y)
      require(d == 32768 || (d > -32768 && d < 32768), s"diff $d unrepresentable")
      j.putDiff(t, d) // SSSS: 2^(s-1) <= |d| < 2^s
    }
    j.flushBits()
    j.finish()
  }

  /** SOI, the tables `tables` writes, SOF3/SOF11, DRI and the one
    * interleaved SOS (predictor in Ss, point transform in Al) of a
    * lossless fixture frame: components 1..nc at 1×1, table 0.
    */
  private def losslessHeader(sof: Int, w: Int, h: Int, precision: Int,
                             predictor: Int, pt: Int, nc: Int,
                             restartInterval: Int,
                             tables: JpegWriter => Unit): JpegWriter = {
    require(restartInterval == 0 || restartInterval % w == 0,
      "fixture restart intervals are row-aligned (the decode envelope)")
    val j = new JpegWriter
    j.b(0xff, 0xd8) // SOI
    tables(j)
    j.sof(sof, precision, w, h, (0 until nc).map(c => (1 + c, 0x11, 0)))
    j.dri(restartInterval)
    j.sos((0 until nc).map(c => (1 + c, 0x00)), predictor, 0, pt)
    j
  }

  /** Lossless sample order: rows, then columns, then components, with
    * `restart(n)` before every row a row-aligned interval starts.
    */
  private def losslessRows(w: Int, h: Int, nc: Int, restartInterval: Int,
                           restart: Int => Unit)
                          (sample: (Int, Int, Int) => Unit): Unit = {
    val restartRows = if (restartInterval > 0) restartInterval / w else 0
    for (y <- 0 until h) {
      if (restartRows > 0 && y > 0 && y % restartRows == 0)
        restart((y / restartRows - 1) & 7)
      for (x <- 0 until w; c <- 0 until nc) sample(c, x, y)
    }
  }

  /** Lossless gray 16-bit lane (predictor 1 — Ra): (6+id%5)×(5+id%4),
    * pt 0. Diffs in scan order k = x + y·w: the exact-32768 SSSS=16
    * special when k%23==7, a wide ±20k draw (categories to 15, forcing
    * mod-2^16 wraps) when k%17==3, else a ±600 draw.
    */
  def jpegLosslessG16Bytes(id: Long): Array[Byte] = {
    val w = 6 + (id % 5).toInt
    jpegLosslessBytes(w, 5 + (id % 4).toInt, precision = 16, predictor = 1,
      pt = 0, nc = 1,
      (_, x, y) => {
        val k = x + y * w
        if (k % 23 == 7) 32768
        else if (k % 17 == 3) ((id * 31 + x * 3 + y * 5) % 40000).toInt - 20000
        else ((id * 7 + x * 13 + y * 29) % 1201).toInt - 600
      })
  }

  /** Lossless gray 12-bit lane (predictor 2 — Rb) WITH a nonzero point
    * transform (pt=2, so the initial prediction is 1<<9 and every output
    * is the reconstruction << 2): (5+id%6)×(4+id%5), diffs ±200.
    */
  def jpegLosslessG12Bytes(id: Long): Array[Byte] =
    jpegLosslessBytes(5 + (id % 6).toInt, 4 + (id % 5).toInt,
      precision = 12, predictor = 2, pt = 2, nc = 1,
      (_, x, y) => ((id * 11 + x * 7 + y * 3) % 401).toInt - 200)

  /** Lossless 3-component 8-bit lane (predictor 4 — Ra+Rb−Rc, the
    * integral-image predictor): (4+id%7)×(4+id%3), interleaved single
    * scan, per-component diffs ±50.
    */
  def jpegLossless3cBytes(id: Long): Array[Byte] =
    jpegLosslessBytes(4 + (id % 7).toInt, 4 + (id % 3).toInt,
      precision = 8, predictor = 4, pt = 0, nc = 3,
      (c, x, y) => ((id * 5 + c * 17 + x * 3 + y * 11) % 101).toInt - 50)

  /** Lossless-ARITHMETIC JPEG (SOF11) fixture encoder: the same
    * closed-form-DIFFERENCES discipline as [[jpegLosslessBytes]] (the
    * predictor recurrence is never run here), entropy-coded by the
    * independent [[QmEnc]] Annex-D coder under the T.81 H.1.2.2
    * statistical model — zero/sign/first-magnitude decisions on the 5×5
    * (Da, Db) classification contexts (4 bins each = 100), two X/M
    * magnitude-bin sets (29 each) selected by whether Db classifies
    * large: 158 bins per table. `dacL`/`dacU` < 0 writes NO DAC segment
    * (decoder must apply the L=0/U=1 defaults); otherwise a DAC with
    * those bounds for table 0 is emitted. Samples interleave in raster
    * order, one per component per MCU at 1×1 sampling, all components
    * on stats table 0.
    */
  def jpegLosslessArithBytes(w: Int, h: Int, precision: Int, predictor: Int,
                             pt: Int, nc: Int, dacL: Int, dacU: Int,
                             diff: (Int, Int, Int) => Int,
                             restartInterval: Int = 0): Array[Byte] = {
    val condL = if (dacL >= 0) dacL else 0
    val condU = if (dacU >= 0) dacU else 1
    val j = losslessHeader(0xcb, w, h, precision, predictor, pt, nc,
      restartInterval, j => // DAC: DC-class table 0, (U<<4)|L
        if (dacL >= 0 || dacU >= 0) j.seg(0xcc, Seq(0x00, (condU << 4) | condL)))
    val enc = new QmEnc(j.out)
    val st = new Array[Int](158)
    // category of the diff at each column of the row above / at the left
    val catUp = Array.ofDim[Int](nc, w)
    val catLeft = new Array[Int](nc)
    losslessRows(w, h, nc, restartInterval, rst => {
      // each interval is its own arithmetic segment: flush, marker,
      // fresh coder, zeroed statistics AND conditioning state
      enc.flush()
      j.b(0xff, 0xd0 + rst)
      enc.reset()
      java.util.Arrays.fill(st, 0)
      catUp.foreach(java.util.Arrays.fill(_, 0))
    }) { (c, x, y) =>
      if (x == 0) catLeft(c) = 0
      val d = diff(c, x, y)
      require(d > -32769 && d <= 32768, s"diff $d unrepresentable")
      val up = catUp(c)(x)
      val cat = enc.codeDiff(st, (catLeft(c) * 5 + up) * 4,
        if (up > 2) 129 else 100, d, condL, condU)
      catLeft(c) = cat
      catUp(c)(x) = cat
    }
    enc.flush()
    j.finish()
  }

  /** SOF11 gray 16-bit lane (predictor 1 — Ra), no DAC (decoder default
    * L=0/U=1): diffs mix a ±25k wide draw (X walks to 15, mod-2^16
    * wraps), the exact-32768 extreme, and a ±700 bulk.
    */
  def jpegLosslessArithG16Bytes(id: Long): Array[Byte] = {
    val w = 5 + (id % 6).toInt
    jpegLosslessArithBytes(w, 4 + (id % 5).toInt, precision = 16,
      predictor = 1, pt = 0, nc = 1, dacL = -1, dacU = -1,
      (_, x, y) => {
        val k = x + y * w
        if (k % 19 == 5) 32768
        else if (k % 13 == 2) ((id * 37 + x * 5 + y * 7) % 50001).toInt - 25000
        else ((id * 3 + x * 17 + y * 23) % 1401).toInt - 700
      })
  }

  /** SOF11 gray 12-bit lane (predictor 2 — Rb) with pt=2 AND a DAC
    * carrying non-default conditioning bounds (L=1, U=3), so the
    * category classification's L/U arithmetic is inside the gate.
    */
  def jpegLosslessArithG12Bytes(id: Long): Array[Byte] =
    jpegLosslessArithBytes(4 + (id % 7).toInt, 4 + (id % 4).toInt,
      precision = 12, predictor = 2, pt = 2, nc = 1, dacL = 1, dacU = 3,
      (_, x, y) => ((id * 13 + x * 11 + y * 5) % 501).toInt - 250)

  /** Row-aligned-RESTART lossless lanes (r19): DRI = 2 rows of MCUs, so
    * every other row re-predicts as a scan-start first line (H.2.2 +
    * H.1.1). Huffman lane: gray 16-bit predictor 1 with wide draws —
    * restart boundaries land mid-byte, so the byte-align + RSTn walk is
    * inside the gate. Arithmetic lane: gray 12-bit predictor 2 — each
    * interval is its own QM segment with zeroed statistics and (Da, Db)
    * conditioning, so the coder re-initialization is inside the gate.
    */
  def jpegLosslessRstBytes(id: Long): Array[Byte] = {
    val w = 5 + (id % 5).toInt
    jpegLosslessBytes(w, 5 + (id % 4).toInt, precision = 16, predictor = 1,
      pt = 0, nc = 1,
      (_, x, y) => {
        val k = x + y * w
        if (k % 13 == 4) ((id * 19 + x * 7 + y * 3) % 40001).toInt - 20000
        else ((id * 5 + x * 11 + y * 17) % 1201).toInt - 600
      },
      restartInterval = 2 * w)
  }

  def jpegLosslessArithRstBytes(id: Long): Array[Byte] = {
    val w = 4 + (id % 6).toInt
    jpegLosslessArithBytes(w, 4 + (id % 4).toInt, precision = 12,
      predictor = 2, pt = 0, nc = 1, dacL = -1, dacU = -1,
      (_, x, y) => ((id * 7 + x * 13 + y * 11) % 501).toInt - 250,
      restartInterval = 2 * w)
  }

  /** SOF11 3-component 8-bit lane (predictor 4 — Ra+Rb−Rc, the
    * integral-image predictor, prefix-summable so the oracle replays
    * exact pixels), interleaved single scan, default conditioning.
    * Predictors 3/5/6/7 (shift-based) are spec-verified against the
    * SOF3 Huffman decode of the same diffs instead — two independent
    * entropy coders, one pixel truth.
    */
  def jpegLosslessArith3cBytes(id: Long): Array[Byte] =
    jpegLosslessArithBytes(4 + (id % 5).toInt, 3 + (id % 4).toInt,
      precision = 8, predictor = 4, pt = 0, nc = 3, dacL = -1, dacU = -1,
      (c, x, y) => ((id * 7 + c * 13 + x * 5 + y * 17) % 121).toInt - 60)

  /** PROGRESSIVE (SOF2) JPEG fixture encoder — spectral selection AND
    * successive approximation, written from T.81 Annex G with its own
    * scan scripts, EOB-run accumulator, correction-bit buffer and bit
    * writer: zero shared code with the production decoder's progressive
    * path (graft.expr.MediaCodecHelper.jScanBuffered), so a hash match on
    * decoded statistics proves two independent implementations of the
    * progressive entropy layer agree.
    *
    * Scan scripts:
    *  - gray: DC first (Al=1) → AC 1..5 first (Al=1) → AC 6..63 first
    *    (Al=1) → DC refine (Ah=1) → AC 1..5 refine → AC 6..63 refine,
    *    restart markers in every scan — exercises the point transform,
    *    band split, EOB runs across restarts, newly-nonzero-in-refine
    *    and history-correction paths (the acSeed block's |1| values
    *    vanish at Al=1 and reappear in refinement).
    *  - color 4:2:0: interleaved DC first (Al=0) → per-component AC
    *    1..63 first — exercises interleaved-DC MCU geometry and the
    *    non-interleaved subsampled block grids.
    *
    * Constant blocks still decode to their exact constants (DC-only, and
    * the approximation bits recombine exactly), so the DuckDB oracle
    * replays every pixel from the same closed forms as the baseline
    * fixtures.
    */
  def jpegProgressiveBytes(width: Int, height: Int, color: Boolean,
                           yBlock: (Int, Int) => Int,
                           cbBlock: (Int, Int) => Int,
                           crBlock: (Int, Int) => Int,
                           acSeed: Array[Int],
                           restartInterval: Int): Array[Byte] = {
    require(width > 0 && height > 0)
    val comps = fixComps(width, height, color, color, yBlock, cbBlock,
      crBlock, acSeed, chromaTables = 0x11)
    // AC: the full symbol universe a progressive scan can emit — (run,
    // size) for run 0..15 / size 1..10, EOBn for n-exponent 0..14, ZRL —
    // 176 symbols, all at code length 8 (codes 0..175; all-ones unused)
    val ac = flatHuff(8, (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s) ++
      (0 to 14).map(_ << 4) :+ 0xF0)
    val j = new JpegWriter
    j.dctHeader(0xc2, width, height, comps) // SOF2: progressive
    j.dht(0x00 -> FixDc, 0x10 -> ac)
    if (color) j.dht(0x01 -> FixDc, 0x11 -> ac)
    j.dri(restartInterval)
    // EOB-run accumulator + buffered correction bits (refine scans)
    var eobrun = 0
    val bitBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flushEob(): Unit = {
      if (eobrun > 0) {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        j.putSym(ac, r << 4)
        if (r > 0) j.putBits(eobrun - (1 << r), r)
        eobrun = 0
      }
      bitBuf.foreach(j.putBit); bitBuf.clear()
    }
    // AC point transform: magnitude shift (truncate toward zero, T.81
    // G.1.2.2); DC uses the arithmetic shift.
    def pt(v: Int, al: Int): Int =
      if (v >= 0) v >> al else -((-v) >> al)
    /** One scan: header, block walk with restarts, final flush. */
    def scan(sc: Seq[FixComp], ss: Int, se: Int, ah: Int, al: Int)
            (block: (FixComp, Array[Int], Array[Int]) => Unit): Unit = {
      j.frameSos(sc, ss, se, (ah << 4) | al)
      val preds = new Array[Int](comps.length)
      fixScan(sc, width, height, comps.head.hf, restartInterval, rst => {
        flushEob(); j.restart(rst); java.util.Arrays.fill(preds, 0)
      }) { (c, bx, by) => block(c, c.blk(bx, by), preds) }
      flushEob(); j.flushBits()
    }

    def dcScan(sc: Seq[FixComp], ah: Int, al: Int): Unit =
      scan(sc, 0, 0, ah, al) { (c, cf, preds) =>
        if (ah == 0) {
          val t = cf(0) >> al
          j.putDiff(FixDc, t - preds(c.idx)); preds(c.idx) = t
        } else j.putBit((cf(0) >> al) & 1)
      }

    def acFirstScan(c: FixComp, ss: Int, se: Int, al: Int): Unit =
      scan(Seq(c), ss, se, 0, al) { (_, cf, _) =>
        if (!(ss to se).exists(k => pt(cf(k), al) != 0)) eobrun += 1
        else {
          flushEob()
          j.putAcRuns(ac, k => pt(cf(k), al), ss, se)
          if (pt(cf(se), al) == 0) eobrun += 1
        }
        if (eobrun == 0x7fff) flushEob()
      }

    def acRefineScan(c: FixComp, ss: Int, se: Int, al: Int): Unit =
      scan(Seq(c), ss, se, al + 1, al) { (_, cf, _) =>
        // t == 1: newly nonzero this pass (gets a (run,1) symbol + sign);
        // t > 1: history — one buffered correction bit (its low bit);
        // t == 0: zero run
        val t = Array.tabulate(64)(k => if (k >= ss && k <= se)
          math.abs(pt(cf(k), al)) else 0)
        var lastNew = ss - 1
        for (k <- ss to se if t(k) == 1) lastNew = k
        val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
        if (lastNew >= ss) flushEob() // symbols follow: end any open EOB run
        var run = 0
        var k = ss
        while (k <= lastNew) {
          if (t(k) == 0) run += 1
          else {
            // flush ZRLs as soon as the run exceeds 15 at ANY nonzero
            // position (history or new) — the decoder's advance reads
            // buffered correction bits strictly in position order, so a
            // run may never carry more than 15 zeros past a history bit
            while (run > 15) {
              j.putSym(ac, 0xF0); run -= 16
              pending.foreach(j.putBit); pending.clear()
            }
            if (t(k) > 1) pending += (t(k) & 1)
            else {
              j.putSym(ac, (run << 4) | 1)
              j.putBit(if (cf(k) > 0) 1 else 0)
              pending.foreach(j.putBit); pending.clear()
              run = 0
            }
          }
          k += 1
        }
        // the tail past the last newly-nonzero coefficient (zeros and
        // history corrections) rides the EOB run's buffered bits
        while (k <= se) {
          if (t(k) > 1) pending += (t(k) & 1)
          k += 1
        }
        if (lastNew < se) {
          eobrun += 1
          bitBuf ++= pending
        }
        if (eobrun == 0x7fff) flushEob()
      }

    // ---- progression scripts ----
    if (!color) {
      val g = comps.head
      dcScan(comps, 0, 1)
      acFirstScan(g, 1, 5, 1)
      acFirstScan(g, 6, 63, 1)
      dcScan(comps, 1, 0)
      acRefineScan(g, 1, 5, 0)
      acRefineScan(g, 6, 63, 0)
    } else {
      dcScan(comps, 0, 0)
      comps.foreach(c => acFirstScan(c, 1, 63, 0))
    }
    j.finish()
  }

  /** SEQUENTIAL MULTI-SCAN (SOF0, non-interleaved layout) JPEG fixture
    * encoder: the same frame as [[jpegBaselineBytes]]' 4:2:0 color shape
    * but split across TWO scans — Y alone (ns=1, non-interleaved block
    * order over its REAL grid: pad blocks are never coded, unlike the
    * single-scan interleaved layout) and Cb+Cr together (ns=2,
    * interleaved MCU order). Own header/bit emission, zero shared code
    * with the production decoder's multi-scan path.
    */
  def jpegSequentialBytes(width: Int, height: Int,
                          yBlock: (Int, Int) => Int,
                          cbBlock: (Int, Int) => Int,
                          crBlock: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0)
    val comps = fixComps(width, height, true, true, yBlock, cbBlock, crBlock,
      null, chromaTables = 0x11)
    val j = new JpegWriter
    j.dctHeader(0xc0, width, height, comps) // SOF0: sequential
    j.dht(0x00 -> FixDc, 0x10 -> FixAc, 0x01 -> FixDc, 0x11 -> FixAc)
    // scan 1: Y alone, non-interleaved over its REAL block grid; scan 2:
    // Cb + Cr interleaved (one block each per MCU)
    for (sc <- Seq(comps.take(1), comps.drop(1))) {
      j.frameSos(sc, 0, 63, 0)
      val preds = new Array[Int](comps.length)
      fixScan(sc, width, height, 2, 0, _ => ()) { (c, bx, by) =>
        preds(c.idx) = j.putBlock(FixDc, FixAc, c.blk(bx, by), preds(c.idx))
      }
      j.flushBits()
    }
    j.finish()
  }

  /** 4:2:0 sequential multi-scan JPEG fixture for doc `id`:
    * (11+id%19)×(9+id%11), Y block (bx,by) = (bx*19+by*31+id*23)%256,
    * chroma per MCU: Cb = (mx*13+id*3)%256, Cr = (my*29+id*5)%256.
    */
  def seqJpegBytes(id: Long): Array[Byte] =
    jpegSequentialBytes(11 + (id % 19).toInt, 9 + (id % 11).toInt,
      yBlock = (bx, by) => ((bx * 19 + by * 31 + id * 23) % 256).toInt,
      cbBlock = (mx, _) => ((mx * 13 + id * 3) % 256).toInt,
      crBlock = (_, my) => ((my * 29 + id * 5) % 256).toInt)

  /** GIF fixture encoder — own LZW compressor (hash-map string table,
    * LSB-first bit packing, CLEAR preamble, EOI terminator, the
    * one-code-early width-growth mirror of the decoder's rule),
    * 255-byte sub-block chunking, global color table, optional
    * interlace (rows written in the four-pass order). Zero shared code
    * with the production decoder (graft.expr.MediaCodecHelper
    * .decodeGif/gifLzw).
    */
  /** ANIMATED GIF fixture: `nFrames` full-screen images behind a global
    * 16-color table, each preceded by a Graphic Control Extension (the
    * real animation layout). The LZW stream is the classic
    * "uncompressed GIF" emission — every pixel as a literal code at
    * width mcs+1 with a CLEAR before the dictionary could outgrow that
    * width — deliberately a DIFFERENT valid encoding than [[gifBytes]]'
    * growing-dictionary compressor, so the decoder's CLEAR-reset path is
    * proven by the gate too. Frame f pixel (x,y) = pixIdx(x, y, f).
    */
  def gifAnimBytes(width: Int, height: Int, nFrames: Int,
                   pal: Int => (Int, Int, Int),
                   pixIdx: (Int, Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 1)
    // GCE disposal 0 and no transparent index: 10cs delay, opaque
    gifComposeBytes(width, height, pal, (0 until nFrames).map(f =>
      GifFrameSpec(0, 0, width, height, disposal = 0, transIdx = -1,
        (x, y) => pixIdx(x, y, f))))
  }

  /** Per-doc animated fixture: (11+id%13) x (7+id%7), 2+id%5 frames,
    * palette i → ((i*43+3)%256, (i*67+9)%256, (i*97+27)%256), frame f
    * pixel (x,y) = (x*3 + y*7 + id + f*5) % 16.
    */
  def gifAnimFixtureBytes(id: Long): Array[Byte] =
    gifAnimBytes(11 + (id % 13).toInt, 7 + (id % 7).toInt,
      2 + (id % 5).toInt,
      i => ((i * 43 + 3) % 256, (i * 67 + 9) % 256, (i * 97 + 27) % 256),
      (x, y, f) => ((x * 3 + y * 7 + id + f * 5) % 16).toInt)

  /** One frame of a COMPOSITING animated-GIF fixture: sub-rect placement,
    * GCE disposal method, optional transparent index; `idx` takes GLOBAL
    * screen coordinates so the oracle replays one formula per frame.
    */
  final case class GifFrameSpec(left: Int, top: Int, w: Int, h: Int,
                                disposal: Int, transIdx: Int,
                                idx: (Int, Int) => Int)

  /** Animated-GIF fixture with per-frame sub-rects, transparency and
    * disposal methods — the compositing-semantics generator (the plain
    * [[gifAnimBytes]] writes full-screen opaque frames only). Same
    * deliberately-different LZW emission as [[gifAnimBytes]]: every pixel
    * a literal code with a CLEAR before the dictionary could outgrow
    * width mcs+1. Zero shared code with the production compositor
    * (graft.expr.MediaCodecHelper.gifAnimStats).
    */
  def gifComposeBytes(width: Int, height: Int,
                      pal: Int => (Int, Int, Int),
                      frames: Seq[GifFrameSpec]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty)
    frames.foreach { f =>
      require(f.left >= 0 && f.top >= 0 && f.w > 0 && f.h > 0 &&
        f.left + f.w <= width && f.top + f.h <= height &&
        f.disposal >= 0 && f.disposal <= 3, s"bad frame spec $f")
    }
    val out = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(width); le16(height)
    b(0x80 | 3, 0, 0) // global table, 16 entries
    for (i <- 0 until 16) { val (r, g, bb) = pal(i); b(r, g, bb) }
    val mcs = 4
    val clear = 1 << mcs
    val codeW = mcs + 1
    val runCap = (1 << codeW) - clear - 3
    frames.foreach { fs =>
      val gcePacked = (fs.disposal << 2) | (if (fs.transIdx >= 0) 1 else 0)
      b(0x21, 0xf9, 4, gcePacked, 10, 0,
        if (fs.transIdx >= 0) fs.transIdx else 0, 0)
      b(0x2c); le16(fs.left); le16(fs.top); le16(fs.w); le16(fs.h); b(0)
      b(mcs)
      val data = new java.io.ByteArrayOutputStream()
      var acc = 0; var nbits = 0
      def putCode(c: Int): Unit = {
        acc |= c << nbits; nbits += codeW
        while (nbits >= 8) { data.write(acc & 0xff); acc >>= 8; nbits -= 8 }
      }
      putCode(clear)
      var run = 0
      for (y <- 0 until fs.h; x <- 0 until fs.w) {
        if (run == runCap) { putCode(clear); run = 0 }
        putCode(fs.idx(fs.left + x, fs.top + y) & 15)
        run += 1
      }
      putCode(clear + 1) // EOI
      if (nbits > 0) data.write(acc & 0xff)
      gifSubBlocks(out, data.toByteArray)
      b(0)
    }
    b(0x3b)
    out.toByteArray
  }

  /** Per-doc compositing fixture — four frames on a (11+id%13)×(7+id%7)
    * screen, palette i → ((i*43+3)%256, (i*67+9)%256, (i*97+27)%256),
    * frame f's pixel at GLOBAL (gx,gy) = (gx*3 + gy*7 + id + f*5) % 16,
    * transparent index 15 where enabled:
    *  f0 full-screen opaque, disposal 1 (leave);
    *  f1 rect A = (1+id%3, 1+id%2, 5+id%4, 3+id%3), transparency on,
    *     disposal 3 (restore to previous — canvas reverts to f0);
    *  f2 rect B = (2+id%3, 0, 4+id%3, 5+id%2), opaque, disposal 2
    *     (restore to background — B becomes transparent);
    *  f3 rect C = (id%4, 1+id%3, 6+id%2, 3+id%2), transparency on,
    *     disposal 0.
    * Exercises all three disposal semantics, transparency punch-through,
    * sub-rect placement, and the post-f2 hole in the opaque count.
    */
  def gifComposeFixtureBytes(id: Long): Array[Byte] = {
    val w = 11 + (id % 13).toInt
    val h = 7 + (id % 7).toInt
    def idx(f: Int)(gx: Int, gy: Int): Int =
      ((gx * 3 + gy * 7 + id + f * 5) % 16).toInt
    gifComposeBytes(w, h,
      i => ((i * 43 + 3) % 256, (i * 67 + 9) % 256, (i * 97 + 27) % 256),
      Seq(
        GifFrameSpec(0, 0, w, h, disposal = 1, transIdx = -1, idx(0)),
        GifFrameSpec(1 + (id % 3).toInt, 1 + (id % 2).toInt,
          5 + (id % 4).toInt, 3 + (id % 3).toInt,
          disposal = 3, transIdx = 15, idx(1)),
        GifFrameSpec(2 + (id % 3).toInt, 0,
          4 + (id % 3).toInt, 5 + (id % 2).toInt,
          disposal = 2, transIdx = -1, idx(2)),
        GifFrameSpec((id % 4).toInt, 1 + (id % 3).toInt,
          6 + (id % 2).toInt, 3 + (id % 2).toInt,
          disposal = 0, transIdx = 15, idx(3))))
  }

  def gifBytes(width: Int, height: Int, interlaced: Boolean, nColorBits: Int,
               pal: Int => (Int, Int, Int),
               pixIdx: (Int, Int) => Int,
               localTable: Boolean = false,
               withExtensions: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && nColorBits >= 2 && nColorBits <= 8)
    val nColors = 1 << nColorBits
    val out = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(width); le16(height)
    // palette in the global table, or (localTable) a DECOY global table
    // of all-zeros the image's local table must override
    b(0x80 | (nColorBits - 1))
    b(0, 0) // background index, aspect
    for (i <- 0 until nColors) {
      if (localTable) b(0, 0, 0)
      else { val (r, g, bb) = pal(i); b(r, g, bb) }
    }
    if (withExtensions) {
      // graphics control extension + a two-sub-block comment: the decode
      // walk must skip both via their sub-block chains
      b(0x21, 0xf9, 0x04, 0x00); le16(0); b(0x00, 0x00)
      b(0x21, 0xfe, 0x03); b('g', 'i', 'f'); b(0x02); b('o', 'k'); b(0x00)
    }
    b(0x2c) // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    b((if (localTable) 0x80 | (nColorBits - 1) else 0x00) |
      (if (interlaced) 0x40 else 0x00))
    if (localTable) for (i <- 0 until nColors) {
      val (r, g, bb) = pal(i); b(r, g, bb)
    }
    val mcs = nColorBits
    b(mcs)
    // pixel index stream in row order (interlace pass order when set)
    val rows =
      if (!interlaced) 0 until height
      else (0 until height by 8) ++ (4 until height by 8) ++
        (2 until height by 4) ++ (1 until height by 2)
    val stream = new Array[Int](width * height)
    var sp = 0
    rows.foreach { y =>
      var x = 0
      while (x < width) { stream(sp) = pixIdx(x, y) & (nColors - 1); sp += 1; x += 1 }
    }
    // LZW compress
    val clear = 1 << mcs
    val eoi = clear + 1
    val lzw = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nbits = 0
    var codeWidth = mcs + 1
    def putCode(c: Int): Unit = {
      acc |= c.toLong << nbits; nbits += codeWidth
      while (nbits >= 8) { lzw.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
    }
    var dict = scala.collection.mutable.Map[(Int, Int), Int]()
    var dictSize = eoi + 1
    putCode(clear)
    var cur = stream(0)
    var i = 1
    while (i < sp) {
      val k = stream(i)
      dict.get((cur, k)) match {
        case Some(c) => cur = c
        case None =>
          putCode(cur)
          if (dictSize < 4096) {
            dict((cur, k)) = dictSize
            dictSize += 1
            // encoder adds each entry one code earlier than the decoder
            // learns it, so it bumps the width one entry later:
            // decoder bumps at dictSize == 1<<w, encoder at 1<<w + 1
            if (dictSize == (1 << codeWidth) + 1 && codeWidth < 12)
              codeWidth += 1
          } else {
            // table full: clear and restart (no deferred-clear ambiguity)
            putCode(clear)
            dict = scala.collection.mutable.Map[(Int, Int), Int]()
            dictSize = eoi + 1
            codeWidth = mcs + 1
          }
          cur = k
      }
      i += 1
    }
    putCode(cur)
    putCode(eoi)
    if (nbits > 0) lzw.write((acc & 0xff).toInt)
    gifSubBlocks(out, lzw.toByteArray)
    b(0x00, 0x3b) // block terminator + trailer
    out.toByteArray
  }

  /** LZW data as GIF sub-blocks of at most 255 bytes, each length-prefixed. */
  private def gifSubBlocks(out: java.io.ByteArrayOutputStream,
                           bytes: Array[Byte]): Unit = {
    var off = 0
    while (off < bytes.length) {
      val n = math.min(255, bytes.length - off)
      out.write(n); out.write(bytes, off, n); off += n
    }
  }

  /** GIF fixture for doc `id`: (13+id%17)×(8+id%9), 16-color palette
    * (i*37+5, i*59+11, i*83+23)%256, pixel index (x*7+y*11+id)%16; odd
    * ids are INTERLACED — the decoded raster is identical either way,
    * so one oracle covers both row orders.
    */
  def gifFixtureBytes(id: Long): Array[Byte] =
    gifBytes(13 + (id % 17).toInt, 8 + (id % 9).toInt,
      interlaced = id % 2 == 1, nColorBits = 4,
      pal = i => (((i * 37 + 5) % 256), ((i * 59 + 11) % 256),
        ((i * 83 + 23) % 256)),
      pixIdx = (x, y) => ((x * 7 + y * 11 + id) % 16).toInt)

  /** Gray progressive JPEG fixture for doc `id`: (17+id%29)×(10+id%9),
    * block (bx,by) constant (bx*37+by*43+id*13)%256 except the AC seed
    * at (0,0); restart marker every 5 MCUs in every scan.
    */
  def grayProgressiveJpegBytes(id: Long): Array[Byte] =
    jpegProgressiveBytes(17 + (id % 29).toInt, 10 + (id % 9).toInt,
      color = false,
      yBlock = (bx, by) => ((bx * 37 + by * 43 + id * 13) % 256).toInt,
      cbBlock = null, crBlock = null,
      acSeed = GrayAcSeed, restartInterval = 5)

  /** 4:2:0 color progressive JPEG fixture for doc `id`:
    * (10+id%21)×(8+id%13), Y block (bx,by) = (bx*13+by*29+id*17)%256,
    * chroma constant per MCU: Cb = (mx*11+id*7)%256, Cr = (my*23+id*9)%256.
    */
  def colorProgressiveJpegBytes(id: Long): Array[Byte] =
    jpegProgressiveBytes(10 + (id % 21).toInt, 8 + (id % 13).toInt,
      color = true,
      yBlock = (bx, by) => ((bx * 13 + by * 29 + id * 17) % 256).toInt,
      cbBlock = (mx, _) => ((mx * 11 + id * 7) % 256).toInt,
      crBlock = (_, my) => ((my * 23 + id * 9) % 256).toInt,
      acSeed = null, restartInterval = 0)

  /** Minimal valid AVI/MJPEG container for doc `id` — RIFF('AVI ') with
    * LIST hdrl (avih + LIST strl(strh 'vids'/'MJPG' + strf
    * BITMAPINFOHEADER)), LIST movi of `00dc` frame chunks each holding a
    * self-contained baseline gray JPEG from [[jpegBaselineBytes]], and a
    * trailing idx1 index (which the production walk must SKIP — frames
    * come from the movi walk). Own byte emission, sharing no code with
    * the production container walk in graft.expr.AviCodecHelper.
    *
    * Layout: (16+id%17)×(9+id%11), 3+id%5 frames, 20000+(id%5)·20000
    * µs/frame; frame f's Y block (bx,by) = (bx·29+by·41+id·7+f·13)%256 —
    * pure functions of doc_id, so the DuckDB oracle replays every decoded
    * pixel.
    */
  def aviMjpegBytes(id: Long): Array[Byte] = {
    val w = 16 + (id % 17).toInt
    val h = 9 + (id % 11).toInt
    val nFrames = (3 + id % 5).toInt
    val usec = 20000 + (id % 5).toInt * 20000
    val jpegs = (0 until nFrames).map { f =>
      jpegBaselineBytes(w, h, color = false, sub420 = false,
        yBlock = (bx, by) => ((bx * 29 + by * 41 + id * 7 + f * 13) % 256).toInt,
        cbBlock = null, crBlock = null, acSeed = null, restartInterval = 0)
    }
    aviContainerBytes(w, h, usec, jpegs)
  }

  /** RIFF/AVI container around pre-built frame payloads — the writer half
    * shared by [[aviMjpegBytes]] and [[aviMjpegNoDhtBytes]].
    */
  def aviContainerBytes(w: Int, h: Int, usec: Int,
                        jpegs: Seq[Array[Byte]]): Array[Byte] = {
    val nFrames = jpegs.length
    def le(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def tag(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(t: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      tag(t) ++ le(data.length) ++ data ++ pad
    }
    def list(typ: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", tag(typ) ++ payload)
    val avih = le(usec) ++ le(0) ++ le(0) ++ le(0) ++ le(nFrames) ++ le(0) ++
      le(1) ++ le(0) ++ le(w) ++ le(h) ++ le(0) ++ le(0) ++ le(0) ++ le(0)
    val strh = tag("vids") ++ tag("MJPG") ++ le(0) ++ le(0) ++ le(0) ++
      le(usec) ++ le(1000000) ++ le(0) ++ le(nFrames) ++ le(0) ++ le(-1) ++
      le(0) ++ le(0) ++ le(0) // dwScale=usec/dwRate=1e6; rcFrame zeroed
    val strf = le(40) ++ le(w) ++ le(h) ++
      Array[Byte](1, 0, 24, 0) ++ tag("MJPG") ++ le(w * h * 3) ++
      le(0) ++ le(0) ++ le(0) ++ le(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val moviPayload = jpegs.map(j => chunk("00dc", j)).foldLeft(Array.empty[Byte])(_ ++ _)
    val movi = list("movi", moviPayload)
    // idx1: one entry per frame (fourcc, KEYFRAME flag, offset from the
    // movi list type fourcc to the frame's chunk header, chunk size)
    val idxEntries = {
      var off = 4 // relative to "movi" fourcc; first chunk header follows it
      jpegs.map { j =>
        val e = tag("00dc") ++ le(0x10) ++ le(off) ++ le(j.length)
        off += 8 + j.length + (j.length % 2)
        e
      }.foldLeft(Array.empty[Byte])(_ ++ _)
    }
    val body = tag("AVI ") ++ hdrl ++ movi ++ chunk("idx1", idxEntries)
    tag("RIFF") ++ le(body.length) ++ body
  }

  /** DHT-LESS baseline 4:2:0 color JPEG — the common MJPEG frame flavor:
    * DQT and SOF0/SOS are present but NO DHT segments; the entropy data
    * is coded against the ITU-T T.81 Annex K "typical" Huffman tables
    * that an OpenDML-conventional decoder implies. The Annex K BITS/VALS
    * are declared HERE as an independent copy and turned into codes by
    * this fixture's own canonical builder — zero shared code with the
    * production decoder's implied-table path, so agreement proves both
    * ends derived the same canonical code space from the public spec.
    */
  def jpegNoDhtBytes(width: Int, height: Int,
                     yBlock: (Int, Int) => Int,
                     cbBlock: (Int, Int) => Int,
                     crBlock: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0)
    // Annex K typical tables, fixture-side copy (T.81 Tables K.3-K.6);
    // the AC value lists stop after EOB, the only AC symbol emitted
    val dc = Seq(Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
      Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0))
      .map(new FixHuff(_, (0 to 11).toArray))
    val ac = Seq(
      new FixHuff(Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d),
        Array(0x01, 0x02, 0x03, 0x00)),
      new FixHuff(Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
        Array(0x00)))
    val comps = fixComps(width, height, true, true, yBlock, cbBlock, crBlock,
      null, chromaTables = 0x11)
    val j = new JpegWriter
    j.dctHeader(0xc0, width, height, comps)
    // deliberately NO DHT — the decode side must imply Annex K: Y on the
    // luma tables (slot 0), Cb/Cr on the chroma tables (slot 1)
    j.frameSos(comps, 0, 63, 0)
    val preds = new Array[Int](comps.length)
    fixScan(comps, width, height, 2, 0, _ => ()) { (c, bx, by) =>
      val t = if (c.idx == 0) 0 else 1
      preds(c.idx) = j.putBlock(dc(t), ac(t), c.blk(bx, by), preds(c.idx))
    }
    j.flushBits()
    j.finish()
  }

  /** AVI whose MJPEG frames omit DHT (the OpenDML implied-standard-tables
    * convention): (12+id%13)x(8+id%9) 4:2:0 color, 2+id%4 frames at
    * 15000+(id%4)*15000 µs/frame. Frame f: Y block (bx,by) =
    * (bx*17+by*23+id*9+f*11)%256, Cb(mx,my) = (mx*13+id*7+f*3)%256,
    * Cr = (my*19+id*5+f*7)%256. Container writer shared with
    * [[aviMjpegBytes]] (the container is not what this lane tests).
    */
  def aviMjpegNoDhtBytes(id: Long): Array[Byte] = {
    val w = 12 + (id % 13).toInt
    val h = 8 + (id % 9).toInt
    val nFrames = (2 + id % 4).toInt
    val usec = 15000 + (id % 4).toInt * 15000
    val jpegs = (0 until nFrames).map { f =>
      jpegNoDhtBytes(w, h,
        yBlock = (bx, by) => ((bx * 17 + by * 23 + id * 9 + f * 11) % 256).toInt,
        cbBlock = (mx, _) => ((mx * 13 + id * 7 + f * 3) % 256).toInt,
        crBlock = (_, my) => ((my * 19 + id * 5 + f * 7) % 256).toInt)
    }
    aviContainerBytes(w, h, usec, jpegs)
  }

  val makePng = udf((w: Int, h: Int) => pngBytes(w, h))
  val makePalPng = udf((id: Long) => palPngBytes(id))
  val makePalAlphaPng = udf((id: Long) => palAlphaPngBytes(id))
  val makeGrayAlphaPng = udf((id: Long) => grayAlphaPngBytes(id))
  val makeRgbaPng = udf((id: Long) => rgbaPngBytes(id))
  val makeGray16Png = udf((id: Long) => gray16PngBytes(id))
  val makeRgb16Png = udf((id: Long) => rgb16PngBytes(id))
  val makeGray16KeyPng = udf((id: Long) => gray16KeyPngBytes(id))
  val makeRgb16KeyPng = udf((id: Long) => rgb16KeyPngBytes(id))
  val makeGrayJpeg = udf((id: Long) => grayJpegBytes(id))
  val makePng1Gray = udf((id: Long) => png1GrayBytes(id))
  val makePng2Gray = udf((id: Long) => png2GrayBytes(id))
  val makePng4GrayKey = udf((id: Long) => png4GrayKeyBytes(id))
  val makePng4Palette = udf((id: Long) => png4PaletteBytes(id))
  val makeJpeg12 = udf((id: Long) => jpeg12Bytes(id))
  val makeJpeg12WideQ = udf((id: Long) => jpeg12WideQBytes(id))
  val makeJpegArithGray = udf((id: Long) => grayJpegArithBytes(id))
  val makeJpegArithCond = udf((id: Long) => condJpegArithBytes(id))
  val makeJpegArithColor = udf((id: Long) => colorJpegArithBytes(id))
  val makeJpegArithProg = udf((id: Long) => grayJpegArithProgBytes(id))
  val makeJpegArithMs = udf((id: Long) => msJpegArithBytes(id))
  val makeJpegLosslessG16 = udf((id: Long) => jpegLosslessG16Bytes(id))
  val makeJpegLosslessG12 = udf((id: Long) => jpegLosslessG12Bytes(id))
  val makeJpegLossless3c = udf((id: Long) => jpegLossless3cBytes(id))
  val makeJpegLosslessArithG16 = udf((id: Long) => jpegLosslessArithG16Bytes(id))
  val makeJpegLosslessArithG12 = udf((id: Long) => jpegLosslessArithG12Bytes(id))
  val makeJpegLosslessArith3c = udf((id: Long) => jpegLosslessArith3cBytes(id))
  val makeJpegLosslessRst = udf((id: Long) => jpegLosslessRstBytes(id))
  val makeJpegLosslessArithRst = udf((id: Long) => jpegLosslessArithRstBytes(id))
  val makeColorJpeg = udf((id: Long) => colorJpegBytes(id))
  val makeGrayProgressiveJpeg = udf((id: Long) => grayProgressiveJpegBytes(id))
  val makeColorProgressiveJpeg = udf((id: Long) => colorProgressiveJpegBytes(id))
  val makeSeqJpeg = udf((id: Long) => seqJpegBytes(id))
  val makeGif = udf((id: Long) => gifFixtureBytes(id))
  val makeGifAnim = udf((id: Long) => gifAnimFixtureBytes(id))
  val makeGifCompose = udf((id: Long) => gifComposeFixtureBytes(id))
  val makeJpeg = udf((w: Int, h: Int, c: Int) => jpegBytes(w, h, c))
  val makeRgbPng = udf((w: Int, h: Int) => rgbPngBytes(w, h))
  val makeAviMjpeg = udf((id: Long) => aviMjpegBytes(id))
  val makeAviMjpegNoDht = udf((id: Long) => aviMjpegNoDhtBytes(id))
  val makeWav = udf((rate: Int, n: Int) => wavBytes(rate, n))
  val makeWavWithList = udf((rate: Int, n: Int) => wavBytesWithList(rate, n))
  val makeWav8 = udf((id: Long) => wav8Bytes(id))
  val makeWavUlaw = udf((id: Long) => wavUlawBytes(id))
  val makeWavAlaw = udf((id: Long) => wavAlawBytes(id))
  val makeWav24 = udf((id: Long) => wav24Bytes(id))
  val makeWav32 = udf((id: Long) => wav32Bytes(id))
  val makeWavFloat = udf((id: Long) => wavFloatFixtureBytes(id))
  val makeWavFloat64 = udf((id: Long) => wavFloat64FixtureBytes(id))
  val makeWavExtPcm = udf((id: Long) => wavExtPcmFixtureBytes(id))
  val makeWavAdpcmMono = udf((id: Long) => wavAdpcmMonoBytes(id))
  val makeWavAdpcmStereo = udf((id: Long) => wavAdpcmStereoBytes(id))
  val makeWavMsAdpcmMono = udf((id: Long) => wavMsAdpcmMonoBytes(id))
  val makeWavMsAdpcmStereo = udf((id: Long) => wavMsAdpcmStereoBytes(id))
  val makeWavExtFloat = udf((id: Long) => wavExtFloatFixtureBytes(id))

  // ---- metadata extraction (codegen'd Column arithmetic, no UDFs) ----

  private def beInt(bin: Column, pos: Int): Column =
    conv(hex(substring(bin, pos, 4)), 16, 10).cast("long")
  /** Little-endian int at a dynamic (1-based) position; null pos → null. */
  private def leIntAt(bin: Column, pos: Column, len: Int): Column =
    (0 until len).map { i =>
      conv(hex(bin.substr(pos + lit(i), lit(1))), 16, 10).cast("long") * (1L << (8 * i))
    }.reduce(_ + _)

  private val PngSig = "89504E470D0A1A0A"

  def isPng(bin: Column): Column = hex(substring(bin, 1, 8)) === PngSig
  /** IHDR is always the first chunk: width at offset 17, height at 21. */
  def pngWidth(bin: Column): Column = when(isPng(bin), beInt(bin, 17))
  def pngHeight(bin: Column): Column = when(isPng(bin), beInt(bin, 21))

  def isWav(bin: Column): Column =
    hex(substring(bin, 1, 4)) === "52494646" &&   // RIFF
    hex(substring(bin, 9, 4)) === "57415645"      // WAVE

  /** 1-based data offset of a RIFF chunk — a bounded, bounds-checked chunk
    * WALK (graft.expr.RiffChunkOffset, a kernel), not a fixed offset: real
    * WAVs put LIST/fact/bext chunks before `fmt `, and fixed offsets
    * silently return garbage on them. Null when the chunk is absent, which
    * nulls every derived field below (honest "don't know", never garbage).
    */
  private def chunkOff(bin: Column, tag: String): Column =
    graft.expr.KernelCall.column(bin, graft.expr.RiffChunkOffset(tag))

  // fmt chunk data layout: format(2), channels(2), rate(4), byteRate(4),
  // blockAlign(2), bits(2); data chunk's size field sits 4 bytes before
  // its data.
  def wavChannels(bin: Column): Column = leIntAt(bin, chunkOff(bin, "fmt ") + 2, 2)
  def wavSampleRate(bin: Column): Column = leIntAt(bin, chunkOff(bin, "fmt ") + 4, 4)
  def wavBitsPerSample(bin: Column): Column = leIntAt(bin, chunkOff(bin, "fmt ") + 14, 2)
  def wavDataBytes(bin: Column): Column = leIntAt(bin, chunkOff(bin, "data") - 4, 4)
  /** Duration in ms (integer division — `/` on Columns is double division,
    * so floor back to long; replicable as `//` in the oracle).
    */
  def wavDurationMs(bin: Column): Column = {
    val bytesPerSec = wavSampleRate(bin) * wavChannels(bin) *
      floor(wavBitsPerSample(bin) / 8).cast("long")
    floor((wavDataBytes(bin) * 1000L) / bytesPerSec).cast("long")
  }

  def isJpeg(bin: Column): Column = hex(substring(bin, 1, 2)) === "FFD8"

  /** RIFF with the 'AVI ' form fourcc (WAV is RIFF too — the form byte is
    * what separates them).
    */
  def isAvi(bin: Column): Column =
    hex(substring(bin, 1, 4)) === "52494646" &&   // RIFF
    hex(substring(bin, 9, 4)) === "41564920"      // AVI_

  /** JPEG frame-header metadata via the codegen'd SOI/SOF marker walk
    * (graft.expr.MediaCall.jpegMeta): struct(width, height, components), null for
    * non-JPEG/malformed blobs. Cheaper than [[decodeJpeg]] (no entropy
    * decode) and wider (covers arithmetic/12-bit headers pixel decode
    * honestly nulls on) — the metadata-only dedup/gating path.
    */
  def jpegMeta(bin: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.MediaCall.jpegMeta(org.apache.spark.sql.GraftBridge.expression(bin)))

  def jpegWidth(bin: Column): Column =
    jpegMeta(bin).getField("width").cast("long")
  def jpegHeight(bin: Column): Column =
    jpegMeta(bin).getField("height").cast("long")
  def jpegComponents(bin: Column): Column =
    jpegMeta(bin).getField("components").cast("long")

  def isGif(bin: Column): Column =
    substring(bin, 1, 6).cast("string").isin("GIF87a", "GIF89a")

  def mediaType(bin: Column): Column =
    when(isPng(bin), "image/png").when(isWav(bin), "audio/wav")
      .when(isJpeg(bin), "image/jpeg").when(isAvi(bin), "video/avi")
      .when(isGif(bin), "image/gif")
      .otherwise("unknown")

  /** 60-bit content fingerprint of the raw bytes — the binary-column exact
    * dedup key (md5 over bytes; oracle: md5 over the same bytes).
    */
  def contentFingerprint(bin: Column): Column =
    conv(substring(md5(bin), 1, 15), 16, 10).cast("long")

  private def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)
  private def ex(c: Column) = org.apache.spark.sql.GraftBridge.expression(c)

  /** REAL image decode (PNG 8-bit, all five color types — gray, RGB,
    * palette→RGB(A), gray+alpha, RGBA — sequential or Adam7-interlaced,
    * any scanline filter): inflate IDAT + filter reconstruction, returning
    * struct(width, height, channels, px_sum, px_min, px_max) — integer
    * channel statistics an oracle can reproduce exactly. Null for formats
    * outside the JVM-decodable envelope (route those to [[decodeImageStub]]
    * / an external codec).
    */
  def decodeImage(bin: Column): Column = bridge(graft.expr.MediaCall.pngStats(ex(bin)))

  /** REAL nearest-neighbor resize: decode → integer-floor index map →
    * re-encode as PNG. Null when not decodable.
    */
  def imageResize(bin: Column, w: Int, h: Int): Column =
    bridge(graft.expr.MediaCall.pngResizeNearest(ex(bin), w, h))

  /** REAL baseline JPEG decode (Huffman + dequant + IDCT + 4:2:0/4:2:2
    * chroma upsample + integer YCbCr→RGB — ITU-T T.81, pure JVM):
    * struct(width, height, channels, px_sum, px_min, px_max), the same
    * integer statistics shape as [[decodeImage]]. Covers baseline /
    * extended-sequential (single- or multi-scan) AND progressive (SOF2)
    * Huffman streams; a stream with NO DHT before its first scan decodes
    * through the T.81 Annex K implied standard tables (the OpenDML
    * MJPEG convention — so [[videoFrame]] output from a DHT-less AVI
    * composes here). Null for arithmetic-coded / 12-bit / lossless
    * streams.
    */
  def decodeJpeg(bin: Column): Column = bridge(graft.expr.MediaCall.jpegStats(ex(bin)))

  /** Full GIF decode statistics (LZW + palette + optional interlace):
    * struct(width, height, channels, px_sum, px_min, px_max); null
    * outside the envelope. Codegen'd scan-side map like [[decodeJpeg]].
    */
  def decodeGif(bin: Column): Column = bridge(graft.expr.MediaCall.gifStats(ex(bin)))

  /** GIF container metadata: struct(width, height, n_frames) — animation
    * length from the bounded sub-block walk, no pixel decode. Null for
    * non-GIF / malformed / imageless blobs.
    */
  def gifMeta(bin: Column): Column = bridge(graft.expr.MediaCall.gifMeta(ex(bin)))

  /** 16-bit PNG sample statistics at full precision (gray16/RGB16/alpha
    * variants, sequential or Adam7): struct(width, height, channels,
    * px_sum, px_min, px_max) over the big-endian 16-bit samples — no
    * truncated 8-bit raster is fabricated. Null outside the envelope.
    */
  def decodeImage16(bin: Column): Column =
    bridge(graft.expr.MediaCall.png16Stats(ex(bin)))

  /** Lossless-JPEG (SOF3, T.81 Annex H) sample statistics at FULL
    * precision (2–16 bit — the DNG/raw-camera and medical-imaging
    * layouts): struct(width, height, components, precision, px_sum,
    * px_min, px_max) over every sample of every component — like
    * [[decodeImage16]], no truncated 8-bit raster is fabricated. Null
    * outside the envelope (Huffman, 1×1 sampling, one interleaved scan,
    * predictors 1–7, point transform, no restarts).
    */
  def jpegLosslessFeatures(bin: Column): Column =
    bridge(graft.expr.MediaCall.jpegLosslessStats(ex(bin)))

  /** 12-bit extended-sequential JPEG (SOF1) sample statistics at FULL
    * precision — the DICOM/medical gray shape: struct(width, height,
    * px_sum, px_min, px_max) with the 12-bit level shift and [0, 4095]
    * clamp. Null outside the envelope (gray, single scan, Huffman,
    * 8- or 16-bit quant tables, restart markers).
    */
  def jpeg12Features(bin: Column): Column =
    bridge(graft.expr.MediaCall.jpeg12Stats(ex(bin)))

  /** 16-bit PNG nearest-neighbor resize re-encoded AT DEPTH 16 — the
    * scientific/depth-image raster path: whole big-endian sample pairs
    * are copied (integer-floor index map, full precision preserved), so
    * [[decodeImage16]] over the result replays exactly. Null outside the
    * 16-bit envelope.
    */
  def png16Resize(bin: Column, w: Int, h: Int): Column =
    bridge(graft.expr.MediaCall.png16ResizeNearest(ex(bin), w, h))

  /** Multi-frame GIF COMPOSITING statistics: struct(width, height,
    * frames: array of struct(px_sum, opaque, px_min, px_max)) — each
    * frame rendered onto the logical screen at its sub-rect offset with
    * GCE transparency honored and disposal methods 0–3 applied between
    * frames (2 = restore-to-background clears to TRANSPARENT, the
    * modern-renderer convention; 3 = restore-to-previous). Stats are
    * over opaque canvas pixels after each frame renders. Null outside
    * the animation envelope ([[graft.expr.MediaCodecHelper.gifAnimStats]]).
    */
  def gifAnimStats(bin: Column): Column =
    bridge(graft.expr.MediaCall.gifAnimStats(ex(bin)))

  /** Composited animation frame `frame` extracted as an RGBA PNG (alpha
    * 0 where the canvas is transparent) — the GIF analogue of the MJPEG
    * single-frame extract, landing in the lossless format so downstream
    * stages ([[decodeImage]], resize, dedup) replay byte-exactly. Null
    * outside the animation envelope or past the last frame.
    */
  def gifFramePng(bin: Column, frame: Int): Column =
    bridge(graft.expr.MediaCall.gifFramePng(ex(bin), frame))

  /** REAL JPEG → PNG transcode with nearest-neighbor resize: full
    * decode ([[decodeJpeg]]'s envelope, DHT-less frames included via the
    * implied Annex K tables), integer-floor index map, lossless PNG
    * re-encode (so downstream stages replay byte-exactly). Null when not
    * a decodable JPEG.
    */
  def jpegResizePng(bin: Column, w: Int, h: Int): Column =
    bridge(graft.expr.MediaCall.jpegResizeToPng(ex(bin), w, h))

  /** REAL audio feature extraction (integer PCM at 8/16/24/32-bit,
    * G.711 µ-law/A-law, IEEE float32 AND float64 on the exact
    * floor(f·2^15) integer lattice — a power-of-two scale is exact at
    * either precision — WAVE_FORMAT_EXTENSIBLE wrapping any of those,
    * IMA/DVI ADPCM via the sequential block recurrence, and Microsoft
    * ADPCM via its coefficient-pair predictor with the in-stream table —
    * via the RIFF walk): struct(n_samples, sample_rate, pcm_sum,
    * pcm_sqsum, pcm_peak, pcm_zc, pcm_bits) — RMS =
    * sqrt(pcm_sqsum / n_samples) downstream, pcm_zc the channel-0
    * zero-crossing count. Null for blobs outside the audio envelope
    * (compressed codecs beyond the two ADPCM families).
    */
  def audioFeatures(bin: Column): Column = bridge(graft.expr.MediaCall.wavPcmStats(ex(bin)))

  /** REAL frame-sampling: keep every `step`-th PCM frame, re-encoded as a
    * canonical WAV — the audio analogue of video frame thumbnailing.
    */
  def audioFrameSample(bin: Column, step: Int): Column =
    bridge(graft.expr.MediaCall.wavFrameSample(ex(bin), step))

  /** AVI container metadata via the bounded RIFF list walk
    * (graft.expr.AviCodecHelper): struct(width, height, n_frames,
    * usec_per_frame, handler), with n_frames COUNTED from the movi chunk
    * walk. Null for non-AVI blobs.
    */
  def videoMeta(bin: Column): Column = bridge(graft.expr.MediaCall.aviMeta(ex(bin)))

  /** REAL video frame-sample decode for MJPEG AVIs: every `step`-th movi
    * frame decoded through the full baseline JPEG path, aggregated to
    * struct(n_frames, n_sampled, n_decoded, px_sum, px_min, px_max).
    * Frames outside the JPEG envelope count as sampled-not-decoded.
    */
  def videoFrameStats(bin: Column, step: Int): Column =
    bridge(graft.expr.MediaCall.mjpegStats(ex(bin), step))

  /** The `idx`-th video frame's raw bytes — for MJPEG, a self-contained
    * JPEG that composes with [[decodeJpeg]]/[[jpegResizePng]] (video →
    * frame → resize → PNG, every stage a real decode). DHT-less frames
    * compose too: the still-image path falls back to the implied Annex K
    * tables exactly when the frame carries no DHT, the same convention
    * [[videoFrameStats]] decodes under.
    */
  def videoFrame(bin: Column, idx: Int): Column =
    bridge(graft.expr.MediaCall.mjpegFrame(ex(bin), idx))

  /** STUB — the decode seam for INTER-FRAME video codecs (H.264/HEVC/
    * VP9/AV1), the one media family that genuinely needs an external
    * codec library (not in this container); pipelines plug a decode UDF
    * (JVM) or `mapInPandas` (Python) in here. PNG, baseline JPEG, WAV
    * and MJPEG-AVI video decode are REAL — see [[decodeImage]]/
    * [[decodeJpeg]]/[[audioFeatures]]/[[videoFrameStats]]. The stub
    * returns the deterministic fake "pixel summary" (width, height, null
    * mean) so downstream schema/partitioning is exercised end-to-end.
    */
  def decodeImageStub(bin: Column): Column =
    struct(pngWidth(bin).as("width"), pngHeight(bin).as("height"),
      lit(null).cast("double").as("mean_intensity")) // real decode: see decodeImage

  /** Batched per-partition binary processing — the Scala equivalent of
    * the `mapInPandas` shape used for decode/resize/frame-sample in
    * Python pipelines: rows stream through in bounded batches (a codec
    * library amortizes setup per batch, memory stays O(batchSize·blob)),
    * partitioning is preserved, and the transform sees (id, bytes) pairs.
    * `fn` is the pluggable codec step; tests drive it with a stub.
    */
  def mapBinaryBatches(df: DataFrame, idCol: String, binCol: String,
                       batchSize: Int)
                      (fn: Seq[(Long, Array[Byte])] => Seq[(Long, Array[Byte])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField(binCol, BinaryType, nullable = true)))
    val rdd = df.select(col(idCol).cast("long"), col(binCol)).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          fn(batch.map(r => (r.getLong(0), r.getAs[Array[Byte]](1))))
            .map { case (id, bytes) => Row(id, bytes) }
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
