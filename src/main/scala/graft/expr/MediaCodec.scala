package graft.expr

import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Real (not stubbed) pure-JVM media decode for the multimodal column
  * pipeline: PNG raster decode via `java.util.zip.Inflater` + full filter
  * reconstruction, baseline JPEG decode (Huffman + dequant + IDCT +
  * chroma upsample + YCbCr→RGB, ITU-T T.81), nearest-neighbor resize
  * with re-encode, and WAV PCM sample access via the bounded RIFF walk
  * ([[RiffWalkHelper]]).
  *
  * Scope (honest partial decoder, null on anything else — never garbage):
  *  - PNG: 8-bit depth, all five color types — 0 (grayscale), 2 (RGB),
  *    3 (palette, expanded to RGB — or RGBA when tRNS supplies per-entry
  *    alpha), 4 (gray+alpha), 6 (RGBA) — PLUS sub-byte depths 1/2/4 on
  *    types 0 and 3 (r17: the icon/fax/tiny-palette layouts, gray
  *    scaled by the exact 255/(2^d−1)); sequential OR Adam7-interlaced,
  *    any of the five scanline filters (None/Sub/Up/Average/Paeth).
  *    Color-key tRNS on types 0/2 synthesizes the alpha channel (gray →
  *    gray+alpha, RGB → RGBA; alpha 0 exactly on key matches). 16-bit
  *    depth decodes through [[png16Stats]] (full-precision statistics)
  *    and [[png16ResizeNearest]] (16-bit raster in/out); the 8-bit
  *    [[decodePng]] path returns null for it rather than fabricate a
  *    truncated raster.
  *  - JPEG: baseline/extended-sequential Huffman (SOF0/SOF1) — single
  *    interleaved scan OR multi-scan (non-interleaved, one full-band scan
  *    per component subset) — and progressive (SOF2, spectral selection +
  *    successive approximation per T.81 Annex G). 8-bit, gray or YCbCr
  *    with sampling factors 1–2 (4:4:4/4:2:2/4:2:0), restart markers,
  *    multi-table DQT/DHT; a stream with NO DHT before its first scan
  *    decodes via the T.81 Annex K implied standard tables (the OpenDML
  *    MJPEG convention — [[decodeJpegAuto]]). LOSSLESS frames (SOF3,
  *    Annex H — Huffman DPCM, 2–16 bit, predictors 1–7, point
  *    transform) decode through [[jpegLosslessStats]] at full precision
  *    (r17; like 16-bit PNG, no truncated raster is fabricated), and
  *    12-BIT extended-sequential gray (SOF1 — the DICOM shape) through
  *    [[jpeg12Stats]] with the 2^11 level shift and [0, 4095] clamp
  *    (r17). Arithmetic coding (SOF9/SOF10/SOF11) decodes too; only
  *    hierarchical frames return null. One segment walk, one block
  *    walker and one IDCT serve every flavor ([[decodeJpeg]]).
  *  - WAV: integer PCM at 8 (unsigned, reported center-zeroed), 16, 24
  *    and 32 bits, G.711 µ-law/A-law, IEEE float32 (reported on the
  *    16-bit integer lattice: floor(f·2^15), a power-of-two scale so the
  *    mapping is exact), and WAVE_FORMAT_EXTENSIBLE wrapping any of
  *    those — located through the chunk walk (LIST/fact chunks before
  *    `fmt ` are fine); float64 rides the same exact lattice (scaling a
  *    double by 2^15 only shifts the exponent). IMA/DVI ADPCM (codec
  *    0x11) decodes through the sequential block recurrence, and
  *    Microsoft ADPCM (codec 0x02) through its coefficient-pair
  *    predictor with the in-stream table (both r17); other compressed
  *    codecs return null.
  *  - GIF: [[decodeGif]] is the STRICT single-image path — first frame
  *    only, and since r15 it returns null when that frame sits at a
  *    nonzero offset or is smaller than the logical screen (envelope
  *    NARROWING vs earlier rounds: such frames previously decoded
  *    image-local, which diverges from any compositing renderer — a
  *    lower decode rate here is the honest-null policy working, not a
  *    regression). Animation, sub-rect frames, transparency and GCE
  *    disposal methods 0–3 are the [[gifAnimStats]] compositing path;
  *    [[gifMeta]] counts frames without decoding.
  *
  * Each container has one walk: [[pngWalk]] for both PNG depth
  * envelopes, [[GifWalk]] for every GIF path, [[wavFmt]] for the WAV
  * header of every codec, and [[jWalk]] for JPEG.
  *
  * Everything here is per-value scan-side work wrapped in one codegen'd
  * expression, [[MediaCall]] (static call per value, same pattern as
  * [[RecodeHelper]]), so decode/resize/feature-extract stay inside
  * whole-stage codegen and scale as a map over the binary column — no
  * shuffle, no driver involvement, memory bounded by one blob per row.
  *
  * Why decode can be real here with zero codec libraries: PNG's IDAT is a
  * zlib stream (java.util.zip) and the filter pass is ~40 lines of integer
  * arithmetic; baseline JPEG is canonical-Huffman bit reading plus an 8×8
  * IDCT, all bounded public-spec work; WAV PCM is length-prefixed
  * little-endian integers. The remaining `decodeImageStub` seam in
  * ops/Multimodal covers only INTER-FRAME video codecs
  * (H.264/HEVC/VP9/AV1) — the one family that genuinely needs an
  * external codec; MJPEG-in-AVI (DHT-ful and DHT-less) decodes here.
  */
object MediaCodecHelper {

  // ---------------- PNG ----------------

  /** Decoded raster: interleaved channel bytes, `bpp` bytes per pixel. */
  final class Raster(val width: Int, val height: Int, val bpp: Int,
                     val pix: Array[Byte])

  private def beInt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  private val PngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  /** Adam7 pass geometry: (x0, y0, dx, dy) per pass (PNG spec §8.2). */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Decode a PNG within the supported envelope; null otherwise (bad
    * magic, unsupported layout, truncated/corrupt stream). The chunk walk
    * is [[pngWalk]], shared with [[decodePng16]].
    *
    * Depth 8 on all five color types; SUB-BYTE depths 1/2/4 on gray
    * (type 0) and palette (type 3) — exactly the spec's table 11.1
    * envelope (r17; the icon/fax/tiny-palette layouts). Sub-byte rows
    * unfilter at their bit-packed byte stride (the spec's byte-level
    * bpp=1 filter rule), unpack MSB-first, then gray scales to 8-bit by
    * 255/(2^d−1) — the exact factors 255/85/17 — while palette indices
    * look up unscaled.
    *
    * Palette images expand to RGB (or RGBA when a tRNS chunk supplies
    * per-entry alpha; entries beyond the tRNS array default to 255 per
    * the spec). tRNS on color types 0/2 is single-color-KEY transparency:
    * the decoder synthesizes the alpha channel a compositing renderer
    * would — gray expands to gray+alpha (bpp 2), RGB to RGBA (bpp 4),
    * alpha 0 exactly where the sample(s) equal the key, 255 elsewhere.
    * The key rides in 16-bit fields; for this 8-bit envelope a key above
    * 255 simply never matches (fully opaque output), per the numeric
    * comparison the spec defines.
    */
  def decodePng(bytes: Array[Byte]): Raster = {
    val f = pngWalk(bytes, sixteen = false)
    if (f == null) return null
    val d = f.depth
    // sub-byte gray scales to 8-bit by the spec's 255/(2^d−1) factor
    // (255, 85, 17 — all exact); the color key compares in RAW sample
    // space, so a valid key scales with the samples and an out-of-range
    // key becomes unmatchable (256 > any byte) while still synthesizing
    // the (fully opaque) alpha channel, exactly the 8-bit path's key>255
    // behavior. Palette indices are never scaled.
    val pix =
      if (d < 8 && f.color == 0) {
        val scale = 255 / ((1 << d) - 1)
        if (f.key != null)
          f.key(0) = if (f.key(0) <= (1 << d) - 1) f.key(0) * scale else 256
        val sc = new Array[Byte](f.pix.length)
        var i = 0
        while (i < sc.length) {
          sc(i) = ((f.pix(i) & 0xff) * scale).toByte
          i += 1
        }
        sc
      } else f.pix
    if (f.key != null) return keyAlpha(f, pix, 1)
    if (f.color != 3) return new Raster(f.w, f.h, f.bpp, pix)
    // palette expansion: index -> RGB, or RGBA when tRNS is present
    val plte = f.plte; val trns = f.trns
    val obpp = if (trns == null) 3 else 4
    val out = new Array[Byte](f.w * f.h * obpp)
    var p = 0
    while (p < pix.length) {
      val idx = pix(p) & 0xff
      if (idx >= plte.length) return null // corrupt index stream
      val c = plte(idx)
      out(p * obpp) = (c >> 16).toByte
      out(p * obpp + 1) = ((c >> 8) & 0xff).toByte
      out(p * obpp + 2) = (c & 0xff).toByte
      if (obpp == 4)
        out(p * obpp + 3) = if (idx < trns.length) trns(idx) else -1
      p += 1
    }
    new Raster(f.w, f.h, obpp, out)
  }

  /** A walked PNG: header fields, the PLTE/tRNS side data and the
    * inflated, unfiltered samples (`bpp` coded bytes per pixel; one byte
    * per RAW sample at sub-byte depths). `key` holds the tRNS color key
    * of types 0 (gray) and 2 (R, G, B), null without one.
    */
  private final class PngImage(val w: Int, val h: Int, val depth: Int,
                               val color: Int, val bpp: Int,
                               val plte: Array[Int], val trns: Array[Byte],
                               val key: Array[Int], val pix: Array[Byte])

  /** The one PNG chunk walk behind [[decodePng]] and [[decodePng16]]:
    * signature, IHDR as the first chunk and only there, PLTE and tRNS
    * before the first IDAT (spec §5.6), IDAT data concatenated, IEND;
    * ancillary chunks are skipped by length. Bounds-checked — adversarial
    * lengths cannot read out of range. The depth envelope is the only
    * caller choice: depth 16 on types 0/2/4/6 when `sixteen` (no palette,
    * so PLTE is ancillary there), else depth 8 on every type plus 1/2/4
    * on types 0 and 3. Null outside it or on any structural error.
    */
  private def pngWalk(bytes: Array[Byte], sixteen: Boolean): PngImage = {
    if (bytes == null || bytes.length < 33) return null
    var i = 0
    while (i < 8) { if (bytes(i) != PngSig(i)) return null; i += 1 }
    var off = 8
    var w = 0; var h = 0; var bpp = 0; var color = -1; var depth = 8
    var interlaced = false
    var plte: Array[Int] = null
    var trns: Array[Byte] = null
    var key: Array[Int] = null
    val idat = new java.io.ByteArrayOutputStream()
    var idatStarted = false // PLTE/tRNS must precede all image data
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    while (off + 8 <= bytes.length) {
      val len = beInt(bytes, off)
      if (len < 0 || off + 12L + len > bytes.length) return null
      val tag = new String(bytes, off + 4, 4, "US-ASCII")
      // IHDR is the first chunk and appears exactly once (§5.6): a second
      // one would silently reset the geometry mid-stream
      if ((tag == "IHDR") != (off == 8)) return null
      tag match {
        case "IHDR" =>
          if (len != 13) return null
          w = beInt(bytes, off + 8); h = beInt(bytes, off + 12)
          depth = bytes(off + 16); color = bytes(off + 17)
          val interlace = bytes(off + 20)
          // sub-byte depths 1/2/4 exactly where the spec allows them
          // (types 0 and 3 — table 11.1): the icon/fax/tiny-palette layouts
          val inEnvelope =
            if (sixteen) depth == 16 && color != 3
            else depth == 8 || (depth == 1 || depth == 2 || depth == 4) &&
              (color == 0 || color == 3)
          if (!inEnvelope || interlace < 0 || interlace > 1) return null
          interlaced = interlace == 1
          // bytes per pixel IN THE CODED STREAM (palette = 1 index byte;
          // sub-byte samples unpack to 1 byte each after unfiltering)
          val channels = color match {
            case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
            case _ => return null
          }
          bpp = if (depth == 16) 2 * channels else channels
          // cap decoded size at 64 MiB so a forged header can't OOM an
          // executor; palette may expand 1 -> 4 channels and color-key
          // tRNS adds an alpha channel, so cap on the worst-case output
          val outChannels = if (color == 0 || color == 4) 2 else 4
          val outBytes = if (depth == 16) 2 * outChannels else outChannels
          if (w <= 0 || h <= 0 || w.toLong * h * outBytes > 64L * 1024 * 1024)
            return null
        case "PLTE" if !sixteen =>
          if (idatStarted || len % 3 != 0 || len == 0 || len > 768) return null
          val n = len / 3
          plte = new Array[Int](n)
          var p = 0
          while (p < n) {
            plte(p) = ((bytes(off + 8 + 3 * p) & 0xff) << 16) |
              ((bytes(off + 9 + 3 * p) & 0xff) << 8) |
              (bytes(off + 10 + 3 * p) & 0xff)
            p += 1
          }
        case "tRNS" =>
          if (idatStarted) return null
          color match {
            case 3 =>
              if (plte == null || len > plte.length) return null
              trns = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
            case 0 => // color-key: one 16-bit gray sample
              if (len != 2) return null
              key = Array(u16(off + 8))
            case 2 => // color-key: three 16-bit samples (R, G, B)
              if (len != 6) return null
              key = Array(u16(off + 8), u16(off + 10), u16(off + 12))
            case _ => return null // tRNS on an alpha-bearing type: invalid
          }
        case "IDAT" =>
          idatStarted = true
          idat.write(bytes, off + 8, len)
        case "IEND" =>
          if (color == 3 && plte == null) return null
          val pix = reconstruct(idat.toByteArray, w, h, bpp, interlaced, depth)
          if (pix == null) return null
          return new PngImage(w, h, depth, color, bpp, plte, trns, key, pix)
        case _ => // ancillary chunk — skip
      }
      off += 12 + len
    }
    null // no IEND
  }

  /** Append the synthesized color-key alpha channel (tRNS on types 0/2):
    * alpha 0 where every sample equals its key, opaque elsewhere. `s` is
    * the sample width in bytes (1, or 2 for big-endian 16-bit samples),
    * and the alpha sample takes the same width.
    */
  private def keyAlpha(f: PngImage, pix: Array[Byte], s: Int): Raster = {
    val ch = f.key.length
    val inB = ch * s; val outB = inB + s
    val n = f.w * f.h
    val out = new Array[Byte](n * outB)
    var p = 0
    while (p < n) {
      System.arraycopy(pix, p * inB, out, p * outB, inB)
      var opaque = false
      var c = 0
      while (c < ch) {
        val o = p * inB + c * s
        val v = if (s == 2) ((pix(o) & 0xff) << 8) | (pix(o + 1) & 0xff)
                else pix(o) & 0xff
        if (v != f.key(c)) opaque = true
        c += 1
      }
      val a: Byte = if (opaque) -1 else 0
      c = 0
      while (c < s) { out(p * outB + inB + c) = a; c += 1 }
      p += 1
    }
    new Raster(f.w, f.h, outB, out)
  }

  /** Inflate exactly `expect` bytes of the zlib stream; null on
    * truncation, overrun, corruption, or a preset-dictionary header.
    */
  private def inflateFully(z: Array[Byte], expect: Int): Array[Byte] = {
    val raw = new Array[Byte](expect)
    val inf = new Inflater()
    inf.setInput(z)
    var got = 0
    try {
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // n == 0 while unfinished covers BOTH truncation (needsInput) and
        // a preset-dictionary stream (needsDictionary) — bailing only on
        // needsInput would spin forever on an FDICT zlib header
        if (n == 0) return null
        got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return null }
    finally inf.end()
    if (got != raw.length) return null
    raw
  }

  /** Undo the per-row filters of one (sub-)image whose filtered rows
    * start at `raw(rawOff)`, returning the h·stride pixel bytes. Works on
    * the whole image (non-interlaced) and on each Adam7 pass (each pass
    * is filtered as an independent image: "left" is bpp back within the
    * pass row, "up" is the previous row of the same pass). `stride` is
    * the CODED row length in bytes — w·bpp at depths ≥ 8, the
    * bit-packed ceil(w·depth/8) below (where the spec fixes the filter
    * bpp at 1: filtering is byte-level arithmetic regardless of how many
    * sub-byte samples share a byte, §9). null on an unknown filter type.
    */
  private def unfilterPass(raw: Array[Byte], rawOff: Int, stride: Int,
                           h: Int, bpp: Int): Array[Byte] = {
    val pix = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val filter = raw(rawOff + y * (stride + 1)) & 0xff
      val ro = rawOff + y * (stride + 1) + 1
      val po = y * stride
      var x = 0
      filter match {
        case 0 =>
          System.arraycopy(raw, ro, pix, po, stride)
        case 1 => // Sub: left
          while (x < stride) {
            val left = if (x >= bpp) pix(po + x - bpp) & 0xff else 0
            pix(po + x) = ((raw(ro + x) & 0xff) + left).toByte; x += 1
          }
        case 2 => // Up
          while (x < stride) {
            val up = if (y > 0) pix(po - stride + x) & 0xff else 0
            pix(po + x) = ((raw(ro + x) & 0xff) + up).toByte; x += 1
          }
        case 3 => // Average
          while (x < stride) {
            val left = if (x >= bpp) pix(po + x - bpp) & 0xff else 0
            val up = if (y > 0) pix(po - stride + x) & 0xff else 0
            pix(po + x) = ((raw(ro + x) & 0xff) + (left + up) / 2).toByte; x += 1
          }
        case 4 => // Paeth
          while (x < stride) {
            val a = if (x >= bpp) pix(po + x - bpp) & 0xff else 0
            val b = if (y > 0) pix(po - stride + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) pix(po - stride + x - bpp) & 0xff else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            pix(po + x) = ((raw(ro + x) & 0xff) + pred).toByte; x += 1
          }
        case _ => return null
      }
      y += 1
    }
    pix
  }

  /** Unpack a bit-packed sub-byte sample grid (depth 1/2/4, MSB-first
    * within each byte, rows independently padded to whole bytes per
    * spec §7.2) into one byte per RAW sample value (0..2^d−1, unscaled).
    */
  private def unpackSub(packed: Array[Byte], w: Int, h: Int, d: Int): Array[Byte] = {
    val rowBytes = (w * d + 7) / 8
    val out = new Array[Byte](w * h)
    val mask = (1 << d) - 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bit = x * d
        val b = packed(y * rowBytes + (bit >> 3)) & 0xff
        out(y * w + x) = ((b >> (8 - d - (bit & 7))) & mask).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Inflate + unfilter the coded pixel stream — sequential, or the seven
    * Adam7 passes scattered back to raster order. Returns interleaved
    * channel bytes (bpp per pixel) or null. At sub-byte depths (1/2/4,
    * `bpp` must be 1) rows are bit-packed: each (sub-)image unfilters at
    * its ceil(w·depth/8) byte stride with the spec's byte-level bpp=1
    * filter rule, then unpacks to one RAW (unscaled) sample per byte —
    * so Adam7 scatter and every downstream consumer see one byte per
    * sample exactly as at depth 8.
    */
  private def reconstruct(z: Array[Byte], w: Int, h: Int, bpp: Int,
                          interlaced: Boolean, depth: Int): Array[Byte] = {
    def rowBytes(pw: Int): Int =
      if (depth >= 8) pw * bpp else (pw * depth + 7) / 8
    if (!interlaced) {
      val stride = rowBytes(w)
      val raw = inflateFully(z, h * (stride + 1))
      if (raw == null) return null
      val up = unfilterPass(raw, 0, stride, h, if (depth >= 8) bpp else 1)
      if (up == null || depth >= 8) return up
      return unpackSub(up, w, h, depth)
    }
    // pass sizes; the inflated stream is the concatenation of the seven
    // filtered sub-images, empty passes contributing nothing
    var total = 0L
    val pw = new Array[Int](7); val ph = new Array[Int](7)
    var p = 0
    while (p < 7) {
      val (x0, y0, dx, dy) = Adam7(p)
      pw(p) = if (w > x0) (w - x0 + dx - 1) / dx else 0
      ph(p) = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw(p) > 0 && ph(p) > 0) total += ph(p).toLong * (rowBytes(pw(p)) + 1)
      p += 1
    }
    if (total > Int.MaxValue) return null
    val raw = inflateFully(z, total.toInt)
    if (raw == null) return null
    val outBpp = if (depth >= 8) bpp else 1
    val pix = new Array[Byte](w * h * outBpp)
    var rawOff = 0
    p = 0
    while (p < 7) {
      if (pw(p) > 0 && ph(p) > 0) {
        val stride = rowBytes(pw(p))
        val up = unfilterPass(raw, rawOff, stride, ph(p),
          if (depth >= 8) bpp else 1)
        if (up == null) return null
        val pp = if (depth >= 8) up else unpackSub(up, pw(p), ph(p), depth)
        rawOff += ph(p) * (stride + 1)
        val (x0, y0, dx, dy) = Adam7(p)
        var py = 0
        while (py < ph(p)) {
          val y = y0 + py * dy
          var px = 0
          while (px < pw(p)) {
            val x = x0 + px * dx
            var c = 0
            while (c < outBpp) {
              pix((y * w + x) * outBpp + c) = pp((py * pw(p) + px) * outBpp + c)
              c += 1
            }
            px += 1
          }
          py += 1
        }
      }
      p += 1
    }
    pix
  }

  /** Encode a raster back to PNG (filter 0 rows, or a fixed filter for
    * tests exercising the unfilter paths). Shares no state with the
    * fixture generator in ops/Multimodal — this is the production path.
    * `depth` 8 (bpp = channels, one byte per sample) or 16 (bpp =
    * 2·channels, big-endian sample pairs — PNG filtering is byte-level
    * regardless of depth, so the same filter loop serves both).
    */
  def encodePng(r: Raster, filterType: Int = 0, depth: Int = 8): Array[Byte] = {
    require(filterType >= 0 && filterType <= 4, s"bad filter $filterType")
    require(depth == 8 || depth == 16, s"bad depth $depth")
    val stride = r.width * r.bpp
    val raw = new Array[Byte](r.height * (stride + 1))
    var y = 0
    while (y < r.height) {
      raw(y * (stride + 1)) = filterType.toByte
      val ro = y * (stride + 1) + 1
      val po = y * stride
      var x = 0
      while (x < stride) {
        val cur = r.pix(po + x) & 0xff
        val a = if (x >= r.bpp) r.pix(po + x - r.bpp) & 0xff else 0
        val b = if (y > 0) r.pix(po - stride + x) & 0xff else 0
        val c = if (x >= r.bpp && y > 0) r.pix(po - stride + x - r.bpp) & 0xff else 0
        val v = filterType match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            cur - pred
        }
        raw(ro + x) = v.toByte
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    def be(i: Int): Array[Byte] =
      Array(((i >> 24) & 0xff).toByte, ((i >> 16) & 0xff).toByte,
        ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Unit = {
      out.write(be(data.length))
      val tagged = tag.getBytes("US-ASCII") ++ data
      out.write(tagged)
      val crc = new CRC32(); crc.update(tagged)
      out.write(be(crc.getValue.toInt))
    }
    out.write(PngSig)
    val channels = if (depth == 16) r.bpp / 2 else r.bpp
    if (depth == 16) require(r.bpp % 2 == 0, s"odd 16-bit bpp ${r.bpp}")
    val color: Byte = channels match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
      case b => throw new IllegalArgumentException(s"unencodable bpp $b")
    }
    chunk("IHDR", be(r.width) ++ be(r.height) ++
      Array[Byte](depth.toByte, color, 0, 0, 0))
    val def_ = new Deflater()
    def_.setInput(raw); def_.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    while (!def_.finished()) zout.write(buf, 0, def_.deflate(buf))
    def_.end()
    chunk("IDAT", zout.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** 16-BIT PNG sample statistics — the scientific/depth-image layouts
    * (gray16, RGB16, gray+alpha16, RGBA16; palette cannot be 16-bit):
    * struct(width, height, channels, px_sum, px_min, px_max) over the
    * big-endian 16-bit SAMPLES. PNG filtering is defined on BYTES with
    * bpp = bytes-per-pixel regardless of depth (spec §9), so the depth-8
    * unfilter and Adam7 machinery above apply verbatim with bpp =
    * 2·channels; only the sample read differs. No 8-bit raster is
    * fabricated (truncating high bytes would diverge from any real
    * decoder) — stats are computed directly at full precision, which is
    * what a gating/dedup pipeline consumes. Null outside the envelope.
    */
  def png16Stats(bytes: Array[Byte]): InternalRow = {
    val r = decodePng16(bytes)
    if (r == null) return null
    val channels = r.bpp / 2
    var sum = 0L; var mn = 65535; var mx = 0
    var p = 0
    while (p < r.pix.length) {
      val v = ((r.pix(p) & 0xff) << 8) | (r.pix(p + 1) & 0xff)
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      p += 2
    }
    new GenericInternalRow(
      Array[Any](r.width, r.height, channels, sum, mn, mx))
  }

  /** Full 16-bit PNG raster decode: Raster with bpp = 2·channels where
    * each sample is a big-endian byte pair at FULL precision — no 8-bit
    * truncation. [[decodePng]]'s chunk walk ([[pngWalk]]) with the
    * 16-bit depth envelope (gray16/RGB16/gray+alpha16/RGBA16, sequential
    * or Adam7); null outside it. Color-key tRNS on types 0/2 (r17)
    * synthesizes a 16-bit alpha channel exactly as the 8-bit path does —
    * gray16 → gray+alpha16, RGB16 → RGBA16, alpha 0x0000 where the
    * full-precision sample(s) equal the key, 0xFFFF elsewhere; at depth
    * 16 every key value is reachable, so the comparison is the spec's
    * plain 16-bit sample equality.
    */
  def decodePng16(bytes: Array[Byte]): Raster = {
    val f = pngWalk(bytes, sixteen = true)
    if (f == null) null
    else if (f.key == null) new Raster(f.w, f.h, f.bpp, f.pix)
    else keyAlpha(f, f.pix, 2)
  }

  /** Nearest-neighbor resize of a 16-BIT PNG, re-encoded as 16-bit PNG —
    * the raster path for scientific/depth images (`sx = x·srcW/dstW`
    * integer floor, the same oracle-replayable index math as
    * [[pngResizeNearest]]); samples are copied as whole big-endian byte
    * pairs, so full precision survives the roundtrip. null when the
    * input is outside the 16-bit envelope.
    */
  def png16ResizeNearest(bytes: Array[Byte], dstW: Int, dstH: Int): Array[Byte] = {
    val r = decodePng16(bytes)
    if (r == null) null else encodePng(resizeNearest(r, dstW, dstH), 0, depth = 16)
  }

  /** struct(width, height, channels, px_sum, px_min, px_max) over all
    * channel bytes of the decoded raster; null if not decodable. Integer
    * outputs by design: the DuckDB oracle reproduces them exactly (no
    * float-summation-order hazards), and mean is a trivial downstream
    * `px_sum / (width*height*channels)`.
    */
  def pngStats(bytes: Array[Byte]): InternalRow = rasterStats(decodePng(bytes))

  /** struct(width, height, channels, px_sum, px_min, px_max) over every
    * channel byte of an 8-bit raster; null for a null raster.
    */
  private def rasterStats(r: Raster): InternalRow = {
    if (r == null) return null
    var sum = 0L; var mn = 255; var mx = 0
    var i = 0
    while (i < r.pix.length) {
      val v = r.pix(i) & 0xff
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    new GenericInternalRow(Array[Any](r.width, r.height, r.bpp, sum, mn, mx))
  }

  val PngStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_min", IntegerType, nullable = false),
    StructField("px_max", IntegerType, nullable = false)))

  /** Nearest-neighbor resize, re-encoded as PNG. Source index math is
    * plain integer floor — `sx = x * srcW / dstW` — so an oracle can
    * reproduce the resized raster exactly. null if input not decodable.
    */
  def pngResizeNearest(bytes: Array[Byte], dstW: Int, dstH: Int): Array[Byte] = {
    val r = decodePng(bytes)
    if (r == null) null else encodePng(resizeNearest(r, dstW, dstH))
  }

  /** Nearest-neighbor resize with the integer floor index map
    * `sx = x·srcW/dstW`, copying whole `bpp`-byte pixels (so 16-bit
    * samples move as big-endian pairs).
    */
  private def resizeNearest(r: Raster, dstW: Int, dstH: Int): Raster = {
    val out = new Array[Byte](dstW * dstH * r.bpp)
    var y = 0
    while (y < dstH) {
      val sy = y * r.height / dstH
      var x = 0
      while (x < dstW) {
        val sx = x * r.width / dstW
        var c = 0
        while (c < r.bpp) {
          out((y * dstW + x) * r.bpp + c) = r.pix((sy * r.width + sx) * r.bpp + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    new Raster(dstW, dstH, r.bpp, out)
  }

  // ---------------- JPEG (ITU-T T.81) ----------------
  //
  // T.81 defines a JPEG stream as four independent choices, and the
  // decoder is built the same way, one piece per choice:
  //  - marker syntax: [[jWalk]] is the one segment walk. It parses DQT,
  //    DHT, DAC, DRI, SOF and SOS into a [[JFrame]] and hands each scan
  //    to the process that decodes it; every JPEG entry point runs it;
  //  - entropy coder: canonical Huffman ([[JBits]]) or the Annex D QM
  //    coder ([[JQm]]), one [[JCoder]] each, with one DC-difference and
  //    one AC-first decode per coder;
  //  - process: sequential, multi-scan and progressive DCT scans share
  //    the block walker [[jScanBlocks]]; the two lossless coders share
  //    [[jLosslessScan]]'s predictor and row loop;
  //  - precision: [[JIdct]] takes its level shift and clamp from the
  //    frame precision (8 or 12 bits).

  /** Zigzag index → natural raster position (row*8+col), ITU-T T.81
    * Figure A.6. The fixture encoders in ops/Multimodal take their
    * coefficients in zigzag order and never reorder them — no shared
    * table between test-data construction and production decode.
    */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis: IdctCos(u)(x) = C(u)/2 · cos((2x+1)uπ/16), C(0)=1/√2.
    * StrictMath so the table is bit-identical on every JVM; the fixture
    * coefficients are chosen so every decoded value sits ≥0.016 from a
    * rounding boundary (vs ~1e-13 double noise), making the integer
    * outputs deterministic and oracle-replayable.
    */
  private val IdctCos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
    cu / 2.0 * StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)
  }

  /** Control-flow bail for malformed/out-of-envelope streams: the decoder
    * throws this (or any runtime exception from a bounds check) and the
    * public entry point returns null — honest "can't decode", never
    * garbage pixels.
    */
  private object JpegBail extends RuntimeException with scala.util.control.NoStackTrace

  /** Canonical Huffman table from a DHT segment's BITS/HUFFVAL, decoded by
    * the mincode/maxcode/valptr walk of ITU-T T.81 §F.2.2.3.
    */
  private final class JHuff(counts: Array[Int], val vals: Array[Int]) {
    val minc = new Array[Int](17)
    val maxc = Array.fill(17)(-1)
    val vptr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (counts(l - 1) > 0) {
          vptr(l) = k; minc(l) = code
          code += counts(l - 1); k += counts(l - 1)
          maxc(l) = code - 1
        }
        code <<= 1; l += 1
      }
      if (k != vals.length) throw JpegBail
    }
  }

  // ---------------- implied standard Huffman tables (T.81 Annex K) ----
  //
  // AVI MJPEG frames commonly omit DHT segments entirely, relying on the
  // OpenDML convention that the decoder supplies the "typical" tables of
  // ITU-T T.81 Annex K (Tables K.3–K.6: DC/AC, luminance/chrominance).
  // [[decodeJpeg]] with impliedStdTables=true preloads slots 0 (luma) and
  // 1 (chroma) with these; any DHT actually present overrides them, so
  // mixed streams decode too. The standalone image path never implies
  // tables — a DHT-less still image is simply corrupt.

  private val StdDcLumaCounts = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcChromaCounts = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val StdDcVals = (0 to 11).toArray

  private val StdAcLumaCounts = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val StdAcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  private val StdAcChromaCounts = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val StdAcChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  private lazy val StdDcHuff: Array[JHuff] = Array(
    new JHuff(StdDcLumaCounts, StdDcVals),
    new JHuff(StdDcChromaCounts, StdDcVals))
  private lazy val StdAcHuff: Array[JHuff] = Array(
    new JHuff(StdAcLumaCounts, StdAcLumaVals),
    new JHuff(StdAcChromaCounts, StdAcChromaVals))

  // What each entry point decodes; selects the few per-process rules
  // of the segment walk.
  private final val KDct = 0 // 8-bit DCT raster (decodeJpeg)
  private final val K12 = 1 // 12-bit sequential gray (decodeJpeg12)
  private final val KLossless = 2 // lossless (decodeJpegLossless)
  private final val KMeta = 3 // frame header only (jpegMeta)

  private final class JComp {
    var id = 0
    var h = 1; var v = 1; var tq = 0
    var td = 0; var ta = 0
    var pred = 0
    // block grids: padded (MCU-aligned) bw×bh for interleaved scans and
    // plane/coefficient addressing, real rw×rh (T.81 A.2.2) for the
    // non-interleaved scans that only visit blocks covering samples
    var bw = 0; var bh = 0
    var rw = 0; var rh = 0
    // buffered decode only: quantized coefficients, zigzag order per
    // block, on the padded grid
    var coefs: Array[Int] = null
    // decoded samples on the padded grid: bytes at 8-bit precision,
    // full-precision Ints at 12-bit
    var plane: Array[Byte] = null
    var plane12: Array[Int] = null
    var planeW = 0
  }

  /** What the segment walk has read so far: the tables, conditioning and
    * restart interval in force, the frame header, the current scan's
    * spectral/approximation parameters, and the multi-scan bookkeeping.
    */
  private final class JFrame(val kind: Int, impliedStdTables: Boolean) {
    val qt = Array.ofDim[Int](4, 64) // zigzag order
    // a slot is usable only after a DQT populated it (mirrors the null
    // Huffman slots): without this, a stream carrying DHT but no DQT
    // dequantizes every coefficient against an all-zero table and
    // fabricates a constant raster instead of the honest null
    val qtDef = new Array[Boolean](4)
    val dcT = new Array[JHuff](4)
    val acT = new Array[JHuff](4)
    if (impliedStdTables) {
      dcT(0) = StdDcHuff(0); dcT(1) = StdDcHuff(1)
      acT(0) = StdAcHuff(0); acT(1) = StdAcHuff(1)
    }
    // DAC conditioning (T.81 B.2.4.3), defaults per F.1.4.4.1.2/F.1.4.4.2
    val condL = Array.fill(4)(0)
    val condU = Array.fill(4)(1)
    val condK = Array.fill(4)(5)
    var restartInt = 0
    var sof = 0 // frame marker, 0 before any SOF
    var precision = 0; var w = 0; var h = 0
    var comps: Array[JComp] = null
    var hmax = 1; var vmax = 1; var mcusX = 0; var mcusY = 0
    var ss = 0; var se = 0; var ah = 0; var al = 0 // current scan
    var multiScan = false // sequential frame split across scans
    var seqSeen = Set.empty[Int] // multi-scan: component ids scanned
    var anyScan = false // a buffered scan has been decoded
    var scanSeen = false // the walk reached an SOS marker
    var dhtSeen = false // a DHT marker came before the first SOS

    def progressive: Boolean = sof == 0xc2 || sof == 0xca
    def arith: Boolean = sof == 0xc9 || sof == 0xca || sof == 0xcb
  }

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Run the segment walk for `f.kind`; any bounds or table failure
    * inside the decode is the honest null.
    */
  private def jRun(bytes: Array[Byte], f: JFrame): AnyRef =
    try jWalk(bytes, f)
    catch { case _: RuntimeException => null }

  /** The one T.81 marker-segment walk (Annex B) behind every JPEG entry
    * point. Table and header segments go into `f`; at SOS the scan is
    * decoded by the process `f.kind` selects, and a buffered frame
    * finishes at EOI. Returns the entry point's result, or null for a
    * stream outside its envelope. Bounds-checked throughout: entropy data
    * is never scanned for markers, and adversarial lengths cannot read
    * out of range.
    *
    * The per-process rules are few and local: a lossless frame has no
    * quant tables (DQT is skipped) and no restart marker outside its
    * interval; only the DCT path skips the JPG extension marker (C8); the
    * 12-bit path has no DAC; [[jpegMeta]] reads only up to the first SOF
    * and never parses table segments.
    */
  private def jWalk(b: Array[Byte], f: JFrame): AnyRef = {
    if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var off = 2
    while (off + 1 < b.length) {
      if ((b(off) & 0xff) != 0xff) return null
      // fill bytes: any number of FFs may pad before the marker id
      var m = b(off + 1) & 0xff
      while (m == 0xff && off + 2 < b.length) { off += 1; m = b(off + 1) & 0xff }
      off += 2
      def segLen: Int = {
        if (off + 2 > b.length) throw JpegBail
        val len = be16(b, off)
        if (len < 2 || off + len > b.length) throw JpegBail
        len
      }
      m match {
        case 0xd8 | 0x01 => // stray SOI / TEM: standalone
        case x if x >= 0xd0 && x <= 0xd7 => // RSTn outside a scan
          if (f.kind == KLossless) return null
        case 0xd9 => return jEoi(f)
        case _ if f.kind == KMeta =>
          if (m == 0xda) return null // SOS before any SOF
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return jMetaRow(b, off)
          off += segLen
        case 0xdb if f.kind != KLossless => // DQT: one or more tables
          val len = segLen
          jDqt(b, off + 2, off + len, f)
          off += len
        case 0xc4 => // DHT: one or more tables
          if (!f.scanSeen) f.dhtSeen = true
          val len = segLen
          jDht(b, off + 2, off + len, f)
          off += len
        case 0xcc if f.kind != K12 => // DAC: arithmetic conditioning
          val len = segLen
          jDac(b, off + 2, off + len, f)
          off += len
        case 0xdd => // DRI
          val len = segLen
          if (len != 4) throw JpegBail
          f.restartInt = be16(b, off + 2)
          off += len
        case 0xc8 if f.kind == KDct => off += segLen // JPG extension
        case x if x >= 0xc0 && x <= 0xcf => // SOF (DHT/DAC matched above)
          val len = segLen
          if (!jSof(b, off, len, m, f)) return null
          off += len
        case 0xda =>
          f.scanSeen = true
          val len = segLen
          val idx = jSos(b, off, len, f)
          if (idx == null) return null
          val scan = idx.map(f.comps)
          if (f.kind == KLossless) return jLosslessScan(b, off + len, f, scan)
          // T.81 B.2.4.1: the quant table a scan dequantizes against
          // must have been installed by a preceding DQT
          if (scan.exists(c => !f.qtDef(c.tq))) return null
          // a sequential frame whose first scan covers a strict subset
          // of the components is a MULTI-SCAN sequential stream (T.81
          // non-interleaved layout): decode through the coefficient
          // buffers like progressive, one full-band scan per subset
          if (!f.progressive && scan.length != f.comps.length) f.multiScan = true
          if (!f.progressive && !f.multiScan) {
            if (f.ss != 0 || f.se != 63 || f.ah != 0 || f.al != 0) return null
            jScanDirect(b, off + len, f, scan, idx)
            return if (f.kind == K12) j12Crop(f) else jAssemble(f)
          }
          if (f.multiScan) {
            // sequential scans are always full-band, no approximation,
            // and each component appears in exactly one scan
            if (f.ss != 0 || f.se != 63 || f.ah != 0 || f.al != 0) return null
            if (scan.exists(c => f.seqSeen(c.id))) return null
            f.seqSeen ++= scan.map(_.id)
            // multiScan is only discoverable here (at SOS, not SOF), so
            // the buffered-coefficient cap — 4 bytes/sample of Int
            // state, the reason progressive caps at 16M samples — is
            // re-checked on this entry too
            if (f.w.toLong * f.h * f.comps.length > 16L * 1024 * 1024) return null
          }
          // buffered path: decode this scan into the coefficient
          // buffers, then continue the marker walk (EOI finishes)
          if (f.comps(0).coefs == null)
            f.comps.foreach(c => c.coefs = new Array[Int](c.bw * c.bh * 64))
          off = jScanBuffered(b, off + len, f, scan, idx)
          f.anyScan = true
        case _ => off += segLen // APPn / COM / other: skip
      }
    }
    null // ran off the end without a scan
  }

  /** EOI: a buffered DCT frame completes here. A progressive stream may
    * legitimately stop after any scan (partial rendering is the format's
    * point); a sequential multi-scan stream missing a component is
    * corrupt; every other entry point needed its scan before EOI.
    */
  private def jEoi(f: JFrame): AnyRef =
    if (f.kind == KDct && f.comps != null &&
        ((f.progressive && f.anyScan) ||
          (f.multiScan && f.seqSeen.size == f.comps.length))) jFinish(f)
    else null

  /** jpegMeta's SOF read: len(2) precision(1) height(2) width(2)
    * ncomp(1). Metadata needs only this fixed prefix, so the segment may
    * run past a truncated stream's end.
    */
  private def jMetaRow(b: Array[Byte], off: Int): InternalRow = {
    if (off + 8 > b.length) return null
    val len = be16(b, off)
    val h = be16(b, off + 3)
    val w = be16(b, off + 5)
    val nc = b(off + 7) & 0xff
    if (len < 8 + 3 * nc || w <= 0 || h <= 0 || nc <= 0) return null
    new GenericInternalRow(Array[Any](w, h, nc))
  }

  /** DQT (B.2.4.1): 8- or 16-bit tables, zero entries rejected. */
  private def jDqt(b: Array[Byte], from: Int, stop: Int, f: JFrame): Unit = {
    var p = from
    while (p < stop) {
      val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
      if (pq > 1 || tq > 3) throw JpegBail
      p += 1
      val step = if (pq == 0) 1 else 2
      if (p + 64 * step > stop) throw JpegBail
      var i = 0
      while (i < 64) {
        f.qt(tq)(i) = if (pq == 0) b(p + i) & 0xff else be16(b, p + 2 * i)
        if (f.qt(tq)(i) == 0) throw JpegBail
        i += 1
      }
      f.qtDef(tq) = true
      p += 64 * step
    }
  }

  /** DHT (B.2.4.2): BITS counts then HUFFVAL, per table. */
  private def jDht(b: Array[Byte], from: Int, stop: Int, f: JFrame): Unit = {
    var p = from
    while (p < stop) {
      val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
      if (tc > 1 || th > 3) throw JpegBail
      p += 1
      if (p + 16 > stop) throw JpegBail
      val counts = Array.tabulate(16)(i => b(p + i) & 0xff)
      p += 16
      val n = counts.sum
      if (n > 256 || p + n > stop) throw JpegBail
      val vals = Array.tabulate(n)(i => b(p + i) & 0xff)
      p += n
      val t = new JHuff(counts, vals)
      if (tc == 0) f.dcT(th) = t else f.acT(th) = t
    }
  }

  /** DAC (B.2.4.3): DC-class (U<<4)|L bounds, AC-class Kx. */
  private def jDac(b: Array[Byte], from: Int, stop: Int, f: JFrame): Unit = {
    var p = from
    while (p + 1 < stop) {
      val tc = (b(p) & 0xff) >> 4; val tb = b(p) & 0x0f
      val v = b(p + 1) & 0xff
      if (tc > 1 || tb > 3) throw JpegBail
      if (tc == 0) {
        val l = v & 0x0f; val u = v >> 4
        if (l > u) throw JpegBail // 0 <= L <= U <= 15
        f.condL(tb) = l; f.condU(tb) = u
      } else {
        // a lossless frame has no AC coefficients and ignores Kx
        if (f.kind == KDct && (v < 1 || v > 63)) throw JpegBail
        f.condK(tb) = v
      }
      p += 2
    }
  }

  /** SOF (B.2.2): frame header and component geometry. False when the
    * frame is outside the calling entry point's envelope: the DCT raster
    * takes 8-bit SOF0/1/2/9/10 with 1 or 3 components sampled 1–2; the
    * 12-bit path takes 12-bit SOF1 gray at 1×1; the lossless path takes
    * SOF3/SOF11 at 2–16 bits with 1–4 components at 1×1.
    */
  private def jSof(b: Array[Byte], off: Int, len: Int, m: Int,
                   f: JFrame): Boolean = {
    if (len < 8) throw JpegBail
    val p = b(off + 2) & 0xff
    val h = be16(b, off + 3)
    val w = be16(b, off + 5)
    val nc = b(off + 7) & 0xff
    val accepted = f.kind match {
      case KDct => (m == 0xc0 || m == 0xc1 || m == 0xc2 || m == 0xc9 ||
        m == 0xca) && p == 8 && (nc == 1 || nc == 3)
      case K12 => m == 0xc1 && p == 12 && nc == 1
      case _ => (m == 0xc3 || m == 0xcb) && p >= 2 && p <= 16 &&
        nc >= 1 && nc <= 4
    }
    if (!accepted || w <= 0 || h <= 0 || len < 8 + 3 * nc) return false
    // decoded-size caps, same rationale as PNG: forged dims can't OOM.
    // The direct 8-bit path holds one byte per sample; every buffered
    // path (progressive here, multi-scan at its first SOS, 12-bit and
    // lossless samples) holds a 4-byte Int, so its cap is tighter.
    val buffered = f.kind != KDct || m == 0xc2 || m == 0xca
    if (w.toLong * h * nc > (if (buffered) 16L else 64L) * 1024 * 1024)
      return false
    val comps = Array.tabulate(nc) { i =>
      val c = new JComp
      c.id = b(off + 8 + 3 * i) & 0xff
      val hv = b(off + 9 + 3 * i) & 0xff
      c.h = hv >> 4; c.v = hv & 0x0f
      c.tq = b(off + 10 + 3 * i) & 0xff
      c
    }
    val maxHv = if (f.kind == KDct) 2 else 1
    if (comps.exists(c => c.h < 1 || c.h > maxHv || c.v < 1 || c.v > maxHv ||
        (f.kind != KLossless && c.tq > 3))) return false
    // single-component scans carry one data unit per MCU regardless of
    // declared sampling (T.81 A.2.2) — normalize to 1x1
    if (nc == 1) { comps(0).h = 1; comps(0).v = 1 }
    f.sof = m; f.precision = p; f.w = w; f.h = h; f.comps = comps
    f.hmax = comps.map(_.h).max; f.vmax = comps.map(_.v).max
    f.mcusX = (w + 8 * f.hmax - 1) / (8 * f.hmax)
    f.mcusY = (h + 8 * f.vmax - 1) / (8 * f.vmax)
    comps.foreach { c =>
      c.bw = f.mcusX * c.h; c.bh = f.mcusY * c.v
      c.rw = ((w * c.h + f.hmax - 1) / f.hmax + 7) / 8
      c.rh = ((h * c.v + f.vmax - 1) / f.vmax + 7) / 8
    }
    true
  }

  /** SOS (B.2.3): the scan's components as frame indices, their table
    * selectors, and Ss/Se/Ah/Al into `f`. Every id must name a frame
    * component, in frame order: a missing, repeated or out-of-order id is
    * corrupt (libjpeg rejects it as well), never matched by position.
    * Null outside the envelope; the DCT raster path alone takes scans
    * over a subset of the components.
    */
  private def jSos(b: Array[Byte], off: Int, len: Int, f: JFrame): Array[Int] = {
    val comps = f.comps
    if (comps == null) return null
    val ns = b(off + 2) & 0xff
    if (ns < 1 || ns > comps.length || len < 6 + 2 * ns) return null
    if (f.kind != KDct && (ns != comps.length || len != 6 + 2 * ns)) return null
    val idx = new Array[Int](ns)
    var prev = -1
    var i = 0
    while (i < ns) {
      val cid = b(off + 3 + 2 * i) & 0xff
      val ci = comps.indexWhere(_.id == cid)
      if (ci <= prev) return null
      val c = comps(ci)
      val tdta = b(off + 4 + 2 * i) & 0xff
      c.td = tdta >> 4; c.ta = tdta & 0x0f
      if (c.td > 3 || (f.kind != KLossless && c.ta > 3)) return null
      idx(i) = ci; prev = ci
      i += 1
    }
    f.ss = b(off + 3 + 2 * ns) & 0xff
    f.se = b(off + 4 + 2 * ns) & 0xff
    f.ah = (b(off + 5 + 2 * ns) & 0xff) >> 4
    f.al = b(off + 5 + 2 * ns) & 0x0f
    idx
  }

  /** Entropy decoder of one scan. DCT scans use the four T.81 block
    * procedures below; lossless scans call the coders' difference decode
    * directly ([[JBits.diff]], [[JQm.diff]]).
    */
  private abstract class JCoder {
    /** DC difference of a block of component `c` (frame index `ci`). */
    def dcDiff(f: JFrame, c: JComp, ci: Int): Int
    /** First AC pass over zigzag band [ss, se]: values << al into
      * `cf(off + k)`. With se = 63, ss = 1, al = 0 it is the whole
      * sequential AC decode.
      */
    def acFirst(f: JFrame, c: JComp, cf: Array[Int], off: Int,
                ss: Int, se: Int, al: Int): Unit
    /** DC successive-approximation refinement: one correction bit. */
    def dcRefine(cf: Array[Int], off: Int, p1: Int): Unit
    /** AC successive-approximation refinement over [ss, se]. */
    def acRefine(f: JFrame, c: JComp, cf: Array[Int], off: Int,
                 ss: Int, se: Int, al: Int): Unit
    /** Resynchronize at the expected RSTn and reset coder state. */
    def restart(idx: Int): Unit
    /** Offset of the marker that follows the scan's entropy data. */
    def end: Int
  }

  /** Huffman coder: MSB-first bit reader over entropy-coded data with
    * FF00 unstuffing. Any non-stuffing marker hit mid-read throws
    * (entropy data may contain any byte sequence only via stuffing; a
    * bare marker there is corrupt or an unsupported layout). Restart
    * markers are consumed only at the expected MCU boundaries via
    * [[restart]]. `eobRuns` selects the progressive meaning of an
    * (r, 0) symbol with r < 15 (an EOB run, G.1.2.2) over the sequential
    * one (end of block).
    */
  private final class JBits(b: Array[Byte], var pos: Int, eobRuns: Boolean)
      extends JCoder {
    private var buf = 0
    private var cnt = 0
    private var eobrun = 0

    def bit(): Int = {
      if (cnt == 0) {
        if (pos >= b.length) throw JpegBail
        val v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          if (pos >= b.length) throw JpegBail
          if ((b(pos) & 0xff) != 0x00) throw JpegBail
          pos += 1
        }
        buf = v; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }

    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    /** Canonical-code symbol decode (T.81 F.2.2.3). */
    def sym(t: JHuff): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        code = (code << 1) | bit(); l += 1
        if (t.maxc(l) >= 0 && code <= t.maxc(l))
          return t.vals(t.vptr(l) + code - t.minc(l))
      }
      throw JpegBail
    }

    /** A DC or lossless difference: the SSSS category (at most `maxCat`)
      * then SSSS magnitude bits, EXTENDed to a signed value (F.2.2.1).
      * SSSS = 16 is lossless's bitless 32768 (H.1.2.2).
      */
    def diff(t: JHuff, maxCat: Int): Int = {
      val s = sym(t)
      if (s > maxCat) throw JpegBail
      if (s == 16) 32768 else jExtend(receive(s), s)
    }

    // DC categories run to 11 at 8-bit precision, 15 at 12 (Table F.1)
    def dcDiff(f: JFrame, c: JComp, ci: Int): Int =
      diff(f.dcT(c.td), if (f.precision == 12) 15 else 11)

    def acFirst(f: JFrame, c: JComp, cf: Array[Int], off: Int,
                ss: Int, se: Int, al: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      val t = f.acT(c.ta)
      var k = ss
      while (k <= se) {
        val rs = sym(t)
        val run = rs >> 4; val s = rs & 15
        if (s == 0) {
          if (run == 15) k += 16 // ZRL
          else {
            // EOB; progressive: ends the band for 2^r + receive(r)
            // consecutive blocks, this one included
            if (eobRuns) {
              eobrun = (1 << run) - 1
              if (run > 0) eobrun += receive(run)
            }
            return
          }
        } else {
          k += run
          if (k > se) throw JpegBail
          cf(off + k) = jExtend(receive(s), s) << al
          k += 1
        }
      }
    }

    def dcRefine(cf: Array[Int], off: Int, p1: Int): Unit =
      if (bit() == 1) cf(off) |= p1

    // AC refinement (Ah=Al+1): newly nonzero coefficients arrive as
    // (run, 1) symbols with a sign bit; coefficients already nonzero from
    // earlier passes read one correction bit wherever the scan advances
    // past them (they do not break zero runs); EOB runs carry correction
    // bits for the remainder of each ended band. The history-bit test
    // (cur & p1) is exact because every magnitude at this level is a
    // multiple of 2^Al, so two's complement keeps bit Al equal to the
    // magnitude's bit Al.
    def acRefine(f: JFrame, c: JComp, cf: Array[Int], off: Int,
                 ss: Int, se: Int, al: Int): Unit = {
      val p1 = 1 << al
      val t = f.acT(c.ta)
      var k = ss
      if (eobrun == 0) {
        var atEob = false
        while (k <= se && !atEob) {
          val rs = sym(t)
          var run = rs >> 4; val s = rs & 15
          var newval = 0
          if (s == 0) {
            if (run != 15) {
              eobrun = 1 << run
              if (run > 0) eobrun += receive(run)
              atEob = true
            }
            // run == 15: ZRL — advance over 16 zero-history positions
          } else {
            if (s != 1) throw JpegBail
            newval = if (bit() == 1) p1 else -p1
          }
          if (!atEob) {
            var placed = false
            while (k <= se && !placed) {
              val cur = cf(off + k)
              if (cur != 0) {
                if (bit() == 1 && (cur & p1) == 0)
                  cf(off + k) = if (cur >= 0) cur + p1 else cur - p1
              } else {
                if (run == 0) {
                  if (s != 0) cf(off + k) = newval
                  placed = true
                } else run -= 1
              }
              k += 1
            }
            if (!placed && s != 0) throw JpegBail // ran off the band
          }
        }
      }
      if (eobrun > 0) {
        // correction sweep over the rest of the band, then consume one
        // block of the run
        while (k <= se) {
          val cur = cf(off + k)
          if (cur != 0) {
            if (bit() == 1 && (cur & p1) == 0)
              cf(off + k) = if (cur >= 0) cur + p1 else cur - p1
          }
          k += 1
        }
        eobrun -= 1
      }
    }

    /** Byte-align and consume the expected RSTn marker. */
    def restart(idx: Int): Unit = {
      cnt = 0
      if (pos + 2 > b.length) throw JpegBail
      if ((b(pos) & 0xff) != 0xff || (b(pos + 1) & 0xff) != (0xd0 + idx)) throw JpegBail
      pos += 2
      eobrun = 0
    }

    def end: Int = pos
  }

  /** T.81 §F.2.2.1 EXTEND: map a `t`-bit magnitude to its signed value. */
  private def jExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** T.81 Table D.3 — the QM-coder probability estimation state machine
    * (113 working states + the stationary index-113 entry the AC sign's
    * non-adaptive "fixed" bin sits on). Columns: Qe value, next index
    * after LPS, next index after MPS, MPS-switch flag. Public-spec
    * constants (ITU-T T.81, 1992), verified byte-for-byte against the
    * system libjpeg's exported `jpeg_aritab`.
    */
  private val QmQe: Array[Int] = Array(
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
  private val QmNlps: Array[Int] = Array(
    1, 14, 16, 18, 20, 23, 25, 28, 30, 33, 35, 9, 10, 12, 15, 36,
    38, 39, 40, 42, 43, 45, 46, 48, 49, 51, 52, 54, 56, 57, 59, 60,
    62, 63, 32, 33, 37, 64, 65, 67, 68, 69, 70, 72, 73, 74, 75, 77,
    78, 79, 48, 50, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 61, 61,
    65, 80, 81, 82, 83, 84, 86, 87, 87, 72, 72, 74, 74, 75, 77, 77,
    80, 88, 89, 90, 91, 92, 93, 86, 88, 95, 96, 97, 99, 99, 93, 95,
    101, 102, 103, 104, 99, 105, 106, 107, 103, 105, 108, 109, 110, 111,
    110, 112, 112, 113)
  private val QmNmps: Array[Int] = Array(
    1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 13, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 9, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48,
    49, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 60, 61, 62, 63, 32,
    65, 66, 67, 68, 69, 70, 71, 72, 73, 74, 75, 76, 77, 78, 79, 48,
    81, 82, 83, 84, 85, 86, 87, 71, 89, 90, 91, 92, 93, 94, 86, 96,
    97, 98, 99, 100, 93, 102, 103, 104, 99, 106, 107, 103, 109, 107,
    111, 109, 111, 113)
  private val QmSwitch: Array[Boolean] = {
    val s = Array(0, 14, 36, 64, 80, 88, 95, 105, 110, 112)
    Array.tabulate(114)(i => s.contains(i))
  }

  /** The QM-coder DECODER register machine (T.81 §F.2.2): 32-bit C
    * register whose high 16 bits race the interval register A, BYTEIN
    * with the D.1.6 zero-BYTE-stuffing convention (a 0x00 following
    * 0xFF is the stuff byte and is discarded — 0xFF is ordinary data;
    * anything else after 0xFF is a marker, after which the decoder
    * feeds zero bytes and leaves the marker unconsumed for the restart
    * walk). The initial interval is the encoder's full 17-bit 0x10000;
    * the first two data bytes land verbatim in C's high half (the
    * interval's 2^16 carry is dropped symmetrically on both sides — the
    * code offset is always < A <= 0xFFFF after the first subdivision).
    * Context bins pack (state index << 1) | MPS into one byte.
    *
    * Statistics live with the coder: every scan and every restart
    * interval is its own arithmetic segment with fresh statistics
    * (F.1.4.1.1). DC bins are sized for lossless's 158 (a DCT scan uses
    * the first 49), AC bins for the DCT's 245; the DC conditioning
    * context is kept per frame component (`nc` of them).
    */
  private final class JQm(b: Array[Byte], start: Int, nc: Int) extends JCoder {
    private var c = 0L
    private var a = 0L
    private var ct = 0
    private var bp = 0 // index of the byte most recently fed into C
    val dcStats = Array.ofDim[Byte](4, 158)
    private val acStats = Array.ofDim[Byte](4, 256)
    // non-adaptive AC sign bin: the stationary index-113 state
    private val fixedBin = Array[Byte]((113 << 1).toByte)
    private val dcContext = new Array[Int](nc)
    /** Classification of the last [[diff]]: 0 zero (or below L), 1/2
      * small positive/negative, 3/4 large positive/negative.
      */
    var cat = 0
    init(start)

    // Past the PHYSICAL end there is no marker to stop at — a valid
    // stream always terminates its entropy data with a marker (EOI or
    // RSTn), whose zero-feed path never reads beyond it. Reading past
    // the end therefore means a truncated stream: honest-null, never
    // zero-padded garbage.
    private def byteAt(i: Int): Int =
      if (i >= 0 && i < b.length) b(i) & 0xff else throw JpegBail

    private def init(from: Int): Unit = {
      c = 0L; bp = from - 1
      byteIn(); c = (c << 8) & 0xffffffffL
      byteIn(); c = (c << 8) & 0xffffffffL
      ct = 0
      a = 0x10000L
    }

    private def byteIn(): Unit = {
      val nxt = bp + 1
      if (byteAt(nxt) == 0xff) {
        var j = nxt + 1
        while (byteAt(j) == 0xff) j += 1 // 0xFF fill bytes before a marker
        if (byteAt(j) == 0x00) { bp = j; c += 0xff00L } // stuffed zero
        // else: marker — feed a zero byte, do not advance
      } else { bp = nxt; c += byteAt(nxt).toLong << 8 }
      ct = 8
    }

    /** Decode one binary decision against the context bin `st(si)`,
      * updating the bin's adaptive state in place (Figures F.19–F.23:
      * DECODE with MPS/LPS conditional exchange and renormalization).
      */
    def decode(st: Array[Byte], si: Int): Int = {
      val s = st(si) & 0xff
      val idx = s >> 1
      var mps = s & 1
      val qe = QmQe(idx)
      a -= qe
      var d = 0
      if (((c >> 16) & 0xffffL) < a) {
        if ((a & 0x8000L) != 0) return mps
        // MPS_EXCHANGE + RENORM_D
        if (a < qe) {
          d = 1 - mps
          if (QmSwitch(idx)) mps = 1 - mps
          st(si) = ((QmNlps(idx) << 1) | mps).toByte
        } else {
          d = mps
          st(si) = ((QmNmps(idx) << 1) | mps).toByte
        }
      } else {
        // LPS_EXCHANGE + RENORM_D
        c -= a << 16
        if (a < qe) {
          d = mps
          st(si) = ((QmNmps(idx) << 1) | mps).toByte
        } else {
          d = 1 - mps
          if (QmSwitch(idx)) mps = 1 - mps
          st(si) = ((QmNlps(idx) << 1) | mps).toByte
        }
        a = qe
      }
      while ({
        if (ct == 0) byteIn()
        a <<= 1
        c = (c << 1) & 0xffffffffL
        ct -= 1
        a < 0x8000L
      }) ()
      d
    }

    /** The DC-difference decision tree (F.1.4.4.1; lossless H.1.2.2
      * reuses it): the zero decision at `ctx`, sign, then the magnitude
      * category walk from the X bins at `xBase`, then the magnitude bits
      * in the matching M bins. Sets [[cat]] against the DAC bounds L, U.
      */
    def diff(st: Array[Byte], ctx: Int, xBase: Int, l: Int, u: Int): Int = {
      if (decode(st, ctx) == 0) { cat = 0; return 0 }
      val sign = decode(st, ctx + 1)
      var m = 0
      var si = ctx + 2 + sign
      if (decode(st, si) != 0) {
        m = 1
        si = xBase
        while (decode(st, si) != 0) {
          m <<= 1
          if (m == 0x8000) throw JpegBail
          si += 1
        }
      }
      cat =
        if (m < ((1 << l) >> 1)) 0
        else if (m > ((1 << u) >> 1)) 3 + sign
        else 1 + sign
      var v = m
      si += 14 // the matching M (mantissa) bin
      while ({ m >>= 1; m != 0 }) {
        if (decode(st, si) != 0) v |= m
      }
      v += 1
      if (sign != 0) -v else v
    }

    // DCT DC: the context is the previous difference's classification
    // (Table F.4 layout: 0, 4, 8, 12, 16), X bins from 20
    def dcDiff(f: JFrame, c: JComp, ci: Int): Int = {
      val d = diff(dcStats(c.td), dcContext(ci), 20, f.condL(c.td), f.condU(c.td))
      dcContext(ci) = 4 * cat
      d
    }

    // F.1.4.4.2: per-position EOB decision, zero-run decisions, the
    // fixed sign bin, magnitude category split at Kx (X bins 189 / 217)
    def acFirst(f: JFrame, c: JComp, cf: Array[Int], off: Int,
                ss: Int, se: Int, al: Int): Unit = {
      val ast = acStats(c.ta)
      var k = ss
      while (k <= se) {
        var si = 3 * (k - 1)
        if (decode(ast, si) != 0) return // EOB
        while (decode(ast, si + 1) == 0) {
          si += 3; k += 1
          if (k > se) throw JpegBail
        }
        val sign = decode(fixedBin, 0)
        si += 2
        var m = decode(ast, si)
        if (m != 0 && decode(ast, si) != 0) {
          m <<= 1
          si = if (k <= f.condK(c.ta)) 189 else 217
          while (decode(ast, si) != 0) {
            m <<= 1
            if (m == 0x8000) throw JpegBail
            si += 1
          }
        }
        var v = m
        si += 14
        while ({ m >>= 1; m != 0 }) {
          if (decode(ast, si) != 0) v |= m
        }
        v += 1
        cf(off + k) = (if (sign != 0) -v else v) << al
        k += 1
      }
    }

    def dcRefine(cf: Array[Int], off: Int, p1: Int): Unit =
      if (decode(fixedBin, 0) != 0) cf(off) |= p1

    // G.2: EOB decisions only beyond the previous pass's end-of-block
    // index, st+2 correction bits on known coefficients, fixed-bin signs
    // on new ones
    def acRefine(f: JFrame, c: JComp, cf: Array[Int], off: Int,
                 ss: Int, se: Int, al: Int): Unit = {
      val p1 = 1 << al
      val m1 = -1 << al
      val ast = acStats(c.ta)
      // previous pass's end-of-block index: the highest occupied position
      var kex = se
      while (kex > 0 && cf(off + kex) == 0) kex -= 1
      var k = ss
      var eob = false
      while (!eob && k <= se) {
        var si = 3 * (k - 1)
        if (k > kex && decode(ast, si) != 0) eob = true
        else {
          var placed = false
          while (!placed) {
            val cur = cf(off + k)
            if (cur != 0) {
              if (decode(ast, si + 2) != 0)
                cf(off + k) = if (cur < 0) cur + m1 else cur + p1
              placed = true
            } else if (decode(ast, si + 1) != 0) {
              cf(off + k) = if (decode(fixedBin, 0) != 0) m1 else p1
              placed = true
            } else {
              si += 3; k += 1
              if (k > se) throw JpegBail
            }
          }
          k += 1
        }
      }
    }

    /** Byte-align at a restart boundary: the next marker in the stream
      * must be the expected RSTn (within entropy data every 0xFF is
      * followed by a stuffed byte < 0x80, so the first 0xFF followed by
      * >= 0x90 IS the marker); then a fresh segment — zeroed statistics
      * and DC contexts, re-initialized coder past the marker.
      */
    def restart(idx: Int): Unit = {
      var i = bp
      while (i + 1 < b.length && !((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) >= 0x90))
        i += 1
      if (i + 1 >= b.length || (b(i + 1) & 0xff) != 0xd0 + idx) throw JpegBail
      var t = 0
      while (t < 4) {
        java.util.Arrays.fill(dcStats(t), 0.toByte)
        java.util.Arrays.fill(acStats(t), 0.toByte)
        t += 1
      }
      java.util.Arrays.fill(dcContext, 0)
      init(i + 2)
    }

    // scan data ends where the coder stopped: the next marker at/after
    // the last consumed byte (fill 0xFFs allowed; FF00 is data)
    def end: Int = {
      var i = bp
      while (i + 1 < b.length) {
        if ((b(i) & 0xff) == 0xff) {
          var j = i + 1
          while (j < b.length && (b(j) & 0xff) == 0xff) j += 1
          if (j < b.length && (b(j) & 0xff) >= 0x90) return j - 1
          i = j + 1
        } else i += 1
      }
      throw JpegBail // ran off the end without a terminating marker
    }
  }

  /** Per-block callback of [[jScanBlocks]]: component, its frame index,
    * and the block's position on the component's grid.
    */
  private abstract class JBlockFn {
    def apply(c: JComp, ci: Int, bx: Int, by: Int): Unit
  }

  /** The one MCU/block walker (T.81 A.2): a single-component scan visits
    * its REAL block grid row by row, one block per MCU; an interleaved
    * scan visits MCUs over the padded grid, each component's h×v blocks
    * in turn. Every `restartInt` MCUs the coder resynchronizes and the
    * DC predictions reset.
    */
  private def jScanBlocks(f: JFrame, scan: Array[JComp], idx: Array[Int],
                          coder: JCoder, fn: JBlockFn): Unit = {
    scan.foreach(_.pred = 0)
    var mcu = 0; var rstIdx = 0
    def nextMcu(): Unit = {
      if (f.restartInt > 0 && mcu > 0 && mcu % f.restartInt == 0) {
        coder.restart(rstIdx); rstIdx = (rstIdx + 1) & 7
        scan.foreach(_.pred = 0)
      }
      mcu += 1
    }
    if (scan.length == 1) {
      val c = scan(0); val ci = idx(0)
      var by = 0
      while (by < c.rh) {
        var bx = 0
        while (bx < c.rw) { nextMcu(); fn(c, ci, bx, by); bx += 1 }
        by += 1
      }
    } else {
      var my = 0
      while (my < f.mcusY) {
        var mx = 0
        while (mx < f.mcusX) {
          nextMcu()
          var s = 0
          while (s < scan.length) {
            val c = scan(s)
            var v = 0
            while (v < c.v) {
              var hh = 0
              while (hh < c.h) { fn(c, idx(s), mx * c.h + hh, my * c.v + v); hh += 1 }
              v += 1
            }
            s += 1
          }
          mx += 1
        }
        my += 1
      }
    }
  }

  private def jCoder(b: Array[Byte], off: Int, f: JFrame): JCoder =
    if (f.arith) new JQm(b, off, f.comps.length)
    else new JBits(b, off, eobRuns = f.progressive)

  /** The single interleaved scan of a sequential frame (8- or 12-bit),
    * decoded straight into the component planes: no coefficient buffer,
    * so this path keeps the 64M-sample cap.
    */
  private def jScanDirect(b: Array[Byte], off: Int, f: JFrame,
                          scan: Array[JComp], idx: Array[Int]): Unit = {
    if (!f.arith && scan.exists(c => f.dcT(c.td) == null || f.acT(c.ta) == null))
      throw JpegBail
    val idct = new JIdct(f)
    val coder = jCoder(b, off, f)
    val zz = new Array[Int](64)
    jScanBlocks(f, scan, idx, coder, (c, ci, bx, by) => {
      java.util.Arrays.fill(zz, 0)
      c.pred += coder.dcDiff(f, c, ci)
      zz(0) = c.pred
      coder.acFirst(f, c, zz, 0, 1, 63, 0)
      idct.block(c, zz, 0, f.qt(c.tq), bx, by)
    })
  }

  /** One scan of a buffered frame — a progressive pass (T.81 Annex G:
    * DC scans interleaved or single-component, AC scans single-component
    * over [Ss, Se], first (Ah=0) and refinement (Ah=Al+1) passes) or one
    * full-band scan of a multi-scan sequential frame — decoded into the
    * coefficient buffers. Returns the offset of the next marker.
    */
  private def jScanBuffered(b: Array[Byte], off: Int, f: JFrame,
                            scan: Array[JComp], idx: Array[Int]): Int = {
    val ss = f.ss; val se = f.se; val ah = f.ah; val al = f.al
    if (al > 13) throw JpegBail
    if (ah != 0 && ah != al + 1) throw JpegBail
    val isDc = f.progressive && ss == 0
    if (f.progressive) {
      if (isDc && se != 0) throw JpegBail
      if (!isDc && (scan.length != 1 || se < ss || se > 63)) throw JpegBail
    }
    if (!f.arith && scan.exists(c =>
        (!isDc && f.acT(c.ta) == null) ||
          ((!f.progressive || (isDc && ah == 0)) && f.dcT(c.td) == null)))
      throw JpegBail
    val coder = jCoder(b, off, f)
    jScanBlocks(f, scan, idx, coder, (c, ci, bx, by) => {
      val o = (by * c.bw + bx) * 64
      if (!f.progressive) {
        // raw coefficients: dequantization happens once, at EOI
        c.pred += coder.dcDiff(f, c, ci)
        c.coefs(o) = c.pred
        coder.acFirst(f, c, c.coefs, o, 1, 63, 0)
      } else if (isDc) {
        if (ah == 0) {
          c.pred += coder.dcDiff(f, c, ci)
          c.coefs(o) = c.pred << al
        } else coder.dcRefine(c.coefs, o, 1 << al)
      } else if (ah == 0) coder.acFirst(f, c, c.coefs, o, ss, se, al)
      else coder.acRefine(f, c, c.coefs, o, ss, se, al)
    })
    coder.end
  }

  /** Dequantize + separable IDCT + level shift + clamp of one zigzag
    * block into its component's plane, with the deterministic
    * floor(x + 2^(P−1) + 0.5) rounding the oracle replays (P = 8 or 12,
    * clamp [0, 2^P − 1]). Allocates the planes on the padded grid.
    */
  private final class JIdct(f: JFrame) {
    private val nat = new Array[Int](64)
    private val tmp = new Array[Double](64)
    private val bias = (1 << (f.precision - 1)) + 0.5
    private val max = (1 << f.precision) - 1
    f.comps.foreach { c =>
      c.planeW = c.bw * 8
      if (f.precision == 12) c.plane12 = new Array[Int](c.planeW * c.bh * 8)
      else c.plane = new Array[Byte](c.planeW * c.bh * 8)
    }

    def block(c: JComp, zz: Array[Int], off: Int, q: Array[Int],
              bx: Int, by: Int): Unit = {
      var k = 0
      while (k < 64) { nat(JpegZigzag(k)) = zz(off + k) * q(k); k += 1 }
      var x = 0
      while (x < 8) {
        var v = 0
        while (v < 8) {
          var acc = 0.0
          var u = 0
          while (u < 8) { acc += nat(v * 8 + u) * IdctCos(u)(x); u += 1 }
          tmp(v * 8 + x) = acc
          v += 1
        }
        x += 1
      }
      val base = by * 8 * c.planeW + bx * 8
      var y = 0
      while (y < 8) {
        var xx = 0
        while (xx < 8) {
          var s = 0.0
          var v = 0
          while (v < 8) { s += tmp(v * 8 + xx) * IdctCos(v)(y); v += 1 }
          var p = StrictMath.floor(s + bias).toInt
          if (p < 0) p = 0 else if (p > max) p = max
          if (c.plane12 != null) c.plane12(base + y * c.planeW + xx) = p
          else c.plane(base + y * c.planeW + xx) = p.toByte
          xx += 1
        }
        y += 1
      }
    }
  }

  /** Dequantize + IDCT every buffered block at EOI, then crop, upsample
    * and color-convert.
    */
  private def jFinish(f: JFrame): Raster = {
    val idct = new JIdct(f)
    f.comps.foreach { c =>
      val q = f.qt(c.tq)
      var by = 0
      while (by < c.bh) {
        var bx = 0
        while (bx < c.bw) {
          idct.block(c, c.coefs, (by * c.bw + bx) * 64, q, bx, by)
          bx += 1
        }
        by += 1
      }
    }
    jAssemble(f)
  }

  /** Assemble decoded 8-bit component planes into the output raster: crop
    * (gray) or replication-upsample + fixed-point YCbCr→RGB (color).
    */
  private def jAssemble(f: JFrame): Raster = {
    val w = f.w; val h = f.h
    if (f.comps.length == 1) {
      val c = f.comps(0)
      val pix = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(c.plane, y * c.planeW, pix, y * w, w)
        y += 1
      }
      new Raster(w, h, 1, pix)
    } else {
      val hmax = f.hmax; val vmax = f.vmax
      val cy = f.comps(0); val cb = f.comps(1); val cr = f.comps(2)
      val pix = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val yY = y * cy.v / vmax; val yB = y * cb.v / vmax; val yR = y * cr.v / vmax
        var x = 0
        while (x < w) {
          val yv = cy.plane(yY * cy.planeW + x * cy.h / hmax) & 0xff
          val cbv = (cb.plane(yB * cb.planeW + x * cb.h / hmax) & 0xff) - 128
          val crv = (cr.plane(yR * cr.planeW + x * cr.h / hmax) & 0xff) - 128
          var rv = yv + ((91881 * crv + 32768) >> 16)
          var gv = yv - ((22554 * cbv + 46802 * crv + 32768) >> 16)
          var bv = yv + ((116130 * cbv + 32768) >> 16)
          if (rv < 0) rv = 0 else if (rv > 255) rv = 255
          if (gv < 0) gv = 0 else if (gv > 255) gv = 255
          if (bv < 0) bv = 0 else if (bv > 255) bv = 255
          val o = (y * w + x) * 3
          pix(o) = rv.toByte; pix(o + 1) = gv.toByte; pix(o + 2) = bv.toByte
          x += 1
        }
        y += 1
      }
      new Raster(w, h, 3, pix)
    }
  }

  /** Crop the 12-bit plane to the frame. */
  private def j12Crop(f: JFrame): J12 = {
    val c = f.comps(0)
    val out = new Array[Int](f.w * f.h)
    var y = 0
    while (y < f.h) {
      System.arraycopy(c.plane12, y * c.planeW, out, y * f.w, f.w)
      y += 1
    }
    new J12(f.w, f.h, out)
  }

  /** One interleaved lossless scan (T.81 Annex H), either coder: for
    * each sample in raster order (components interleaved per MCU — one
    * sample each at 1×1 sampling), decode the difference, add it to the
    * prediction modulo 2^16, then apply the inverse point transform.
    *
    * Huffman (SOF3): the SSSS category from the component's DC-class
    * table, then the magnitude bits (SSSS=16 → 32768, no bits).
    * Arithmetic (SOF11): the DC difference tree under the §H.1.2.2
    * model — the zero/sign/first-magnitude decisions conditioned on the
    * 5×5 classification of the two neighbouring differences (Da: the
    * diff decoded at the left sample of the current row; Db: the diff at
    * the same column of the row above — both category 0 where the
    * neighbour doesn't exist), each classified against the DAC L/U
    * bounds of the component's table, and TWO X/M magnitude-bin sets
    * selected by whether Db classifies large (either sign). Statistics
    * area: 25 contexts × 4 (S0/SS/SP/SN) + 2 × (X1–X15 + M2–M15) = 158
    * bins per table. Magnitudes run to 32768, so X walks may reach X15 —
    * the full 16-bit difference ring.
    */
  private def jLosslessScan(b: Array[Byte], off: Int, f: JFrame,
                            scan: Array[JComp]): JLossless = {
    val sel = f.ss // predictor
    val pt = f.al // point transform
    if (sel < 1 || sel > 7 || f.se != 0 || f.ah != 0 || pt >= f.precision)
      return null
    if (!f.arith && scan.exists(c => f.dcT(c.td) == null)) return null
    val w = f.w; val h = f.h; val nc = scan.length
    // Restart envelope: intervals must land on row starts (at 1x1
    // interleaved sampling a line is w MCUs). The H.1.1 reset rules
    // name "the first line of the restart interval", which is only
    // unambiguous when intervals ARE whole lines — mid-row restarts
    // would need Rb/Rc references across the resynchronization
    // point, defeating it; they stay honest-null.
    val restartRows =
      if (f.restartInt == 0) 0
      else if (f.restartInt % w == 0) f.restartInt / w
      else return null
    val bits = if (f.arith) null else new JBits(b, off, eobRuns = false)
    val qm = if (f.arith) new JQm(b, off, nc) else null
    val out = new Array[Int](w * h * nc)
    val init = 1 << (f.precision - pt - 1)
    val prev = Array.ofDim[Int](nc, w) // reconstructed row above (Rb/Rc)
    val cur = Array.ofDim[Int](nc, w)
    // arithmetic conditioning state: the category of the diff decoded at
    // each column of the row above (Db source, overwritten in place as
    // the row advances) and at the left neighbour (Da)
    val catUp = Array.ofDim[Int](nc, w)
    val catLeft = new Array[Int](nc)
    var rstIdx = 0
    var y = 0
    while (y < h) {
      // H.2.2 row-aligned restart: byte-align onto the expected RSTn and
      // treat this row as a scan-start first line (default prediction at
      // x=0, Ra for the rest — the H.1.1 reset rules); an arithmetic
      // interval is its own segment, (Da, Db) state zeroed too
      val restartRow = restartRows > 0 && y > 0 && y % restartRows == 0
      if (restartRow) {
        if (qm != null) {
          qm.restart(rstIdx)
          catUp.foreach(java.util.Arrays.fill(_, 0))
        } else bits.restart(rstIdx)
        rstIdx = (rstIdx + 1) & 7
      }
      val firstLine = y == 0 || restartRow
      java.util.Arrays.fill(catLeft, 0)
      var x = 0
      while (x < w) {
        var ci = 0
        while (ci < nc) {
          val c = scan(ci)
          val diff =
            if (qm == null) bits.diff(f.dcT(c.td), 16)
            else {
              val up = catUp(ci)(x)
              val d = qm.diff(qm.dcStats(c.td), (catLeft(ci) * 5 + up) * 4,
                if (up > 2) 129 else 100, f.condL(c.td), f.condU(c.td))
              catLeft(ci) = qm.cat
              catUp(ci)(x) = qm.cat
              d
            }
          val pred =
            if (firstLine && x == 0) init
            else if (firstLine) cur(ci)(x - 1) // first line: Ra
            else if (x == 0) prev(ci)(0) // first column: Rb
            else {
              val ra = cur(ci)(x - 1)
              val rb = prev(ci)(x)
              val rc = prev(ci)(x - 1)
              sel match {
                case 1 => ra
                case 2 => rb
                case 3 => rc
                case 4 => ra + rb - rc
                case 5 => ra + ((rb - rc) >> 1)
                case 6 => rb + ((ra - rc) >> 1)
                case _ => (ra + rb) >> 1
              }
            }
          val rx = (pred + diff) & 0xffff
          cur(ci)(x) = rx
          out((y * w + x) * nc + ci) = (rx << pt) & 0xffff
          ci += 1
        }
        x += 1
      }
      var ci = 0
      while (ci < nc) {
        System.arraycopy(cur(ci), 0, prev(ci), 0, w)
        ci += 1
      }
      y += 1
    }
    new JLossless(w, h, nc, f.precision, out)
  }

  /** Full 8-bit JPEG decode to a raster: one run of the segment walk
    * [[jWalk]], whose SOS dispatch picks the process.
    *
    * Envelope (null outside it — honest partial decoder, never garbage):
    * SOF0/SOF1 (baseline/extended sequential) in a single interleaved
    * scan or split across multiple full-band non-interleaved scans, SOF2
    * progressive (spectral selection + successive approximation, Annex
    * G), and their ARITHMETIC-coded twins SOF9/SOF10 (the Annex D
    * QM-coder with the F.1.4.4/G.2 statistical models and DAC
    * conditioning). 8-bit precision, 1 or 3 components, sampling factors
    * 1 or 2, restart markers, 8- or 16-bit quant tables. Either entropy
    * coder ([[JBits]], [[JQm]]) feeds the same block walker
    * ([[jScanBlocks]]) and the same dequant + IDCT ([[JIdct]]): a single
    * interleaved sequential scan decodes straight into the component
    * planes, every other layout into coefficient buffers finished at EOI.
    * Lossless (SOF3/SOF11) and 12-bit gray (SOF1) frames decode at full
    * precision through [[decodeJpegLossless]] / [[decodeJpeg12]], never
    * through this 8-bit raster one. Hierarchical frames (Annex J) stay
    * null — the one T.81 coding process with no mainstream decoder
    * support either.
    *
    * Output: gray raster (bpp=1) for 1 component; interleaved RGB (bpp=3)
    * for 3, converted with the fixed-point CCIR 601 constants
    * (91881/22554/46802/116130 : 65536) and floor((x+32768)>>16) rounding
    * so an oracle replays the exact integers.
    */
  def decodeJpeg(bytes: Array[Byte]): Raster = decodeJpeg(bytes, false)

  /** As [[decodeJpeg]], with `impliedStdTables` preloading the Annex K
    * typical Huffman tables into slots 0 (luma) and 1 (chroma) — the
    * OpenDML convention for DHT-less MJPEG frames. In-stream DHT
    * segments still override the implied tables.
    */
  def decodeJpeg(bytes: Array[Byte], impliedStdTables: Boolean): Raster =
    jRun(bytes, new JFrame(KDct, impliedStdTables)).asInstanceOf[Raster]

  /** Strict decode first; when that fails AND the walk reached a scan
    * with no DHT before it, retry with the Annex K implied standard
    * tables — so a frame extracted from a DHT-less MJPEG AVI (which
    * [[AviCodecHelper.mjpegStats]] decodes via the same convention)
    * composes with the still-image stats/resize path instead of nulling.
    * A stream that HAS its own DHT never falls back: retrying it under
    * different tables could "succeed" with garbage pixels. (DHT between
    * later scans of a multi-scan frame is fine: in-stream tables override
    * the implied ones scan by scan.)
    */
  def decodeJpegAuto(bytes: Array[Byte]): Raster = {
    val f = new JFrame(KDct, impliedStdTables = false)
    val r = jRun(bytes, f).asInstanceOf[Raster]
    if (r != null || !f.scanSeen || f.dhtSeen) r else decodeJpeg(bytes, true)
  }

  // ---------------- 12-bit extended-sequential JPEG (SOF1) ----------------
  //
  // T.81 extended sequential DCT at 12-bit sample precision — the
  // DICOM/medical-imaging JPEG shape (SOF0 baseline is 8-bit BY
  // DEFINITION; 12-bit rides SOF1). The entropy/dequant/IDCT machinery
  // is the 8-bit path's with three changes: the level shift is 2^11, the
  // clamp is [0, 4095], and DC difference categories run to 15 (Table
  // F.1). Like the 16-bit-PNG and lossless-JPEG surfaces, no truncated
  // 8-bit raster is fabricated — full-precision statistics are the
  // decode surface.

  /** Decoded 12-bit frame: gray samples at full precision. */
  final class J12(val width: Int, val height: Int, val samples: Array[Int])

  /** 12-bit JPEG sample statistics at FULL precision: struct(width,
    * height, px_sum, px_min, px_max). Null outside the envelope (see
    * [[decodeJpeg12]]).
    */
  def jpeg12Stats(bytes: Array[Byte]): InternalRow = {
    val r = decodeJpeg12(bytes)
    if (r == null) null
    else new GenericInternalRow(Array[Any](r.width, r.height) ++ sampleStats(r.samples))
  }

  /** (px_sum, px_min, px_max) over full-precision samples. */
  private def sampleStats(s: Array[Int]): Array[Any] = {
    var sum = 0L; var mn = Int.MaxValue; var mx = 0
    var i = 0
    while (i < s.length) {
      val v = s(i)
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    Array[Any](sum, mn, mx)
  }

  /** 12-bit extended-sequential JPEG decode (T.81, SOF1, Huffman).
    *
    * Envelope (null outside it): SOF1 frames with precision 12, ONE
    * gray component (the DICOM shape — 12-bit color would need a
    * 12-bit chroma convention no ecosystem agrees on), single full-band
    * scan, 8- or 16-bit quant tables, restart markers. The IDCT applies
    * the 12-bit level shift with the same deterministic floor(x+2048.5)
    * rounding the 8-bit path proves at floor(x+128.5), clamped to
    * [0, 4095].
    */
  def decodeJpeg12(bytes: Array[Byte]): J12 =
    jRun(bytes, new JFrame(K12, false)).asInstanceOf[J12]

  val Jpeg12StatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_min", IntegerType, nullable = false),
    StructField("px_max", IntegerType, nullable = false)))

  // ---------------- lossless JPEG (SOF3 / SOF11) ----------------
  //
  // T.81 Annex H: a lossless frame codes each SAMPLE
  // as a Huffman-coded DPCM difference from one of seven spatial
  // predictors (Ss in the scan header selects it), with the same
  // SSSS-category + magnitude-bits encoding as baseline DC coefficients
  // (SSSS=16 is the special no-bits code for difference 32768), and
  // reconstruction modulo 2^16 (H.1.2.1). Precision runs 2–16 bits —
  // the DNG/raw-camera and medical-imaging layouts — so, exactly like
  // [[png16Stats]], no 8-bit raster is fabricated: full-precision
  // statistics are the decode surface.

  /** Decoded lossless frame: interleaved full-precision samples. */
  final class JLossless(val width: Int, val height: Int, val nc: Int,
                        val precision: Int, val samples: Array[Int])

  /** Lossless-JPEG (SOF3) sample statistics at FULL precision:
    * struct(width, height, components, precision, px_sum, px_min,
    * px_max) over every sample of every component. Null outside the
    * envelope (see [[decodeJpegLossless]]) — honest partial decoder,
    * never garbage.
    */
  def jpegLosslessStats(bytes: Array[Byte]): InternalRow = {
    val r = decodeJpegLossless(bytes)
    if (r == null) null
    else new GenericInternalRow(
      Array[Any](r.width, r.height, r.nc, r.precision) ++ sampleStats(r.samples))
  }

  /** Full lossless-JPEG decode (ITU-T T.81 Annex H): SOF3 Huffman and
    * SOF11 arithmetic (QM-coded differences under the H.1.2.2 model,
    * with DAC conditioning bounds honoured — see [[jLosslessScan]]).
    *
    * Envelope (null outside it): SOF3/SOF11 frames, 2–16 bit precision,
    * 1–4 components all with 1×1 sampling factors, ONE interleaved scan
    * covering every frame component in frame order, predictors 1–7,
    * point transform 0 ≤ Pt < precision, and ROW-aligned restart
    * intervals (r19: a DRI whose MCU interval is a multiple of the
    * samples-per-line decodes with the full T.81 H.2.2 reset — the
    * restarted row predicts as a scan-start first line, and on the
    * arithmetic path each interval is its own coder segment with zeroed
    * statistics and conditioning; a MID-row interval still nulls, since
    * the H.1.1 "first line of the restart interval" rules are only
    * unambiguous on line boundaries). Per H.1.2: the first
    * sample predicts from 1<<(P−Pt−1), the rest of the first line from
    * Ra (left), the first column of later lines from Rb (above);
    * elsewhere the scan's predictor applies, with >>1 as the arithmetic
    * shift (floor) on possibly-negative sums. Reconstruction is
    * (prediction + diff) mod 2^16, and the inverse point transform
    * (<< Pt) stays in the same mod-2^16 ring — every step is exact
    * integer arithmetic an oracle replays as prefix sums.
    *
    * RESIDUAL CONFORMANCE RISK, SOF11 only (ADVICE r19, documented per
    * its own prescription): the QM statistical-model layout — the
    * 25-context (Da, Db) ordering, the Db-large X/M bin-set selection,
    * the MSB-based magnitude classification of H.1.2.2/H.1.2.3 — is
    * verified against (a) the in-tree QmEnc fixture encoder and (b) the
    * cross-coder law that identical diffs through SOF3-Huffman and
    * SOF11-QM decode to identical samples. No EXTERNAL SOF11 oracle
    * exists in this container: libjpeg declines lossless-arithmetic
    * (its arith support covers SOF9/SOF10 only) and the ITU reference
    * software is not present, so a misreading of the H.1.2.2 context
    * tables SHARED by QmEnc and this decoder would decode a third-party
    * SOF11 stream to wrong pixels rather than null — unlike every other
    * JPEG flavor here, whose entropy layer is pinned by the external
    * libjpeg goldens in MediaCodecSpec. The QM coder CORE carries no such
    * risk (it is byte-identical machinery to the SOF9/SOF10 path, which
    * IS libjpeg-pinned); only the lossless context-selection layer does.
    * Sourcing one third-party SOF11 golden closes this; until then,
    * treat SOF11 decodes of externally-produced streams as unverified.
    */
  def decodeJpegLossless(bytes: Array[Byte]): JLossless =
    jRun(bytes, new JFrame(KLossless, false)).asInstanceOf[JLossless]

  val JpegLosslessStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("components", IntegerType, nullable = false),
    StructField("precision", IntegerType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_min", IntegerType, nullable = false),
    StructField("px_max", IntegerType, nullable = false)))

  // ---------------- GIF (87a / 89a) ----------------

  /** The one GIF block walk (GIF89a §17–§27). Construction reads the
    * signature, the logical screen descriptor and the global color table;
    * each [[nextImage]] steps over extension blocks — recording the
    * Graphic Control Extension that applies to the next image — to the
    * next image descriptor, whose local color table and LZW sub-block data
    * it skips by length. Sub-block chains are walked by their length
    * bytes, never scanned for markers. Every read is bounds-checked, and a
    * short read, a bad signature or an unknown block throws [[JpegBail]],
    * which each visitor ([[decodeGif]], [[gifMeta]], [[gifComposite]])
    * turns into null. A visitor decodes the images it wants with
    * [[paint]].
    */
  private final class GifWalk(b: Array[Byte]) {
    private def u8(i: Int): Int = { if (i < 0 || i >= b.length) throw JpegBail; b(i) & 0xff }
    private def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (b == null || b.length < 14) throw JpegBail
    private val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") throw JpegBail
    val sw: Int = u16(6)
    val sh: Int = u16(8)
    private def tableSize(packed: Int): Int =
      if ((packed & 0x80) != 0) 2 << (packed & 7) else 0
    private def palette(at: Int, n: Int): Array[Int] = {
      val p = new Array[Int](n)
      var i = 0
      while (i < n) {
        p(i) = (u8(at + 3 * i) << 16) | (u8(at + 3 * i + 1) << 8) | u8(at + 3 * i + 2)
        i += 1
      }
      p
    }
    private val gctN = tableSize(u8(10))
    private val gct = if (gctN > 0) palette(13, gctN) else null
    private var off = 13 + 3 * gctN
    private def skipSubBlocks(): Unit = {
      var len = u8(off)
      while (len != 0) { off += 1 + len; len = u8(off) }
      off += 1
    }

    /** The current image's Graphic Control Extension: disposal method
      * and transparent index (−1 for none); 0/−1 without a GCE.
      */
    var disposal = 0
    var trans = -1
    /** Some GCE so far was not the 4-byte block with disposal 0–3. */
    var badControl = false
    /** The current image descriptor and its LZW minimum code size. */
    var left = 0; var top = 0; var iw = 0; var ih = 0; var mcs = 0
    private var interlaced = false
    private var lct = 0; private var lctN = 0
    private var data = 0

    /** Advance to the next image: true with its descriptor loaded, false
      * at the trailer.
      */
    def nextImage(): Boolean = {
      disposal = 0; trans = -1
      while (true) {
        u8(off) match {
          case 0x21 => // extension: introducer + label + sub-block chain
            if (u8(off + 1) == 0xf9) {
              if (u8(off + 2) != 4) badControl = true
              else {
                val packed = u8(off + 3)
                disposal = (packed >> 2) & 7
                if (disposal > 3) badControl = true
                trans = if ((packed & 1) != 0) u8(off + 6) else -1
              }
            }
            off += 2
            skipSubBlocks()
          case 0x2c =>
            left = u16(off + 1); top = u16(off + 3)
            iw = u16(off + 5); ih = u16(off + 7)
            val ip = u8(off + 9)
            interlaced = (ip & 0x40) != 0
            lctN = tableSize(ip); lct = off + 10
            off += 10 + 3 * lctN
            mcs = u8(off)
            data = off + 1
            off += 1
            skipSubBlocks()
            return true
          case 0x3b => return false
          case _ => throw JpegBail
        }
      }
      false
    }

    /** Decode the current image — LZW over its sub-block data, local or
      * global palette — onto `canvas`, a screen-wide 0xRRGGBB grid, at the
      * image's offset in interlace row order. Pixels of index `skip` (the
      * GCE transparent index, or −1) leave the canvas untouched.
      */
    def paint(canvas: Array[Int], skip: Int): Unit = {
      val pal = if (lctN > 0) palette(lct, lctN) else gct
      if (pal == null || mcs < 2 || mcs > 8) throw JpegBail
      val z = new java.io.ByteArrayOutputStream()
      var o = data
      var len = u8(o)
      while (len != 0) { z.write(b, o + 1, len); o += 1 + len; len = u8(o) }
      val indices = gifLzw(z.toByteArray, mcs, iw * ih)
      // the four interlace passes: every 8th row from 0, every 8th from
      // 4, every 4th from 2, every 2nd from 1
      val rows =
        if (!interlaced) 0 until ih
        else (0 until ih by 8) ++ (4 until ih by 8) ++
          (2 until ih by 4) ++ (1 until ih by 2)
      var src = 0
      rows.foreach { y =>
        val row = (top + y) * sw + left
        var x = 0
        while (x < iw) {
          val idx = indices(src) & 0xff; src += 1
          if (idx >= pal.length) throw JpegBail
          if (idx != skip) canvas(row + x) = pal(idx)
          x += 1
        }
      }
    }
  }

  /** Full GIF decode — LZW decompression (variable-width LSB-first codes,
    * CLEAR/EOI, 4096-entry dictionary with the KwKwK case), global or
    * local color table, optional interlace (the four-pass 8/8-4/8-2/4-1/2
    * row order). FIRST image only: the [[GifWalk]] visitor that stops at
    * the first image's end, so nothing after it (animation frames, the
    * trailer) is read. An image whose descriptor places it at a nonzero
    * left/top offset or smaller than the logical screen is out of
    * envelope (that requires background-color compositing; decoding it
    * image-local would diverge from a reference decoder, so it returns
    * null instead). Output is interleaved RGB (bpp = 3). null for non-GIF
    * / malformed / truncated / oversized streams — never garbage.
    */
  def decodeGif(bytes: Array[Byte]): Raster =
    try {
      val g = new GifWalk(bytes)
      val w = g.sw; val h = g.sh
      if (!g.nextImage() || g.left != 0 || g.top != 0 || g.iw != w ||
          g.ih != h || w <= 0 || h <= 0 || w.toLong * h * 3 > 64L * 1024 * 1024)
        return null
      val canvas = new Array[Int](w * h)
      g.paint(canvas, -1)
      canvasRaster(w, h, canvas, 3)
    } catch { case _: RuntimeException => null }

  /** A 0xRRGGBB canvas as interleaved RGB (`bpp` 3), or as RGBA (`bpp`
    * 4) with alpha 255 on painted pixels and (0,0,0,0) where the canvas
    * holds −1 (transparent).
    */
  private def canvasRaster(w: Int, h: Int, canvas: Array[Int], bpp: Int): Raster = {
    val pix = new Array[Byte](canvas.length * bpp)
    var i = 0
    while (i < canvas.length) {
      val v = canvas(i)
      if (v >= 0) {
        pix(bpp * i) = (v >> 16).toByte
        pix(bpp * i + 1) = (v >> 8).toByte
        pix(bpp * i + 2) = v.toByte
        if (bpp == 4) pix(bpp * i + 3) = -1
      }
      i += 1
    }
    new Raster(w, h, bpp, pix)
  }

  /** GIF LZW decompression to exactly `nOut` palette indices. Width
    * grows when the dictionary size reaches the current code capacity
    * (max 12 bits); the encoder's mirror rule is offset by one because
    * it adds each entry one code earlier than the decoder learns it.
    */
  private def gifLzw(d: Array[Byte], mcs: Int, nOut: Int): Array[Byte] = {
    val clear = 1 << mcs
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val strlen = new Array[Int](4096)
    var i = 0
    while (i < clear) {
      prefix(i) = -1; suffix(i) = i.toByte; strlen(i) = 1; i += 1
    }
    var dictSize = eoi + 1
    var width = mcs + 1
    val out = new Array[Byte](nOut)
    var outPos = 0
    var bitPos = 0
    val nBits = d.length * 8
    def read(): Int = {
      if (bitPos + width > nBits) throw JpegBail
      var v = 0
      var j = 0
      while (j < width) {
        val p = bitPos + j
        v |= ((d(p >> 3) >> (p & 7)) & 1) << j
        j += 1
      }
      bitPos += width
      v
    }
    def firstChar(code: Int): Byte = {
      var c = code
      while (prefix(c) >= 0) c = prefix(c)
      suffix(c)
    }
    def emit(code: Int): Unit = {
      val n = strlen(code)
      if (outPos + n > nOut) throw JpegBail
      var c = code
      var p = outPos + n - 1
      while (c >= 0) { out(p) = suffix(c); p -= 1; c = prefix(c) }
      outPos += n
    }
    var prev = -1
    while (outPos < nOut) {
      val code = read()
      if (code == clear) { dictSize = eoi + 1; width = mcs + 1; prev = -1 }
      else if (code == eoi) throw JpegBail // EOI before all pixels
      else {
        if (code > dictSize || code == eoi || (code == dictSize && prev < 0))
          throw JpegBail
        if (prev >= 0 && dictSize < 4096) {
          // new entry: prev's string + first char of this code's string
          // (for the KwKwK case code == dictSize, that first char is
          // prev's own first char — the entry being defined)
          val fc = if (code == dictSize) firstChar(prev) else firstChar(code)
          prefix(dictSize) = prev
          suffix(dictSize) = fc
          strlen(dictSize) = strlen(prev) + 1
          dictSize += 1
          if (dictSize == (1 << width) && width < 12) width += 1
        } else if (code == dictSize) throw JpegBail // KwKwK needs the add
        emit(code)
        prev = code
      }
    }
    out
  }

  /** GIF container metadata — struct(width, height, n_frames): the
    * logical-screen dimensions plus a count of ALL image descriptors: the
    * [[GifWalk]] visitor that decodes nothing (local color tables and LZW
    * data are SKIPPED by length), so animation length is a cheap header
    * pass while pixel decode stays first-frame ([[decodeGif]]'s
    * envelope). Null for non-GIF / malformed streams, for a stream with
    * no image before the trailer, and without a trailer (truncated stream
    * or a frame-count bomb past 2^20 images).
    */
  def gifMeta(bytes: Array[Byte]): InternalRow =
    try {
      val g = new GifWalk(bytes)
      if (g.sw <= 0 || g.sh <= 0) return null
      var frames = 0
      while (g.nextImage()) {
        frames += 1
        if (frames >= (1 << 20)) return null
      }
      if (frames == 0) null
      else new GenericInternalRow(Array[Any](g.sw, g.sh, frames))
    } catch { case _: RuntimeException => null }

  val GifMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** struct(width, height, channels, px_sum, px_min, px_max) over the
    * fully decoded GIF raster (same shape as [[pngStats]]); null outside
    * the envelope.
    */
  def gifStats(bytes: Array[Byte]): InternalRow = rasterStats(decodeGif(bytes))

  /** Multi-frame GIF COMPOSITING decode — the animation-aware path that
    * [[decodeGif]] (first-frame, full-screen-only) deliberately is not.
    * Each image descriptor renders onto the logical screen at its
    * (left, top) offset; the Graphic Control Extension preceding it
    * supplies per-frame transparency (indices equal to the transparent
    * index leave the underlying canvas pixel untouched) and the disposal
    * method applied AFTER the frame is displayed: 0/1 leave the canvas,
    * 2 restores the frame's rectangle to the background state —
    * TRANSPARENT, the universal modern-renderer convention (filling with
    * the header's background COLOR is a spec reading no browser follows)
    * — and 3 restores the canvas to its pre-frame state. The canvas
    * starts fully transparent. Result: struct(width, height,
    * frames: array of struct(px_sum, opaque, px_min, px_max)) where
    * frame k's row is measured after it renders and before its disposal
    * applies — px_sum sums R+G+B over OPAQUE canvas pixels, opaque
    * counts them, px_min/px_max range over their channel bytes (−1/−1
    * when no pixel is opaque). Null on: non-GIF, malformed/truncated
    * streams (trailer required), frames escaping the logical screen,
    * reserved disposal methods 4–7, LZW/palette errors, screens over
    * 16M pixels, or total composited work over 256M pixels (the
    * frame-count × screen-area bound).
    */
  def gifAnimStats(bytes: Array[Byte]): InternalRow =
    try {
      val c = gifComposite(bytes, stopAt = -1, collectStats = true)
      if (c == null) null
      else new GenericInternalRow(Array[Any](c.width, c.height,
        new GenericArrayData(c.stats.asInstanceOf[Array[Any]])))
    } catch { case _: RuntimeException => null }

  /** Extract composited frame `frame` of an animated GIF as an RGBA PNG
    * (alpha 255 on opaque canvas pixels, 0 on transparent) — the GIF
    * analogue of the MJPEG single-frame extract: the canvas state a
    * viewer displays at that frame, disposal methods and transparency
    * honored, re-encoded in the lossless landing format so downstream
    * stages replay byte-exactly. Frames past `frame` are SKIPPED by
    * their sub-block lengths (no LZW decode) but the walk still requires
    * the trailer — a truncated stream is null, like every decoder here.
    * Null outside [[gifAnimStats]]'s envelope or when the stream has
    * fewer than `frame`+1 images.
    */
  def gifFramePng(bytes: Array[Byte], frame: Int): Array[Byte] = {
    if (frame < 0) return null
    try {
      val c = gifComposite(bytes, stopAt = frame, collectStats = false)
      if (c == null || c.canvas == null) null
      else encodePng(canvasRaster(c.width, c.height, c.canvas, 4))
    } catch { case _: RuntimeException => null }
  }

  /** Result of the compositing visitor: per-frame stats rows (when
    * collected) and the canvas captured after frame `stopAt` rendered
    * (before its disposal), or the final canvas for stopAt = −1.
    */
  private final class GifComposite(val width: Int, val height: Int,
                                   val stats: Array[InternalRow],
                                   val canvas: Array[Int])

  /** The compositing [[GifWalk]] visitor both [[gifAnimStats]] (stopAt =
    * −1, stats collected per frame) and [[gifFramePng]] (stop after
    * `stopAt`, remaining image data skipped by length, structure still
    * enforced through the trailer) share. Null outside the envelope;
    * `canvas` is null when stopAt names a frame the stream does not have.
    */
  private def gifComposite(b: Array[Byte], stopAt: Int,
                           collectStats: Boolean): GifComposite = {
    val g = new GifWalk(b)
    val sw = g.sw; val sh = g.sh
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > 16L * 1024 * 1024) return null
    val canvas = Array.fill(sw * sh)(-1) // -1 = transparent, else 0xRRGGBB
    val frames = scala.collection.mutable.ArrayBuffer[InternalRow]()
    var captured: Array[Int] = null
    var rendered = 0
    while (g.nextImage()) {
      val pastStop = stopAt >= 0 && rendered > stopAt
      // bound TOTAL compositing work, not just the screen area
      if (!pastStop && (rendered + 1).toLong * sw * sh > 256L * 1024 * 1024)
        return null
      val left = g.left; val top = g.top; val iw = g.iw; val ih = g.ih
      if (g.badControl || iw <= 0 || ih <= 0 || left + iw > sw ||
          top + ih > sh || g.mcs < 2 || g.mcs > 8) return null
      if (!pastStop) {
        val snap = if (g.disposal == 3) canvas.clone() else null
        g.paint(canvas, g.trans)
        if (collectStats) {
          var sum = 0L; var opaque = 0; var mn = 255; var mx = 0
          var i = 0
          while (i < canvas.length) {
            val c = canvas(i)
            if (c >= 0) {
              opaque += 1
              val r = (c >> 16) & 0xff; val gr = (c >> 8) & 0xff
              val bb = c & 0xff
              sum += r + gr + bb
              if (r < mn) mn = r; if (gr < mn) mn = gr; if (bb < mn) mn = bb
              if (r > mx) mx = r; if (gr > mx) mx = gr; if (bb > mx) mx = bb
            }
            i += 1
          }
          if (opaque == 0) { mn = -1; mx = -1 }
          frames += new GenericInternalRow(Array[Any](sum, opaque, mn, mx))
        }
        if (rendered == stopAt) captured = canvas.clone()
        if (g.disposal == 2) {
          var y = 0
          while (y < ih) {
            java.util.Arrays.fill(canvas, (top + y) * sw + left,
              (top + y) * sw + left + iw, -1)
            y += 1
          }
        } else if (g.disposal == 3) {
          System.arraycopy(snap, 0, canvas, 0, canvas.length)
        }
      }
      rendered += 1
    }
    // a reserved disposal method anywhere, even after the last image, is
    // out of envelope
    if (g.badControl || rendered == 0) return null
    new GifComposite(sw, sh, frames.toArray,
      if (stopAt < 0) canvas else captured)
  }

  val GifAnimStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("frames", ArrayType(StructType(Seq(
      StructField("px_sum", LongType, nullable = false),
      StructField("opaque", IntegerType, nullable = false),
      StructField("px_min", IntegerType, nullable = false),
      StructField("px_max", IntegerType, nullable = false))),
      containsNull = false), nullable = false)))

  /** struct(width, height, channels, px_sum, px_min, px_max) over the
    * fully decoded JPEG raster (same shape as [[pngStats]]); null outside
    * the baseline envelope.
    */
  def jpegStats(bytes: Array[Byte]): InternalRow = rasterStats(decodeJpegAuto(bytes))

  /** Transcode: baseline JPEG decode → integer-floor nearest-neighbor
    * resize → PNG re-encode (the lossless landing format, so downstream
    * stages replay byte-exactly). null when the JPEG is not decodable.
    */
  def jpegResizeToPng(bytes: Array[Byte], dstW: Int, dstH: Int): Array[Byte] = {
    val r = decodeJpegAuto(bytes)
    if (r == null) null else encodePng(resizeNearest(r, dstW, dstH))
  }

  // ---------------- JPEG (header metadata only) ----------------

  /** JPEG frame-header metadata: struct(width, height, components),
    * null for non-JPEG or malformed streams. The segment walk [[jWalk]]
    * in its header-only mode: segments before the first SOF are skipped
    * by length (never parsed), and the SOF segment's fixed prefix carries
    * height/width/component count — no entropy decode, so this covers
    * dimension filtering, aspect gates, metadata columns and content-hash
    * dedup cheaply.
    *
    * Accepted SOF markers: C0–CF excluding C4 (DHT), C8 (JPG ext), CC
    * (DAC) — baseline, extended sequential, progressive, lossless, and
    * their arithmetic twins all share the frame-header layout. The walk
    * stops (returns null) at SOS or EOI without a SOF: entropy-coded data
    * may contain any byte sequence and must never be scanned for markers.
    */
  def jpegMeta(bytes: Array[Byte]): InternalRow =
    jRun(bytes, new JFrame(KMeta, false)).asInstanceOf[InternalRow]

  val JpegMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("components", IntegerType, nullable = false)))

  // ---------------- WAV ----------------

  private def leShort(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)).toShort.toInt
  private def leInt(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** The fixed tail (bytes 2..15) of the WAVE_FORMAT_EXTENSIBLE SubFormat
    * GUID {xxxxxxxx-0000-0010-8000-00AA00389B71}: the first two bytes are
    * the wrapped base format tag, the rest must match exactly.
    */
  private val ExtGuidTail = Array(
    0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
    0x00, 0xaa, 0x00, 0x38, 0x9b, 0x71).map(_.toByte)

  /** A WAV's RIFF `fmt `/`data` header, located once through the chunk
    * walk ([[RiffWalkHelper]]; LIST/fact chunks before `fmt ` are fine)
    * and read once for every layout below: `fo` and `dOff` are the 0-based
    * fmt and data payload offsets, `dataLen` the declared data length
    * clipped to the blob.
    */
  private final class WavFmt(b: Array[Byte], val fo: Int, val dOff: Int) {
    val fmtLen: Int = leInt(b, fo - 4)
    val codec: Int = leShort(b, fo)
    val channels: Int = leShort(b, fo + 2)
    val rate: Int = leInt(b, fo + 4)
    val blockAlign: Int = leShort(b, fo + 12)
    val bits: Int = leShort(b, fo + 14)
    val dataLen: Int =
      math.min(leInt(b, dOff - 4).toLong, (b.length - dOff).toLong).toInt
  }

  /** The [[WavFmt]] of a WAV blob; null without both chunks or when the
    * fmt payload is shorter than its 16 fixed bytes.
    */
  private def wavFmt(bytes: Array[Byte]): WavFmt = {
    val fmtOff = RiffWalkHelper.chunkDataOffset(bytes, 'f', 'm', 't', ' ')
    val dataOff = RiffWalkHelper.chunkDataOffset(bytes, 'd', 'a', 't', 'a')
    if (fmtOff < 0 || dataOff < 0) return null
    val fo = fmtOff.toInt - 1 // helper returns 1-based for SQL substr
    val dOff = dataOff.toInt - 1
    if (fo + 16 > bytes.length || dOff > bytes.length) null
    else new WavFmt(bytes, fo, dOff)
  }

  /** (dataOff0based, nSamples, sampleRate, channels, bits, codec) for
    * integer-PCM (codec 1, 8/16/24/32-bit), G.711 µ-law/A-law (codecs
    * 7/6, 8-bit), IEEE float32/float64 (codec 3), and WAVE_FORMAT_EXTENSIBLE
    * (0xFFFE) wrapping any of those — the returned codec is the EFFECTIVE
    * base format from the SubFormat GUID, so downstream sample access and
    * the codec-preserving frame sampler treat an extensible clip exactly
    * as its payload format. Null otherwise (no header, ADPCM, truncated
    * fmt, an unknown GUID).
    */
  private def pcmLayout(bytes: Array[Byte], f: WavFmt): Array[Int] = {
    if (f == null) return null
    val fo = f.fo
    var codec = f.codec
    if (codec == 0xFFFE || codec == -2) { // WAVE_FORMAT_EXTENSIBLE
      // fmt must carry the 22-byte extension; SubFormat GUID at +24
      if (f.fmtLen < 40 || fo + 40 > bytes.length) return null
      if (leShort(bytes, fo + 16) < 22) return null // cbSize
      var i = 0
      while (i < 14) {
        if (bytes(fo + 26 + i) != ExtGuidTail(i)) return null
        i += 1
      }
      codec = leShort(bytes, fo + 24) // wrapped base format
    }
    val bits = f.bits
    val ok = codec match {
      case 1     => bits == 8 || bits == 16 || bits == 24 || bits == 32
      case 3     => bits == 32 || bits == 64 // IEEE float single/double
      case 6 | 7 => bits == 8 // G.711 A-law / µ-law: one byte per sample
      case _     => false
    }
    if (!ok || f.channels < 1 || f.dataLen < 0) return null
    Array(f.dOff, f.dataLen / (bits / 8 * f.channels), f.rate, f.channels,
      bits, codec)
  }

  /** The one running statistic behind every WAV codec: sum, sum of
    * squares and peak over all samples, zero crossings over channel 0
    * (chained across ADPCM blocks). Sums are exact: one that leaves int64
    * throws ArithmeticException, which only 32-bit-scale PCM or hot float
    * can reach (|v| ≤ 2^15 on the ADPCM paths cannot overflow before
    * ~2^33 frames).
    */
  private final class WavAcc {
    private var sum = 0L; private var sq = 0L; private var peak = 0L
    private var zc = 0L
    private var prevNeg = false; private var c0Seen = false
    def add(v: Int, c: Int): Unit = {
      sum = Math.addExact(sum, v)
      sq = Math.addExact(sq, v.toLong * v.toLong) // |v| ≤ 2^31: the square fits
      val a = math.abs(v.toLong); if (a > peak) peak = a
      if (c == 0) {
        val neg = v < 0
        if (c0Seen && neg != prevNeg) zc += 1
        prevNeg = neg; c0Seen = true
      }
    }
    def row(frames: Long, rate: Int, bits: Int): InternalRow =
      new GenericInternalRow(Array[Any](frames, rate, sum, sq, peak, zc, bits))
  }

  /** G.711 µ-law byte → 13-bit-magnitude linear sample: the canonical
    * CCITT expansion (complement, rebias by 0x84, shift by the segment,
    * signed by the post-complement sign bit) — pure integer steps the
    * oracle replays.
    */
  def ulawToLinear(b0: Int): Int = {
    val u = (~b0) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte → linear sample: the canonical expansion (xor 0x55,
    * segment-scaled mantissa with the 8 / 0x108 low-segment biases).
    */
  def alawToLinear(b0: Int): Int = {
    val a = (b0 & 0xff) ^ 0x55
    val t0 = (a & 0x0f) << 4
    val seg = (a & 0x70) >> 4
    val t = seg match {
      case 0 => t0 + 8
      case 1 => t0 + 0x108
      case s => (t0 + 0x108) << (s - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  /** Sample `i` (interleaved index) at the given depth/codec. 8-bit WAV
    * PCM is UNSIGNED; it is reported center-zeroed (u8 − 128), the value
    * the sample represents. 16/24/32-bit are signed little-endian;
    * µ-law/A-law expand through the G.711 formulas. Float32 lands on the
    * 16-bit integer lattice as floor(f·2^15) — a power-of-two scale, so
    * float→double→product are all EXACT and an oracle replays the integer
    * bit-for-bit; NaN reports 0 and ±Inf/huge values clamp to the int
    * range (then trip the same overflow-null guard as hot 32-bit PCM).
    */
  private def pcmSample(b: Array[Byte], dOff: Int, bits: Int, codec: Int,
                        i: Int): Int =
    if (codec == 7) ulawToLinear(b(dOff + i) & 0xff)
    else if (codec == 6) alawToLinear(b(dOff + i) & 0xff)
    else if (codec == 3) {
      // float64 scales exactly too: multiplying any finite double by the
      // power of two 2^15 only shifts the exponent, so floor(d·2^15) is
      // the mathematically exact lattice value at either precision
      val d0 =
        if (bits == 64)
          java.lang.Double.longBitsToDouble(
            (leInt(b, dOff + 8 * i).toLong & 0xffffffffL) |
              (leInt(b, dOff + 8 * i + 4).toLong << 32))
        else java.lang.Float.intBitsToFloat(leInt(b, dOff + 4 * i)).toDouble
      val d = d0 * 32768.0
      if (d.isNaN) 0
      else if (d >= Int.MaxValue.toDouble) Int.MaxValue
      else if (d <= Int.MinValue.toDouble) Int.MinValue
      else math.floor(d).toInt
    }
    else bits match {
      case 8  => (b(dOff + i) & 0xff) - 128
      case 16 => leShort(b, dOff + 2 * i)
      case 24 =>
        val o = dOff + 3 * i
        ((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
          ((b(o + 2) & 0xff) << 16)) << 8 >> 8 // sign-extend 24 bits
      case _ => leInt(b, dOff + 4 * i)
    }

  /** struct(n_samples, sample_rate, pcm_sum, pcm_sqsum, pcm_peak, pcm_zc,
    * pcm_bits) over all PCM frames (all channels; zero crossings over
    * channel 0 only — the per-channel metric). Integer outputs for exact
    * oracle reproduction; RMS = sqrt(sqsum/n) downstream. The fmt/data
    * header is read once ([[wavFmt]]) and its codec picks the layout:
    * IMA/DVI ADPCM routes through [[wavAdpcmStats]], Microsoft ADPCM
    * through [[wavMsAdpcmStats]], everything else through [[pcmLayout]];
    * all three feed one [[WavAcc]]. Null for blobs outside the decode
    * envelope, and for a 32-bit or hot-float stream whose sum of squares
    * exceeds int64 (honest "can't represent" rather than a silent wrap —
    * only reachable at 32-bit-scale values: 24-bit squares can't overflow
    * any plausible clip length).
    */
  def wavPcmStats(bytes: Array[Byte]): InternalRow = {
    val f = wavFmt(bytes)
    if (f == null) return null
    if (f.codec == 0x11) return wavAdpcmStats(bytes, f)
    if (f.codec == 0x02) return wavMsAdpcmStats(bytes, f)
    val lay = pcmLayout(bytes, f)
    if (lay == null) return null
    val Array(dOff, n, rate, channels, bits, codec) = lay
    val acc = new WavAcc
    val total = n * channels
    var i = 0
    try {
      while (i < total) {
        acc.add(pcmSample(bytes, dOff, bits, codec, i), i % channels)
        i += 1
      }
    } catch { case _: ArithmeticException => return null }
    acc.row(n.toLong, rate, bits)
  }

  /** IMA/DVI ADPCM step-size table (IMA Digital Audio Compression and
    * Exchange recommendation, 1992 — the 89-entry table every IMA
    * decoder ships verbatim; also RFC 3551 §4.5.1's DVI4 lineage).
    */
  private val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Step-index adjustment per nibble magnitude (sign bit ignored). */
  private val ImaIndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One nibble through the IMA predictor: bit-serial difference
    * (`step>>3` plus the selected `step>>2`/`step>>1`/`step` terms — the
    * IMA recommendation's integer form, NOT the `(2m+1)·step/8` exact
    * product), int16 clamp, table-adjusted step index. Pure integer
    * steps the DuckDB oracle replays with a recursive CTE. Returns the
    * packed (pred << 8) | index so the caller threads both states.
    */
  private def imaStep(pred0: Int, idx0: Int, nib: Int): Int = {
    val step = ImaStep(idx0)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    var pred = if ((nib & 8) != 0) pred0 - diff else pred0 + diff
    if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
    var idx = idx0 + ImaIndexAdj(nib & 7)
    if (idx < 0) idx = 0 else if (idx > 88) idx = 88
    (pred << 8) | idx
  }

  /** [[wavPcmStats]] for IMA/DVI ADPCM (WAVE codec 0x11, 4-bit nibbles):
    * sequential block decode. Block structure per the IMA WAV mapping:
    * each `blockAlign`-byte block opens with one 4-byte header per
    * channel (int16 predictor = the channel's first output frame, uint8
    * step index, reserved byte), then 4-byte nibble groups round-robined
    * across channels (8 samples per group); every nibble (low half-byte
    * first) advances the channel's (predictor, step-index) recurrence one
    * frame. n_samples counts FRAMES; sum/sqsum/peak span all channels;
    * zero crossings chain over channel 0 across block boundaries (headers
    * included), matching the PCM path's semantics. pcm_bits reports the
    * STORAGE depth 4 (the fmt value), not the 16-bit decoded lattice.
    * Null unless the geometry is coherent — data a whole number of
    * blocks, the nibble region a whole number of channel rounds, and any
    * DECLARED wSamplesPerBlock (cbSize ≥ 2) equal to the computed
    * `1 + 2·(blockAlign − 4·ch)/ch` (a lying header is an honest null,
    * not a guess).
    */
  def wavAdpcmStats(bytes: Array[Byte]): InternalRow =
    wavAdpcmStats(bytes, wavFmt(bytes))

  private def wavAdpcmStats(bytes: Array[Byte], f: WavFmt): InternalRow = {
    if (f == null || f.codec != 0x11 || f.bits != 4 || f.channels < 1)
      return null
    val fo = f.fo; val dOff = f.dOff; val dataLen = f.dataLen
    val channels = f.channels; val blockAlign = f.blockAlign
    val head = 4 * channels
    if (blockAlign <= head || (blockAlign - head) % (4 * channels) != 0)
      return null
    if (f.fmtLen >= 20 && fo + 20 <= bytes.length &&
        leShort(bytes, fo + 16) >= 2 &&
        leShort(bytes, fo + 18) != 1 + 2 * (blockAlign - head) / channels)
      return null
    if (dataLen <= 0 || dataLen % blockAlign != 0) return null
    val groupsPerBlock = (blockAlign - 4 * channels) / (4 * channels)
    val acc = new WavAcc
    var frames = 0L
    val pred = new Array[Int](channels)
    val idx = new Array[Int](channels)
    var bo = dOff
    while (bo < dOff + dataLen) {
      var c = 0
      while (c < channels) {
        pred(c) = leShort(bytes, bo + 4 * c)
        val si = bytes(bo + 4 * c + 2) & 0xff
        if (si > 88) return null
        idx(c) = si
        // header predictor = the channel's first frame of this block
        acc.add(pred(c), c)
        c += 1
      }
      frames += 1
      var g = 0
      while (g < groupsPerBlock) {
        c = 0
        while (c < channels) {
          val go = bo + 4 * channels + (g * channels + c) * 4
          var bi = 0
          while (bi < 4) {
            val byt = bytes(go + bi) & 0xff
            var half = 0
            while (half < 2) {
              val nib = if (half == 0) byt & 0x0f else byt >> 4
              val packed = imaStep(pred(c), idx(c), nib)
              pred(c) = packed >> 8
              idx(c) = packed & 0xff
              acc.add(pred(c), c)
              half += 1
            }
            bi += 1
          }
          c += 1
        }
        frames += 8
        g += 1
      }
      bo += blockAlign
    }
    acc.row(frames, f.rate, 4)
  }

  /** Microsoft ADPCM adaptation table (the WAVE spec's 16-entry delta
    * scaler, indexed by the UNSIGNED nibble; public in every codec
    * reference from the Win3.1 multimedia standards update onward).
    */
  private val MsAdapt: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  /** Hostile-stream delta bound: the adaptation step multiplies delta by
    * up to 3 per nibble, so a crafted stream can grow it without limit
    * (the format never clamps it upward). No legitimate encoder exceeds
    * a few times the int16 range — 2^24 is a documented fail-fast bound,
    * the same honest-null discipline as the 32-bit PCM sqsum guard.
    */
  private val MsMaxDelta = 1L << 24

  /** [[wavPcmStats]] for Microsoft ADPCM (WAVE codec 0x02, 4-bit signed
    * nibbles). fmt must carry the full extension — wSamplesPerBlock,
    * wNumCoef and the wNumCoef (iCoef1, iCoef2) int16 pairs the
    * bitstream's bPredictor indexes select (an in-stream table, like DHT:
    * the standard 7 pairs are what encoders write, but the DECLARED table
    * is what decodes). Per block, the 7-byte-per-channel header
    * (bPredictor bytes, then iDelta, iSamp1, iSamp2 int16 runs, each field
    * grouped across channels) emits iSamp2 as frame 0 and iSamp1 as frame
    * 1 — the OLDER sample first, the documented output order — then each
    * SIGNED nibble advances the channel's (samp1, samp2, delta)
    * recurrence: pred = trunc((samp1·c1 + samp2·c2)/256) + nib·delta,
    * int16 clamp, delta = max(16, trunc(Adapt[u]·delta/256)). HIGH nibble
    * first; for stereo each byte is one frame (high = channel 0). Every
    * step is trunc-toward-zero integer arithmetic (Java `/` == DuckDB
    * `//`), so the oracle replays the recurrence exactly. n_samples counts
    * FRAMES; zero crossings chain over channel 0 across blocks; pcm_bits
    * reports the storage depth 4, like the IMA path. Geometry
    * honest-nulls: channels beyond stereo (the nibble interleave is only
    * defined for 1–2), a declared wSamplesPerBlock that disagrees with
    * `2 + 2·(blockAlign − 7·ch)/ch`, ragged data, a truncated coefficient
    * table.
    */
  def wavMsAdpcmStats(bytes: Array[Byte]): InternalRow =
    wavMsAdpcmStats(bytes, wavFmt(bytes))

  private def wavMsAdpcmStats(bytes: Array[Byte], f: WavFmt): InternalRow = {
    if (f == null || f.codec != 0x02 || f.bits != 4) return null
    val fo = f.fo; val dOff = f.dOff; val dataLen = f.dataLen
    val fmtLen = f.fmtLen
    val channels = f.channels; val blockAlign = f.blockAlign
    if (channels < 1 || channels > 2) return null
    val head = 7 * channels
    if (blockAlign <= head) return null
    // full extension required: cbSize, wSamplesPerBlock, wNumCoef, pairs
    if (fmtLen < 22 || fo + 22 > bytes.length) return null
    val cbSize = leShort(bytes, fo + 16)
    if (cbSize < 4) return null
    val declared = leShort(bytes, fo + 18)
    if (declared != 2 + 2 * (blockAlign - head) / channels) return null
    // the cbSize extension must FIT the fmt chunk (cbSize <= fmtLen-18)
    // and the coefficient table must lie inside it — otherwise a crafted
    // fmtLen/cbSize mismatch reads the next RIFF chunk's bytes as iCoef
    // pairs: no out-of-range read, but a garbage decode instead of the
    // honest null the table-truncation doc promises
    if (cbSize > fmtLen - 18) return null
    val numCoef = leShort(bytes, fo + 20)
    if (numCoef < 1 || cbSize < 4 + 4 * numCoef ||
        fmtLen < 22 + 4 * numCoef ||
        fo + 22 + 4 * numCoef > bytes.length) return null
    if (dataLen <= 0 || dataLen % blockAlign != 0) return null
    val coefOff = fo + 22
    val acc = new WavAcc
    var frames = 0L
    val s1 = new Array[Int](channels)
    val s2 = new Array[Int](channels)
    val delta = new Array[Long](channels)
    val c1 = new Array[Int](channels)
    val c2 = new Array[Int](channels)
    var bo = dOff
    while (bo < dOff + dataLen) {
      var c = 0
      while (c < channels) {
        val pi = bytes(bo + c) & 0xff
        if (pi >= numCoef) return null
        c1(c) = leShort(bytes, coefOff + 4 * pi)
        c2(c) = leShort(bytes, coefOff + 4 * pi + 2)
        delta(c) = leShort(bytes, bo + channels + 2 * c).toLong
        s1(c) = leShort(bytes, bo + 3 * channels + 2 * c)
        s2(c) = leShort(bytes, bo + 5 * channels + 2 * c)
        c += 1
      }
      // header samples, older first: frame 0 = iSamp2, frame 1 = iSamp1
      c = 0; while (c < channels) { acc.add(s2(c), c); c += 1 }
      c = 0; while (c < channels) { acc.add(s1(c), c); c += 1 }
      frames += 2
      val nibBytes = blockAlign - 7 * channels
      var j = 0
      while (j < nibBytes) {
        var half = 0
        while (half < 2) {
          val u = if (half == 0) (bytes(bo + 7 * channels + j) & 0xff) >> 4
                  else bytes(bo + 7 * channels + j) & 0x0f
          val ch = if (channels == 2) half else 0
          val nib = if (u >= 8) u - 16 else u
          val pred0 = (s1(ch).toLong * c1(ch) + s2(ch).toLong * c2(ch)) / 256 +
            nib * delta(ch)
          val pred = if (pred0 > 32767) 32767
                     else if (pred0 < -32768) -32768 else pred0.toInt
          s2(ch) = s1(ch); s1(ch) = pred
          delta(ch) = math.max(16L, MsAdapt(u) * delta(ch) / 256)
          if (delta(ch) > MsMaxDelta) return null
          acc.add(pred, ch)
          if (channels == 1 || half == 1) frames += 1
          half += 1
        }
        j += 1
      }
      bo += blockAlign
    }
    acc.row(frames, f.rate, 4)
  }

  val WavPcmStatsType: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("pcm_sum", LongType, nullable = false),
    StructField("pcm_sqsum", LongType, nullable = false),
    StructField("pcm_peak", LongType, nullable = false),
    StructField("pcm_zc", LongType, nullable = false),
    StructField("pcm_bits", IntegerType, nullable = false)))

  /** Keep every `step`-th PCM frame (frame 0, step, 2·step, …) — the audio
    * analogue of video frame-sampling — re-emitted as a canonical
    * RIFF/fmt/data WAV at the original sample rate and depth. An
    * extensible clip re-emits as its EFFECTIVE base format (values are
    * raw-byte-identical; only the wrapper simplifies). null for blobs
    * outside the audio envelope (ADPCM).
    */
  def wavFrameSample(bytes: Array[Byte], step: Int): Array[Byte] = {
    if (step <= 0) return null
    val lay = pcmLayout(bytes, wavFmt(bytes))
    if (lay == null) return null
    val Array(dOff, n, rate, channels, bits, codec) = lay
    val bp = bits / 8
    val kept = (n + step - 1) / step
    val dataLen = kept * bp * channels
    // the SOURCE codec rides along: raw sample bytes are copied verbatim,
    // so a µ-law clip must re-emit as µ-law or its values change meaning.
    // Non-PCM codecs additionally carry the spec-required cbSize=0 fmt
    // extension and a fact chunk (WAVE requires both for codec != 1) —
    // the in-repo walk tolerates their absence, strict consumers don't.
    val pcm = codec == 1
    val fmtLen = if (pcm) 16 else 18
    val factLen = if (pcm) 0 else 12 // tag+size+nSamples
    val headLen = 12 + 8 + fmtLen + factLen + 8
    val out = new Array[Byte](headLen + dataLen)
    var o = 0
    def putLe(v: Int, len: Int): Unit = {
      var i = 0
      while (i < len) { out(o + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
      o += len
    }
    def putTag(s: String): Unit = {
      var i = 0
      while (i < 4) { out(o + i) = s.charAt(i).toByte; i += 1 }
      o += 4
    }
    putTag("RIFF"); putLe(headLen - 8 + dataLen, 4); putTag("WAVE")
    putTag("fmt "); putLe(fmtLen, 4)
    putLe(codec, 2); putLe(channels, 2)
    putLe(rate, 4); putLe(rate * bp * channels, 4)
    putLe(bp * channels, 2); putLe(bits, 2)
    if (!pcm) {
      putLe(0, 2) // cbSize = 0
      putTag("fact"); putLe(4, 4); putLe(kept, 4)
    }
    putTag("data"); putLe(dataLen, 4)
    var f = 0
    while (f < n) {
      var c = 0
      while (c < channels * bp) {
        out(o) = bytes(dOff + f * channels * bp + c)
        o += 1; c += 1
      }
      f += step
    }
    out
  }
}

/** The one Catalyst expression behind every media helper: `helper(blob,
  * args*)`, where `helper` is the fully qualified name of a static method
  * of [[MediaCodecHelper]] or [[AviCodecHelper]] that takes the binary
  * child plus the int literal `args` and returns a `dataType` value, or
  * null when the blob is outside its envelope. Codegen emits one static
  * call per value, so decode/resize/feature-extract stay inside
  * whole-stage codegen and scale as a map over the binary column; the
  * interpreted path invokes the same method reflectively. `name` is the
  * prettyName, which also names an unaliased output column. The int
  * arguments are not children: they print in plans but not in column
  * names.
  */
case class MediaCall(child: Expression, helper: String, name: String,
                     args: Seq[Int], dataType: DataType) extends UnaryExpression {
  override def nullable: Boolean = true
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ args

  @transient private lazy val method = {
    val dot = helper.lastIndexOf('.')
    Class.forName(helper.take(dot)).getMethod(helper.drop(dot + 1),
      classOf[Array[Byte]] +: args.map(_ => classOf[Int]): _*)
  }

  override def nullSafeEval(input: Any): Any =
    try method.invoke(null, (input.asInstanceOf[AnyRef] +: args.map(Int.box)): _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $helper($c${args.map(a => s", $a").mkString});
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MediaCall =
    copy(child = newChild)
}

/** Every media helper as a [[MediaCall]], with its prettyName. The Column
  * API (`ops.Multimodal`) and the SQL functions (`GraftExtensions`) both
  * build their expressions here.
  */
object MediaCall {
  private val M = "graft.expr.MediaCodecHelper."
  private val A = "graft.expr.AviCodecHelper."
  import MediaCodecHelper.{GifAnimStatsType, GifMetaType, Jpeg12StatsType,
    JpegLosslessStatsType, JpegMetaType, PngStatsType, WavPcmStatsType}

  def pngStats(c: Expression): MediaCall =
    MediaCall(c, M + "pngStats", "graft_png_stats", Nil, PngStatsType)
  def png16Stats(c: Expression): MediaCall =
    MediaCall(c, M + "png16Stats", "graft_png16_stats", Nil, PngStatsType)
  def gifStats(c: Expression): MediaCall =
    MediaCall(c, M + "gifStats", "graft_gif_stats", Nil, PngStatsType)
  def jpegStats(c: Expression): MediaCall =
    MediaCall(c, M + "jpegStats", "graft_jpeg_stats", Nil, PngStatsType)
  def jpeg12Stats(c: Expression): MediaCall =
    MediaCall(c, M + "jpeg12Stats", "graft_jpeg12_stats", Nil, Jpeg12StatsType)
  def jpegLosslessStats(c: Expression): MediaCall =
    MediaCall(c, M + "jpegLosslessStats", "graft_jpeg_lossless_stats", Nil,
      JpegLosslessStatsType)
  def jpegMeta(c: Expression): MediaCall =
    MediaCall(c, M + "jpegMeta", "graft_jpeg_meta", Nil, JpegMetaType)
  def gifMeta(c: Expression): MediaCall =
    MediaCall(c, M + "gifMeta", "graft_gif_meta", Nil, GifMetaType)
  def gifAnimStats(c: Expression): MediaCall =
    MediaCall(c, M + "gifAnimStats", "graft_gif_anim_stats", Nil, GifAnimStatsType)
  def wavPcmStats(c: Expression): MediaCall =
    MediaCall(c, M + "wavPcmStats", "graft_wav_pcm_stats", Nil, WavPcmStatsType)
  def aviMeta(c: Expression): MediaCall =
    MediaCall(c, A + "aviMeta", "graft_avi_meta", Nil, AviCodecHelper.AviMetaType)

  private def resize(c: Expression, helper: String, name: String,
                     w: Int, h: Int): MediaCall = {
    require(w > 0 && h > 0, s"bad resize target ${w}x$h")
    MediaCall(c, helper, name, Seq(w, h), BinaryType)
  }
  def pngResizeNearest(c: Expression, w: Int, h: Int): MediaCall =
    resize(c, M + "pngResizeNearest", "graft_png_resize", w, h)
  def png16ResizeNearest(c: Expression, w: Int, h: Int): MediaCall =
    resize(c, M + "png16ResizeNearest", "graft_png16_resize", w, h)
  def jpegResizeToPng(c: Expression, w: Int, h: Int): MediaCall =
    resize(c, M + "jpegResizeToPng", "graft_jpeg_resize_png", w, h)

  def gifFramePng(c: Expression, frame: Int): MediaCall = {
    require(frame >= 0, s"bad frame index $frame")
    MediaCall(c, M + "gifFramePng", "graft_gif_frame_png", Seq(frame), BinaryType)
  }
  def wavFrameSample(c: Expression, step: Int): MediaCall = {
    require(step > 0, s"bad frame-sample step $step")
    MediaCall(c, M + "wavFrameSample", "graft_wav_frame_sample", Seq(step), BinaryType)
  }
  def mjpegStats(c: Expression, step: Int): MediaCall = {
    require(step > 0, s"bad frame-sample step $step")
    MediaCall(c, A + "mjpegStats", "graft_mjpeg_stats", Seq(step),
      AviCodecHelper.MjpegStatsType)
  }
  def mjpegFrame(c: Expression, idx: Int): MediaCall = {
    require(idx >= 0, s"bad frame index $idx")
    MediaCall(c, A + "mjpegFrame", "graft_mjpeg_frame", Seq(idx), BinaryType)
  }
}
