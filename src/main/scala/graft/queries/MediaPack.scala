package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Multimodal

/** Multimodal-column queries: binary image/audio fixtures generated
  * per-document (valid PNG/WAV bytes), metadata extracted back by the
  * codegen'd header parsers, and content-hash dedup over the binary
  * column. Every extracted value is a pure function of doc_id, so the
  * DuckDB oracle is plain arithmetic — the PNG/WAV construction and
  * parsing must round-trip exactly for the hashes to match.
  */
object MediaPack {

  /** Shared blob fixture: per-doc PNG/WAV generation (UDFs — test-data
    * construction, not an operator path) lands in a snapshot once via the
    * job cache; every media query reads the same snapshot. Pixel (x,y) =
    * (x*31+y*17)%256, sample i = (i%256)*128-16384 — pure functions of
    * doc_id, so oracles are plain arithmetic.
    */
  private def mediaBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_blobs") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("img", Multimodal.makePng(
          (lit(16) + col("doc_id") % 32).cast("int"),
          (lit(9) + col("doc_id") % 7).cast("int")))
        .withColumn("wav", Multimodal.makeWav(
          (lit(8000) + (col("doc_id") % 3) * 4000).cast("int"),
          (lit(100) + col("doc_id") % 50).cast("int")))
        .withColumn("rgb", Multimodal.makeRgbPng(
          (lit(8) + col("doc_id") % 16).cast("int"),
          (lit(5) + col("doc_id") % 5).cast("int")))
        .withColumn("jpg", Multimodal.makeJpeg(
          (lit(24) + col("doc_id") % 40).cast("int"),
          (lit(12) + col("doc_id") % 11).cast("int"),
          (lit(1) + (col("doc_id") % 2) * 2).cast("int")))
        .withColumn("jpgg", Multimodal.makeGrayJpeg(col("doc_id")))
        .withColumn("jpgc", Multimodal.makeColorJpeg(col("doc_id")))
        .withColumn("jpgp", Multimodal.makeGrayProgressiveJpeg(col("doc_id")))
        .withColumn("jpcp", Multimodal.makeColorProgressiveJpeg(col("doc_id")))
        .withColumn("jpgs", Multimodal.makeSeqJpeg(col("doc_id")))
        .withColumn("gif", Multimodal.makeGif(col("doc_id"))),
        "mm_media", slices = 8)
      Map("blobs" -> "mm_media")
    }
    store.readResolved("mm_media")
  }

  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    // the timed/verified work is the codegen'd header extraction below
    val media = mediaBlobs(s, dir)
    val meta = media.select(col("doc_id"),
      Multimodal.mediaType(col("img")).as("img_type"),
      Multimodal.pngWidth(col("img")).as("img_w"),
      Multimodal.pngHeight(col("img")).as("img_h"),
      Multimodal.wavSampleRate(col("wav")).as("wav_rate"),
      Multimodal.wavDurationMs(col("wav")).as("wav_ms"),
      Multimodal.mediaType(col("jpg")).as("jpg_type"),
      Multimodal.jpegWidth(col("jpg")).as("jpg_w"),
      Multimodal.jpegHeight(col("jpg")).as("jpg_h"),
      Multimodal.jpegComponents(col("jpg")).as("jpg_ch"),
      Multimodal.mediaType(col("gif")).as("gif_type"),
      Multimodal.contentFingerprint(col("img")).as("img_fp"))
    val dups = meta.groupBy("img_fp").agg(count(lit(1)).as("img_dups"))
    meta.join(dups, "img_fp")
      .select(col("doc_id"), col("img_type"), col("img_w"), col("img_h"),
        col("wav_rate"), col("wav_ms"), col("jpg_type"), col("jpg_w"),
        col("jpg_h"), col("jpg_ch"), col("gif_type"), col("img_dups"))
  }

  /** REAL decode round-trip: PNG pixels via inflate+unfilter (pngStats),
    * nearest-neighbor resize re-encoded and decoded AGAIN (two decodes +
    * one encode round-trip), WAV PCM stats via the RIFF walk, and
    * every-4th-frame audio decimation re-encoded and re-analyzed. Every
    * output is integer channel/sample arithmetic the DuckDB oracle
    * reproduces from the fixture formulas — so a hash match proves the
    * decoder, the filters, the resampler and the re-encoder are all
    * byte-exact. All work is codegen'd per-value scan-side map; no
    * shuffle, no UDF.
    */
  def codecRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val media = mediaBlobs(s, dir)
    val img = Multimodal.decodeImage(col("img"))
    val rs = Multimodal.decodeImage(Multimodal.imageResize(col("img"), 8, 8))
    val pcm = Multimodal.audioFeatures(col("wav"))
    val fs = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("wav"), 4))
    val rgb = Multimodal.decodeImage(col("rgb"))
    // full baseline JPEG decodes: gray with the AC seed block + restart
    // markers, 4:2:0 color through upsample + YCbCr→RGB, and the
    // JPEG→resize→PNG transcode decoded AGAIN by the PNG path — three
    // independent layers must agree byte-exactly for the hash to match
    val jg = Multimodal.decodeJpeg(col("jpgg"))
    val jc = Multimodal.decodeJpeg(col("jpgc"))
    val jr = Multimodal.decodeImage(Multimodal.jpegResizePng(col("jpgg"), 8, 8))
    // PROGRESSIVE (SOF2) decodes: gray through six scans (spectral bands,
    // Al=1 successive approximation, restarts in every scan) and 4:2:0
    // color through interleaved-DC + per-component AC scans — the
    // multi-scan coefficient reassembly must reproduce the same exact
    // integers as the baseline path for the hash to match
    val jp = Multimodal.decodeJpeg(col("jpgp"))
    val jpc = Multimodal.decodeJpeg(col("jpcp"))
    // SEQUENTIAL MULTI-SCAN decode: the same 4:2:0 frame split across a
    // non-interleaved Y scan and an interleaved Cb+Cr scan (T.81's other
    // legal baseline layout)
    val jsq = Multimodal.decodeJpeg(col("jpgs"))
    // GIF decode: LZW + 16-color palette, interlaced on odd doc ids —
    // one oracle covers both row orders because the raster is identical
    val gif = Multimodal.decodeGif(col("gif"))
    media.select(col("doc_id"),
      img.getField("width").cast("long").as("img_w"),
      img.getField("height").cast("long").as("img_h"),
      img.getField("px_sum").as("px_sum"),
      img.getField("px_min").cast("long").as("px_min"),
      img.getField("px_max").cast("long").as("px_max"),
      rs.getField("px_sum").as("rs_sum"),
      pcm.getField("n_samples").as("wav_n"),
      pcm.getField("pcm_sum").as("pcm_sum"),
      pcm.getField("pcm_sqsum").as("pcm_sqsum"),
      pcm.getField("pcm_peak").cast("long").as("pcm_peak"),
      fs.getField("pcm_sum").as("fs_sum"),
      rgb.getField("channels").cast("long").as("rgb_ch"),
      rgb.getField("px_sum").as("rgb_sum"),
      jg.getField("width").cast("long").as("jg_w"),
      jg.getField("height").cast("long").as("jg_h"),
      jg.getField("px_sum").as("jg_sum"),
      jg.getField("px_min").cast("long").as("jg_min"),
      jg.getField("px_max").cast("long").as("jg_max"),
      jc.getField("channels").cast("long").as("jc_ch"),
      jc.getField("px_sum").as("jc_sum"),
      jc.getField("px_min").cast("long").as("jc_min"),
      jc.getField("px_max").cast("long").as("jc_max"),
      jr.getField("px_sum").as("jr_sum"),
      jp.getField("width").cast("long").as("jp_w"),
      jp.getField("height").cast("long").as("jp_h"),
      jp.getField("px_sum").as("jp_sum"),
      jp.getField("px_min").cast("long").as("jp_min"),
      jp.getField("px_max").cast("long").as("jp_max"),
      jpc.getField("channels").cast("long").as("jpc_ch"),
      jpc.getField("px_sum").as("jpc_sum"),
      jpc.getField("px_min").cast("long").as("jpc_min"),
      jpc.getField("px_max").cast("long").as("jpc_max"),
      jsq.getField("width").cast("long").as("js_w"),
      jsq.getField("px_sum").as("js_sum"),
      jsq.getField("px_min").cast("long").as("js_min"),
      jsq.getField("px_max").cast("long").as("js_max"),
      gif.getField("width").cast("long").as("gif_w"),
      gif.getField("height").cast("long").as("gif_h"),
      gif.getField("px_sum").as("gif_sum"),
      gif.getField("px_min").cast("long").as("gif_min"),
      gif.getField("px_max").cast("long").as("gif_max"))
  }

  /** Widened-PNG-envelope fixture (palette / tRNS-alpha / gray+alpha /
    * RGBA, Adam7-interlaced on deterministic id classes, filters
    * alternating None/Sub per row) — written by the independent
    * pngEnvelopeBytes writer, memoized separately from the original blob
    * snapshot so that snapshot stays byte-identical.
    */
  private def pngEnvelopeBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_png2") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("p3", Multimodal.makePalPng(col("doc_id")))
        .withColumn("p3a", Multimodal.makePalAlphaPng(col("doc_id")))
        .withColumn("ga", Multimodal.makeGrayAlphaPng(col("doc_id")))
        .withColumn("ra", Multimodal.makeRgbaPng(col("doc_id"))),
        "mm_png2", slices = 8)
      Map("blobs" -> "mm_png2")
    }
    store.readResolved("mm_png2")
  }

  /** REAL decode over the widened PNG envelope — the layouts that
    * dominate scraped web corpora: palette (PLTE lookup), palette+tRNS
    * (RGBA expansion with the spec's default-255 rule beyond the tRNS
    * array), gray+alpha, RGBA, each Adam7-interlaced on a deterministic
    * subset of ids (so BOTH row orders hash into the same gate), with
    * scanline filters alternating None/Sub. The RGBA lane additionally
    * round-trips resize → re-encode (type 6) → second decode. Every
    * output is integer channel arithmetic the DuckDB oracle replays from
    * the fixture formulas. All work codegen'd scan-side; no shuffle.
    */
  def pngEnvelope(s: SparkSession, dir: String): DataFrame = {
    val media = pngEnvelopeBlobs(s, dir)
    val p3 = Multimodal.decodeImage(col("p3"))
    val p3a = Multimodal.decodeImage(col("p3a"))
    val ga = Multimodal.decodeImage(col("ga"))
    val ra = Multimodal.decodeImage(col("ra"))
    val rz = Multimodal.decodeImage(Multimodal.imageResize(col("ra"), 6, 6))
    media.select(col("doc_id"),
      p3.getField("channels").cast("long").as("p3_ch"),
      p3.getField("px_sum").as("p3_sum"),
      p3.getField("px_min").cast("long").as("p3_min"),
      p3.getField("px_max").cast("long").as("p3_max"),
      p3a.getField("channels").cast("long").as("p3a_ch"),
      p3a.getField("px_sum").as("p3a_sum"),
      p3a.getField("px_min").cast("long").as("p3a_min"),
      p3a.getField("px_max").cast("long").as("p3a_max"),
      ga.getField("channels").cast("long").as("ga_ch"),
      ga.getField("px_sum").as("ga_sum"),
      ga.getField("px_min").cast("long").as("ga_min"),
      ga.getField("px_max").cast("long").as("ga_max"),
      ra.getField("channels").cast("long").as("ra_ch"),
      ra.getField("px_sum").as("ra_sum"),
      ra.getField("px_min").cast("long").as("ra_min"),
      ra.getField("px_max").cast("long").as("ra_max"),
      rz.getField("px_sum").as("rz_sum"))
  }

  /** AVI/MJPEG fixture: one container per document (own RIFF writer,
    * frames from the fixture-side JPEG encoder — zero shared code with
    * the production walk/decoder), memoized separately from the
    * image/audio blobs so their snapshots stay byte-identical.
    */
  private def videoBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_avi") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("avi", Multimodal.makeAviMjpeg(col("doc_id"))),
        "mm_avi", slices = 8)
      Map("blobs" -> "mm_avi")
    }
    store.readResolved("mm_avi")
  }

  /** REAL video decode round-trip (MJPEG-in-AVI): container metadata via
    * the bounded RIFF list walk (frame count from the movi walk, not the
    * advisory header), every-2nd-frame sampling decoded through the full
    * baseline JPEG path and aggregated, and frame 1 extracted → resized →
    * PNG-transcoded → decoded AGAIN by the PNG path (container walk, JPEG
    * decoder, resampler, PNG round-trip all pinned in one composed plan).
    * Every output is integer arithmetic on doc_id the DuckDB oracle
    * replays from the fixture formulas. All work is codegen'd scan-side
    * map; no shuffle, no UDF in the decode path.
    */
  def videoFrames(s: SparkSession, dir: String): DataFrame = {
    val media = videoBlobs(s, dir)
    val meta = Multimodal.videoMeta(col("avi"))
    val vs = Multimodal.videoFrameStats(col("avi"), 2)
    val vf = Multimodal.decodeImage(
      Multimodal.jpegResizePng(Multimodal.videoFrame(col("avi"), 1), 8, 8))
    media.select(col("doc_id"),
      meta.getField("width").cast("long").as("v_w"),
      meta.getField("height").cast("long").as("v_h"),
      meta.getField("n_frames").cast("long").as("v_frames"),
      meta.getField("usec_per_frame").cast("long").as("v_usec"),
      meta.getField("handler").as("v_handler"),
      vs.getField("n_sampled").cast("long").as("vs_sampled"),
      vs.getField("n_decoded").cast("long").as("vs_decoded"),
      vs.getField("px_sum").as("vs_sum"),
      vs.getField("px_min").cast("long").as("vs_min"),
      vs.getField("px_max").cast("long").as("vs_max"),
      vf.getField("px_sum").as("vf_sum"))
  }

  /** Audio-depth fixture: mono integer-PCM WAVs at 8, 24 and 32 bits
    * from the independent depth writer, memoized separately from the
    * original blob snapshot.
    */
  private def audioDepthBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_wav2") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("w8", Multimodal.makeWav8(col("doc_id")))
        .withColumn("w24", Multimodal.makeWav24(col("doc_id")))
        .withColumn("w32", Multimodal.makeWav32(col("doc_id"))),
        "mm_wav2", slices = 8)
      Map("blobs" -> "mm_wav2")
    }
    store.readResolved("mm_wav2")
  }

  /** REAL decode across the widened audio envelope: 8-bit (unsigned
    * storage, center-zeroed values), 24-bit (sign-extended 3-byte LE)
    * and 32-bit integer PCM, each through the RIFF walk, with the
    * integer-exact per-clip features — energy (sum of squares, RMS's
    * numerator) and channel-0 zero-crossing count — plus an
    * every-3rd-frame decimation of the 24-bit lane re-encoded at depth
    * and re-analyzed (pins the depth-generic frame sampler + re-encoder).
    * All outputs are closed-form integer functions of doc_id the DuckDB
    * oracle replays. Codegen'd scan-side; no shuffle.
    */
  def audioDepth(s: SparkSession, dir: String): DataFrame = {
    val media = audioDepthBlobs(s, dir)
    val a8 = Multimodal.audioFeatures(col("w8"))
    val a24 = Multimodal.audioFeatures(col("w24"))
    val a32 = Multimodal.audioFeatures(col("w32"))
    val fs = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("w24"), 3))
    media.select(col("doc_id"),
      a8.getField("n_samples").as("a8_n"),
      a8.getField("pcm_bits").cast("long").as("a8_bits"),
      a8.getField("pcm_sum").as("a8_sum"),
      a8.getField("pcm_sqsum").as("a8_sqsum"),
      a8.getField("pcm_peak").as("a8_peak"),
      a8.getField("pcm_zc").as("a8_zc"),
      a24.getField("n_samples").as("a24_n"),
      a24.getField("pcm_bits").cast("long").as("a24_bits"),
      a24.getField("pcm_sum").as("a24_sum"),
      a24.getField("pcm_sqsum").as("a24_sqsum"),
      a24.getField("pcm_peak").as("a24_peak"),
      a24.getField("pcm_zc").as("a24_zc"),
      a32.getField("n_samples").as("a32_n"),
      a32.getField("pcm_bits").cast("long").as("a32_bits"),
      a32.getField("pcm_sum").as("a32_sum"),
      a32.getField("pcm_sqsum").as("a32_sqsum"),
      a32.getField("pcm_peak").as("a32_peak"),
      a32.getField("pcm_zc").as("a32_zc"),
      fs.getField("n_samples").as("fs_n"),
      fs.getField("pcm_sum").as("fs_sum"))
  }

  /** 16-bit PNG fixture (gray16 + RGB16, Adam7 on deterministic id
    * classes, byte-level Sub filters on odd rows), memoized separately.
    */
  private def png16Blobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_png3") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("g16", Multimodal.makeGray16Png(col("doc_id")))
        .withColumn("c16", Multimodal.makeRgb16Png(col("doc_id"))),
        "mm_png3", slices = 8)
      Map("blobs" -> "mm_png3")
    }
    store.readResolved("mm_png3")
  }

  /** 16-bit COLOR-KEY fixture (r17, its own memoized store — the png3
    * snapshot stays byte-identical): gray16 + tRNS key and RGB16 + tRNS
    * key from the independent writer.
    */
  private def png16KeyBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_png4") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("k16", Multimodal.makeGray16KeyPng(col("doc_id")))
        .withColumn("ck16", Multimodal.makeRgb16KeyPng(col("doc_id"))),
        "mm_png4", slices = 8)
      Map("blobs" -> "mm_png4")
    }
    store.readResolved("mm_png4")
  }

  /** 16-BIT PNG decode statistics — the scientific/depth-image layouts:
    * full-precision sums/extrema over the big-endian 16-bit samples
    * (PNG filters operate on BYTES, so the Sub rows here prove the
    * byte-level filter math holds when a sample spans two bytes), gray16
    * and RGB16 lanes, Adam7 on deterministic id classes. r17 adds the
    * depth-16 COLOR-KEY lanes: tRNS on types 0/2 synthesizes a 16-bit
    * alpha channel (0x0000 exactly where the full-precision samples
    * equal the key), and the keyed gray lane additionally survives the
    * resize → re-encode(type 4, depth 16) → second-decode raster path.
    * Closed-form DuckDB replay; codegen'd scan-side; no shuffle.
    */
  def png16(s: SparkSession, dir: String): DataFrame = {
    val media = png16Blobs(s, dir).join(png16KeyBlobs(s, dir), "doc_id")
    val g = Multimodal.decodeImage16(col("g16"))
    val c = Multimodal.decodeImage16(col("c16"))
    // 16-bit RASTER path: nearest resize of both lanes re-encoded at
    // depth 16, then re-decoded — proves full-precision samples survive
    // the decode → resize → encode roundtrip (gray16 → 7×5, RGB16 → 6×4;
    // both strict downscales for every id class).
    val r = Multimodal.decodeImage16(
      Multimodal.png16Resize(col("g16"), 7, 5))
    val r2 = Multimodal.decodeImage16(
      Multimodal.png16Resize(col("c16"), 6, 4))
    // color-key lanes (r17): alpha synthesized at depth 16, then the
    // keyed gray raster through resize → re-encode → second decode
    val k = Multimodal.decodeImage16(col("k16"))
    val ck = Multimodal.decodeImage16(col("ck16"))
    val kr = Multimodal.decodeImage16(
      Multimodal.png16Resize(col("k16"), 5, 4))
    media.select(col("doc_id"),
      g.getField("width").cast("long").as("g16_w"),
      g.getField("height").cast("long").as("g16_h"),
      g.getField("channels").cast("long").as("g16_ch"),
      g.getField("px_sum").as("g16_sum"),
      g.getField("px_min").cast("long").as("g16_min"),
      g.getField("px_max").cast("long").as("g16_max"),
      c.getField("channels").cast("long").as("c16_ch"),
      c.getField("px_sum").as("c16_sum"),
      c.getField("px_min").cast("long").as("c16_min"),
      c.getField("px_max").cast("long").as("c16_max"),
      r.getField("width").cast("long").as("r16_w"),
      r.getField("height").cast("long").as("r16_h"),
      r.getField("channels").cast("long").as("r16_ch"),
      r.getField("px_sum").as("r16_sum"),
      r.getField("px_min").cast("long").as("r16_min"),
      r.getField("px_max").cast("long").as("r16_max"),
      r2.getField("channels").cast("long").as("s16_ch"),
      r2.getField("px_sum").as("s16_sum"),
      k.getField("channels").cast("long").as("k16_ch"),
      k.getField("px_sum").as("k16_sum"),
      k.getField("px_min").cast("long").as("k16_min"),
      k.getField("px_max").cast("long").as("k16_max"),
      ck.getField("channels").cast("long").as("ck_ch"),
      ck.getField("px_sum").as("ck_sum"),
      ck.getField("px_min").cast("long").as("ck_min"),
      ck.getField("px_max").cast("long").as("ck_max"),
      kr.getField("channels").cast("long").as("kr_ch"),
      kr.getField("px_sum").as("kr_sum"))
  }

  /** Animated-GIF fixture: multi-frame GIFs from the independent
    * clear-code LZW writer, memoized separately.
    */
  private def gifAnimBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_gif2") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("gan", Multimodal.makeGifAnim(col("doc_id"))),
        "mm_gif2", slices = 8)
      Map("blobs" -> "mm_gif2")
    }
    store.readResolved("mm_gif2")
  }

  /** Animated GIF: frame COUNT from the bounded sub-block walk (the
    * cheap header pass — LZW data skipped by length, never decoded) plus
    * the full first-frame decode, whose fixture stream here uses the
    * OTHER legal LZW emission (literal codes with CLEAR resets before
    * any width growth — the classic uncompressed-GIF layout) so the
    * decoder's CLEAR-reset path is inside the hash gate too. Every
    * output replays from closed-form integer functions of doc_id.
    * Codegen'd scan-side; no shuffle.
    */
  def gifAnim(s: SparkSession, dir: String): DataFrame = {
    val media = gifAnimBlobs(s, dir)
    val meta = Multimodal.gifMeta(col("gan"))
    val g1 = Multimodal.decodeGif(col("gan"))
    media.select(col("doc_id"),
      meta.getField("width").cast("long").as("ga_w"),
      meta.getField("height").cast("long").as("ga_h"),
      meta.getField("n_frames").cast("long").as("ga_frames"),
      g1.getField("px_sum").as("g1_sum"),
      g1.getField("px_min").cast("long").as("g1_min"),
      g1.getField("px_max").cast("long").as("g1_max"))
  }

  /** Compositing animated-GIF fixture: four frames with sub-rects,
    * transparency and all three disposal semantics, memoized separately.
    */
  private def gifComposeBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_gif3") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("gc", Multimodal.makeGifCompose(col("doc_id"))),
        "mm_gif3", slices = 8)
      Map("blobs" -> "mm_gif3")
    }
    store.readResolved("mm_gif3")
  }

  /** REAL animated-GIF COMPOSITING decode: four frames per doc rendered
    * onto the logical screen — full-screen base (disposal 1), a
    * transparent-punched sub-rect restored-to-previous (disposal 3), an
    * opaque sub-rect restored-to-background (disposal 2, leaving a
    * transparent hole), then a final transparent-punched sub-rect over
    * the holed canvas. Per-frame opaque-pixel sum/count/extrema; every
    * value replays from the per-pixel CASE logic of the disposal rules
    * in DuckDB. Codegen'd scan-side; no shuffle.
    */
  def gifCompose(s: SparkSession, dir: String): DataFrame = {
    val media = gifComposeBlobs(s, dir)
    val a = Multimodal.gifAnimStats(col("gc"))
    def fr(k: Int) = element_at(a.getField("frames"), k + 1)
    def lane(k: Int) = Seq(
      fr(k).getField("px_sum").as(s"f${k}_sum"),
      fr(k).getField("opaque").cast("long").as(s"f${k}_op"),
      fr(k).getField("px_min").cast("long").as(s"f${k}_mn"),
      fr(k).getField("px_max").cast("long").as(s"f${k}_mx"))
    // frame-3 EXTRACT lane: the composited final frame re-encoded as an
    // RGBA PNG (alpha 0 in the disposal-2 hole) and decoded AGAIN by the
    // production PNG path — sum = RGB sum + 255·opaque, min 0 exactly
    // when a hole exists, max 255 from any opaque alpha
    val p3 = Multimodal.decodeImage(Multimodal.gifFramePng(col("gc"), 3))
    media.select(Seq(col("doc_id"),
      a.getField("width").cast("long").as("gc_w"),
      a.getField("height").cast("long").as("gc_h"),
      size(a.getField("frames")).cast("long").as("gc_nf")) ++
      (0 to 3).flatMap(lane) ++ Seq(
      p3.getField("channels").cast("long").as("p3_ch"),
      p3.getField("px_sum").as("p3_sum"),
      p3.getField("px_min").cast("long").as("p3_mn"),
      p3.getField("px_max").cast("long").as("p3_mx")): _*)
  }

  /** G.711 fixture: µ-law and A-law clips whose companded bytes sweep
    * every segment/mantissa/sign combination, memoized separately.
    */
  private def audioG711Blobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_wav3") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("wu", Multimodal.makeWavUlaw(col("doc_id")))
        .withColumn("wa", Multimodal.makeWavAlaw(col("doc_id"))),
        "mm_wav3", slices = 8)
      Map("blobs" -> "mm_wav3")
    }
    store.readResolved("mm_wav3")
  }

  /** REAL G.711 decode — the telephony/VoIP audio formats: µ-law
    * (codec 7) and A-law (codec 6) expanded through the canonical
    * integer formulas (complement/xor-0x55, segment-scaled mantissa,
    * 0x84 / 8-and-0x108 biases), with the same integer-exact features as
    * the PCM lanes, plus an every-2nd-frame decimation of the µ-law clip
    * re-encoded AT ITS CODEC and re-analyzed (pins the codec-preserving
    * frame sampler: raw companded bytes copied verbatim mean nothing
    * unless the header still says µ-law). The DuckDB oracle replays the
    * bit-twiddling — xor via (b|85)−(b&85), shifts as power-of-two
    * multiplies. Codegen'd scan-side; no shuffle.
    */
  def audioG711(s: SparkSession, dir: String): DataFrame = {
    val media = audioG711Blobs(s, dir)
    val u = Multimodal.audioFeatures(col("wu"))
    val a = Multimodal.audioFeatures(col("wa"))
    val fs = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("wu"), 2))
    media.select(col("doc_id"),
      u.getField("n_samples").as("u_n"),
      u.getField("pcm_sum").as("u_sum"),
      u.getField("pcm_sqsum").as("u_sqsum"),
      u.getField("pcm_peak").as("u_peak"),
      u.getField("pcm_zc").as("u_zc"),
      a.getField("n_samples").as("a_n"),
      a.getField("pcm_sum").as("a_sum"),
      a.getField("pcm_sqsum").as("a_sqsum"),
      a.getField("pcm_peak").as("a_peak"),
      a.getField("pcm_zc").as("a_zc"),
      fs.getField("n_samples").as("fs_n"),
      fs.getField("pcm_sum").as("fs_sum"))
  }

  /** Float + extensible WAV fixture: IEEE-float32 (codec 3), extensible
    * PCM16 stereo, and extensible float32 — the three modern-tooling
    * export shapes, memoized separately.
    */
  private def audioFloatBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_wav4") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("wf", Multimodal.makeWavFloat(col("doc_id")))
        .withColumn("we", Multimodal.makeWavExtPcm(col("doc_id")))
        .withColumn("wef", Multimodal.makeWavExtFloat(col("doc_id"))),
        "mm_wav4", slices = 8)
      Map("blobs" -> "mm_wav4")
    }
    store.readResolved("mm_wav4")
  }

  /** REAL float32 + WAVE_FORMAT_EXTENSIBLE decode — the default export
    * of most modern audio tooling: IEEE-float samples reported on the
    * exact floor(f·2^15) integer lattice (the fixture numerators are
    * k/2^10 and k/2^9 rationals, so every step — float, double, the
    * power-of-two scale — is exact and the oracle replays plain
    * integers), the extensible wrapper resolved through its SubFormat
    * GUID to PCM16-STEREO (interleaved channel handling + channel-0 zero
    * crossings inside the gate) and to wrapped float32, plus an
    * every-2nd-frame decimation of the float lane re-encoded AT codec 3
    * and re-analyzed (the codec-preserving frame sampler extended to
    * float). The float64 lane (r16) rides the same exact lattice — a
    * double scaled by 2^15 only shifts its exponent — with its own
    * 8-byte-sample decimation round-trip. Codegen'd scan-side;
    * the one exchange is the tiny blob-table join.
    */
  /** Float64 lane blobs (its own memoized store — the wav4 fixture is
    * immutable once built).
    */
  private def audioFloat64Blobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_wav5") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("wd", Multimodal.makeWavFloat64(col("doc_id"))),
        "mm_wav5", slices = 8)
      Map("blobs" -> "mm_wav5")
    }
    store.readResolved("mm_wav5")
  }

  def audioFloat(s: SparkSession, dir: String): DataFrame = {
    val media = audioFloatBlobs(s, dir)
      .join(audioFloat64Blobs(s, dir), "doc_id")
    val f = Multimodal.audioFeatures(col("wf"))
    val e = Multimodal.audioFeatures(col("we"))
    val ef = Multimodal.audioFeatures(col("wef"))
    val fs = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("wf"), 2))
    // float64 lane (r16): double-precision samples on the same exact
    // lattice (scaling by 2^15 only shifts the exponent), plus the
    // codec-preserving decimation at 8 bytes/sample
    val d64 = Multimodal.audioFeatures(col("wd"))
    val ds = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("wd"), 2))
    media.select(col("doc_id"),
      f.getField("n_samples").as("f_n"),
      f.getField("pcm_bits").cast("long").as("f_bits"),
      f.getField("pcm_sum").as("f_sum"),
      f.getField("pcm_sqsum").as("f_sqsum"),
      f.getField("pcm_peak").as("f_peak"),
      f.getField("pcm_zc").as("f_zc"),
      e.getField("n_samples").as("e_n"),
      e.getField("pcm_sum").as("e_sum"),
      e.getField("pcm_sqsum").as("e_sqsum"),
      e.getField("pcm_peak").as("e_peak"),
      e.getField("pcm_zc").as("e_zc"),
      ef.getField("n_samples").as("ef_n"),
      ef.getField("pcm_sum").as("ef_sum"),
      ef.getField("pcm_sqsum").as("ef_sqsum"),
      ef.getField("pcm_peak").as("ef_peak"),
      fs.getField("n_samples").as("fs_n"),
      fs.getField("pcm_sum").as("fs_sum"),
      d64.getField("n_samples").as("d_n"),
      d64.getField("pcm_bits").cast("long").as("d_bits"),
      d64.getField("pcm_sum").as("d_sum"),
      d64.getField("pcm_sqsum").as("d_sqsum"),
      d64.getField("pcm_peak").as("d_peak"),
      d64.getField("pcm_zc").as("d_zc"),
      ds.getField("n_samples").as("ds_n"),
      ds.getField("pcm_sum").as("ds_sum"))
  }

  /** IMA-ADPCM fixture: mono multi-block + stereo group-interleaved
    * clips from the independent nibble packer, memoized separately.
    */
  private def audioAdpcmBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_wav6") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("am", Multimodal.makeWavAdpcmMono(col("doc_id")))
        .withColumn("aw", Multimodal.makeWavAdpcmStereo(col("doc_id"))),
        "mm_wav6", slices = 8)
      Map("blobs" -> "mm_wav6")
    }
    store.readResolved("mm_wav6")
  }

  /** REAL IMA/DVI ADPCM decode (WAVE codec 0x11) — the last compressed
    * WAV format inside the envelope: the sequential (predictor,
    * step-index) recurrence over 4-bit nibbles, per the 1992 IMA
    * recommendation's integer tables. The mono lane spans 2–3 blocks
    * (per-block header reset inside the gate); the stereo lane walks the
    * 4-byte channel-round-robin groups (channel-0-only zero crossings
    * prove the de-interleave). Every step is pure integer arithmetic, so
    * the DuckDB oracle replays the recurrence exactly with a recursive
    * CTE joined to the 89-entry step table. Codegen'd scan-side; the one
    * exchange is the tiny blob-table join.
    */
  def audioAdpcm(s: SparkSession, dir: String): DataFrame = {
    val media = audioAdpcmBlobs(s, dir)
    val m = Multimodal.audioFeatures(col("am"))
    val w = Multimodal.audioFeatures(col("aw"))
    media.select(col("doc_id"),
      m.getField("n_samples").as("m_n"),
      m.getField("pcm_bits").cast("long").as("m_bits"),
      m.getField("pcm_sum").as("m_sum"),
      m.getField("pcm_sqsum").as("m_sqsum"),
      m.getField("pcm_peak").as("m_peak"),
      m.getField("pcm_zc").as("m_zc"),
      w.getField("n_samples").as("s_n"),
      w.getField("pcm_sum").as("s_sum"),
      w.getField("pcm_sqsum").as("s_sqsum"),
      w.getField("pcm_peak").as("s_peak"),
      w.getField("pcm_zc").as("s_zc"))
  }

  /** MS-ADPCM fixture: mono multi-block + stereo per-byte-interleaved
    * clips from the independent block packer, memoized separately.
    */
  private def audioMsAdpcmBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_wav7") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("am", Multimodal.makeWavMsAdpcmMono(col("doc_id")))
        .withColumn("aw", Multimodal.makeWavMsAdpcmStereo(col("doc_id"))),
        "mm_wav7", slices = 8)
      Map("blobs" -> "mm_wav7")
    }
    store.readResolved("mm_wav7")
  }

  /** REAL Microsoft ADPCM decode (WAVE codec 0x02) — the OTHER compressed
    * WAV family, closing the ADPCM envelope: the (samp1, samp2, delta)
    * coefficient-pair recurrence over signed 4-bit nibbles, predictor
    * pairs read from the IN-STREAM table the fmt extension declares (the
    * DHT discipline applied to audio). The mono lane spans 2–3 blocks
    * with a per-block coefficient-pair sweep (header reset AND every
    * standard pair inside the gate); the stereo lane de-interleaves the
    * per-byte high/low channel split (channel-0-only zero crossings
    * prove it). Every step is trunc-toward-zero integer arithmetic
    * (Java `/` == DuckDB `//`, both truncate), so the oracle replays
    * the recurrence exactly with a recursive CTE joined to the
    * coefficient and adaptation tables. Codegen'd scan-side; the one
    * exchange is the tiny blob-table join.
    */
  def audioMsAdpcm(s: SparkSession, dir: String): DataFrame = {
    val media = audioMsAdpcmBlobs(s, dir)
    val m = Multimodal.audioFeatures(col("am"))
    val w = Multimodal.audioFeatures(col("aw"))
    media.select(col("doc_id"),
      m.getField("n_samples").as("m_n"),
      m.getField("pcm_bits").cast("long").as("m_bits"),
      m.getField("pcm_sum").as("m_sum"),
      m.getField("pcm_sqsum").as("m_sqsum"),
      m.getField("pcm_peak").as("m_peak"),
      m.getField("pcm_zc").as("m_zc"),
      w.getField("n_samples").as("s_n"),
      w.getField("pcm_sum").as("s_sum"),
      w.getField("pcm_sqsum").as("s_sqsum"),
      w.getField("pcm_peak").as("s_peak"),
      w.getField("pcm_zc").as("s_zc"))
  }

  /** Sub-byte PNG fixture: the four depth-1/2/4 lanes from the
    * independent bit-packing writer, memoized separately.
    */
  private def pngSubByteBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_psub") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("g1", Multimodal.makePng1Gray(col("doc_id")))
        .withColumn("g2", Multimodal.makePng2Gray(col("doc_id")))
        .withColumn("k4", Multimodal.makePng4GrayKey(col("doc_id")))
        .withColumn("p4", Multimodal.makePng4Palette(col("doc_id"))),
        "mm_psub", slices = 8)
      Map("blobs" -> "mm_psub")
    }
    store.readResolved("mm_psub")
  }

  /** REAL sub-byte PNG decode (depths 1/2/4 on color types 0/3 — the
    * icon/fax/tiny-palette layouts, the spec's full table-11.1 envelope
    * for those types): rows unfilter at their bit-packed byte stride
    * with the spec's byte-level bpp=1 filter rule (the Sub filter
    * subtracts the PACKED byte one back, mixing samples — the subtlety
    * the fixture's independent packer proves), unpack MSB-first, gray
    * scales by the exact 255/(2^d−1), palette looks up unscaled. Four
    * lanes: bi-level gray (row padding inside the gate, Adam7 on odd
    * ids), depth-2 gray, depth-4 gray with a COLOR-KEY tRNS compared in
    * RAW sample space (alpha synthesis below depth 8), and a depth-4
    * palette with per-entry tRNS alpha + the spec default-255 rule,
    * Adam7 on even ids. Codegen'd scan-side; the one exchange is the
    * tiny blob-table join.
    */
  def pngSubByte(s: SparkSession, dir: String): DataFrame = {
    val media = pngSubByteBlobs(s, dir)
    val a = Multimodal.decodeImage(col("g1"))
    val b = Multimodal.decodeImage(col("g2"))
    val k = Multimodal.decodeImage(col("k4"))
    val p = Multimodal.decodeImage(col("p4"))
    media.select(col("doc_id"),
      a.getField("width").cast("long").as("g1_w"),
      a.getField("height").cast("long").as("g1_h"),
      a.getField("px_sum").as("g1_sum"),
      a.getField("px_min").cast("long").as("g1_min"),
      a.getField("px_max").cast("long").as("g1_max"),
      b.getField("px_sum").as("g2_sum"),
      b.getField("px_min").cast("long").as("g2_min"),
      b.getField("px_max").cast("long").as("g2_max"),
      k.getField("channels").cast("long").as("k4_ch"),
      k.getField("px_sum").as("k4_sum"),
      k.getField("px_min").cast("long").as("k4_min"),
      k.getField("px_max").cast("long").as("k4_max"),
      p.getField("channels").cast("long").as("p4_ch"),
      p.getField("px_sum").as("p4_sum"),
      p.getField("px_min").cast("long").as("p4_min"),
      p.getField("px_max").cast("long").as("p4_max"))
  }

  /** 12-bit JPEG fixture: the two SOF1 lanes from the independent
    * bitstream writer, memoized separately.
    */
  private def jpeg12Blobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_j12") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("ja", Multimodal.makeJpeg12(col("doc_id")))
        .withColumn("jb", Multimodal.makeJpeg12WideQ(col("doc_id"))),
        "mm_j12", slices = 8)
      Map("blobs" -> "mm_j12")
    }
    store.readResolved("mm_j12")
  }

  /** REAL 12-bit extended-sequential JPEG decode (SOF1) — the
    * DICOM/medical-imaging gray shape, closing the 12-bit envelope
    * null: the same Huffman/dequant/IDCT machinery as the gate-proven
    * 8-bit path with the 12-bit level shift (floor(x+2048.5)) and
    * [0, 4095] clamp, DC categories to 15, full-precision stats (no
    * truncated raster). Lane A: DC-only blocks whose dequantized DC is
    * 8·(p−2048), so the IDCT reproduces the closed-form constant p
    * exactly, with restart markers every 3 MCUs and an 8-bit DQT; the
    * block sweep reaches both clamp edges. Lane B: a 16-BIT quant table
    * (q0=800, above the 8-bit ceiling) proving the wide-table read at
    * 12-bit precision — pixels 2048 + 100·v. The AC path at 12 bits is
    * the 8-bit path's code verbatim and is additionally spec-verified
    * with a run-0 AC block against the independent direct-form IDCT.
    * Codegen'd scan-side; the one exchange is the tiny blob-table join.
    */
  def jpeg12(s: SparkSession, dir: String): DataFrame = {
    val media = jpeg12Blobs(s, dir)
    val a = Multimodal.jpeg12Features(col("ja"))
    val b = Multimodal.jpeg12Features(col("jb"))
    media.select(col("doc_id"),
      a.getField("width").cast("long").as("a_w"),
      a.getField("height").cast("long").as("a_h"),
      a.getField("px_sum").as("a_sum"),
      a.getField("px_min").cast("long").as("a_min"),
      a.getField("px_max").cast("long").as("a_max"),
      b.getField("width").cast("long").as("b_w"),
      b.getField("px_sum").as("b_sum"),
      b.getField("px_min").cast("long").as("b_min"),
      b.getField("px_max").cast("long").as("b_max"))
  }

  /** Arithmetic-JPEG fixture: the three SOF9 lanes from the independent
    * QmEnc bitstream writer (Annex D encoder flowcharts — byte-exact
    * against the system libjpeg encoder on the conformance goldens,
    * sharing no code with the production F.2.2 decoder), memoized
    * separately.
    */
  private def jpegArithBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_jar") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("ja", Multimodal.makeJpegArithGray(col("doc_id")))
        .withColumn("jb", Multimodal.makeJpegArithCond(col("doc_id")))
        .withColumn("jc", Multimodal.makeJpegArithColor(col("doc_id")))
        .withColumn("jp", Multimodal.makeJpegArithProg(col("doc_id")))
        .withColumn("jm", Multimodal.makeJpegArithMs(col("doc_id"))),
        "mm_jar", slices = 8)
      Map("blobs" -> "mm_jar")
    }
    store.readResolved("mm_jar")
  }

  /** REAL arithmetic-coded JPEG decode (SOF9, T.81 Annex D QM-coder +
    * the F.1.4.4 statistical models) — the `jpegtran -arithmetic`
    * flavor, closing the last in-reach intra-frame envelope null (the
    * stub seam is now inter-frame video + hierarchical frames only).
    * Five lanes through the SAME [[Multimodal.decodeJpeg]] surface as
    * the Huffman gates: gray with the pre-verified AC-seed block at
    * (0,0), restarts every 3 MCUs and NO DAC segment (T.81 default
    * conditioning), gray with non-default DAC conditioning (U=3,
    * Kx=16), 4:2:0 color with restarts through upsample + fixed-point
    * YCbCr→RGB, and PROGRESSIVE (SOF10) gray — the spectral DC + 1..63
    * AC script, per-scan arithmetic segments, restarts inside both
    * scans. The fifth lane is the non-interleaved sequential MULTI-SCAN
    * layout (1x1 color, Y-only full-band scan with the AC seed +
    * interleaved Cb+Cr scan, restarts in both) — the arithmetic twin
    * of mm_codec_roundtrip's jsq lane, with a per-pixel oracle (the
    * seed block's luma varies, so the color conversion replays per
    * pixel against the embedded jac table). The decoder is
    * additionally conformance-proven against
    * SYSTEM-libjpeg-encoded streams in MediaCodecSpec (incl. the full
    * 6-scan successive-approximation script) — two independent
    * encoders, one decoder, one closed-form oracle.
    * Codegen'd scan-side; the one exchange is the tiny blob-table join.
    */
  def jpegArith(s: SparkSession, dir: String): DataFrame = {
    val media = jpegArithBlobs(s, dir)
    val a = Multimodal.decodeJpeg(col("ja"))
    val b = Multimodal.decodeJpeg(col("jb"))
    val c = Multimodal.decodeJpeg(col("jc"))
    val p = Multimodal.decodeJpeg(col("jp"))
    val m = Multimodal.decodeJpeg(col("jm"))
    media.select(col("doc_id"),
      a.getField("width").cast("long").as("a_w"),
      a.getField("height").cast("long").as("a_h"),
      a.getField("px_sum").as("a_sum"),
      a.getField("px_min").cast("long").as("a_min"),
      a.getField("px_max").cast("long").as("a_max"),
      b.getField("width").cast("long").as("b_w"),
      b.getField("px_sum").as("b_sum"),
      b.getField("px_min").cast("long").as("b_min"),
      b.getField("px_max").cast("long").as("b_max"),
      c.getField("channels").cast("long").as("c_ch"),
      c.getField("px_sum").as("c_sum"),
      c.getField("px_min").cast("long").as("c_min"),
      c.getField("px_max").cast("long").as("c_max"),
      p.getField("width").cast("long").as("p_w"),
      p.getField("height").cast("long").as("p_h"),
      p.getField("px_sum").as("p_sum"),
      p.getField("px_min").cast("long").as("p_min"),
      p.getField("px_max").cast("long").as("p_max"),
      m.getField("channels").cast("long").as("ms_ch"),
      m.getField("px_sum").as("ms_sum"),
      m.getField("px_min").cast("long").as("ms_min"),
      m.getField("px_max").cast("long").as("ms_max"))
  }

  /** Lossless-JPEG fixture: the three SOF3 lanes from the independent
    * bitstream writer (closed-form DIFFERENCES — the recurrence is never
    * run at encode time), memoized separately.
    */
  private def jpegLosslessBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_jls") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("jl16", Multimodal.makeJpegLosslessG16(col("doc_id")))
        .withColumn("jl12", Multimodal.makeJpegLosslessG12(col("doc_id")))
        .withColumn("jl3", Multimodal.makeJpegLossless3c(col("doc_id"))),
        "mm_jls", slices = 8)
      Map("blobs" -> "mm_jls")
    }
    store.readResolved("mm_jls")
  }

  /** REAL lossless-JPEG decode (SOF3, T.81 Annex H) — the DNG/raw-camera
    * and medical-imaging JPEG flavor, closing the lossless envelope
    * null: Huffman-coded DPCM differences reconstructed modulo 2^16
    * against the seven spatial predictors, at full 2–16 bit precision
    * (no truncated raster — the png16Stats discipline). Three lanes:
    * gray 16-bit predictor 1 (with the SSSS=16 no-bits 32768 special
    * AND ±20k diffs forcing mod-2^16 wraps), gray 12-bit predictor 2
    * with a nonzero point transform (pt=2 — initial prediction 1<<9,
    * outputs shifted left 2), and 3-component 8-bit predictor 4
    * (Ra+Rb−Rc) in one interleaved scan. Because reconstruction for
    * predictors 1/2/4 telescopes into prefix sums of the closed-form
    * diffs (predictor 4 is the 2-D integral image), the DuckDB oracle
    * replays the exact pixels with window SUMs — no recursion.
    * Predictors 3/5/6/7 (shift-based, not prefix-summable) are
    * spec-verified against an independent in-test recurrence instead.
    * Codegen'd scan-side; the one exchange is the tiny blob-table join.
    */
  def jpegLossless(s: SparkSession, dir: String): DataFrame = {
    val media = jpegLosslessBlobs(s, dir)
    val a = Multimodal.jpegLosslessFeatures(col("jl16"))
    val b = Multimodal.jpegLosslessFeatures(col("jl12"))
    val c = Multimodal.jpegLosslessFeatures(col("jl3"))
    media.select(col("doc_id"),
      a.getField("width").cast("long").as("g16_w"),
      a.getField("height").cast("long").as("g16_h"),
      a.getField("precision").cast("long").as("g16_p"),
      a.getField("px_sum").as("g16_sum"),
      a.getField("px_min").cast("long").as("g16_min"),
      a.getField("px_max").cast("long").as("g16_max"),
      b.getField("px_sum").as("g12_sum"),
      b.getField("px_min").cast("long").as("g12_min"),
      b.getField("px_max").cast("long").as("g12_max"),
      c.getField("components").cast("long").as("c3_nc"),
      c.getField("px_sum").as("c3_sum"),
      c.getField("px_min").cast("long").as("c3_min"),
      c.getField("px_max").cast("long").as("c3_max"))
  }

  /** Lossless-ARITHMETIC JPEG fixture: the three SOF11 lanes from the
    * independent QM-coder bitstream writer (closed-form DIFFERENCES, the
    * recurrence never run at encode time), memoized separately.
    */
  private def jpegLosslessArithBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_jla") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("ja16", Multimodal.makeJpegLosslessArithG16(col("doc_id")))
        .withColumn("ja12", Multimodal.makeJpegLosslessArithG12(col("doc_id")))
        .withColumn("ja3", Multimodal.makeJpegLosslessArith3c(col("doc_id"))),
        "mm_jla", slices = 8)
      Map("blobs" -> "mm_jla")
    }
    store.readResolved("mm_jla")
  }

  /** REAL lossless-ARITHMETIC JPEG decode (SOF11, T.81 Annex H +
    * §H.1.2.2) — the last intra-frame T.81 coding process: QM-coded DPCM
    * differences under the 5×5 (Da, Db) conditioning model with two
    * magnitude-bin sets, reconstructed modulo 2^16 against the spatial
    * predictors at full precision. Three lanes: gray 16-bit predictor 1
    * with ±25k wide diffs (X walks to X15) AND the exact-32768 extreme,
    * no DAC (decoder defaults L=0/U=1); gray 12-bit predictor 2 with
    * pt=2 and a DAC carrying NON-default bounds (L=1, U=3 — the
    * classification arithmetic is inside the gate); 3-component 8-bit
    * predictor 4 interleaved. Reconstruction telescopes into prefix
    * sums of the closed-form diffs, so the DuckDB oracle replays exact
    * pixels with window SUMs — the entropy layer (QM state machine, 158
    * conditioning bins) is exactly what the hash gate proves, since a
    * single mis-decoded decision derails every later difference.
    * Codegen'd scan-side; the one exchange is the tiny blob-table join.
    */
  def jpegLosslessArith(s: SparkSession, dir: String): DataFrame = {
    val media = jpegLosslessArithBlobs(s, dir)
    val a = Multimodal.jpegLosslessFeatures(col("ja16"))
    val b = Multimodal.jpegLosslessFeatures(col("ja12"))
    val c = Multimodal.jpegLosslessFeatures(col("ja3"))
    media.select(col("doc_id"),
      a.getField("width").cast("long").as("a16_w"),
      a.getField("height").cast("long").as("a16_h"),
      a.getField("precision").cast("long").as("a16_p"),
      a.getField("px_sum").as("a16_sum"),
      a.getField("px_min").cast("long").as("a16_min"),
      a.getField("px_max").cast("long").as("a16_max"),
      b.getField("px_sum").as("a12_sum"),
      b.getField("px_min").cast("long").as("a12_min"),
      b.getField("px_max").cast("long").as("a12_max"),
      c.getField("components").cast("long").as("a3_nc"),
      c.getField("px_sum").as("a3_sum"),
      c.getField("px_min").cast("long").as("a3_min"),
      c.getField("px_max").cast("long").as("a3_max"))
  }

  /** Restart-interval lossless fixture: one Huffman (SOF3) and one
    * arithmetic (SOF11) lane, both with DRI = 2 rows of MCUs.
    */
  private def jpegLosslessRstBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_jlr") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("jr16", Multimodal.makeJpegLosslessRst(col("doc_id")))
        .withColumn("jr12", Multimodal.makeJpegLosslessArithRst(col("doc_id"))),
        "mm_jlr", slices = 8)
      Map("blobs" -> "mm_jlr")
    }
    store.readResolved("mm_jlr")
  }

  /** Lossless-JPEG RESTART intervals (r19, both entropy paths): DRI
    * every 2 rows, so every other row re-predicts as a scan-start first
    * line per T.81 H.2.2/H.1.1 (row-aligned intervals only — the
    * envelope note in MediaCodec). Huffman lane (SOF3, gray 16, pred 1,
    * wide diffs): restart boundaries land mid-byte, so the byte-align +
    * cycling-RSTn walk is inside the gate. Arithmetic lane (SOF11, gray
    * 12, pred 2): every interval is its own QM segment — coder re-init,
    * zeroed statistics AND (Da, Db) conditioning — so a missed reset
    * derails every post-restart difference and fails the hash.
    * Reconstruction still telescopes into prefix sums PER INTERVAL
    * BLOCK, so the oracle replays exact pixels with window SUMs
    * partitioned by (doc, y/2). Codegen'd scan-side; the one exchange
    * is the tiny blob-table join.
    */
  def jpegLosslessRst(s: SparkSession, dir: String): DataFrame = {
    val media = jpegLosslessRstBlobs(s, dir)
    val a = Multimodal.jpegLosslessFeatures(col("jr16"))
    val b = Multimodal.jpegLosslessFeatures(col("jr12"))
    media.select(col("doc_id"),
      a.getField("width").cast("long").as("h16_w"),
      a.getField("height").cast("long").as("h16_h"),
      a.getField("px_sum").as("h16_sum"),
      a.getField("px_min").cast("long").as("h16_min"),
      a.getField("px_max").cast("long").as("h16_max"),
      b.getField("px_sum").as("a12_sum"),
      b.getField("px_min").cast("long").as("a12_min"),
      b.getField("px_max").cast("long").as("a12_max"))
  }

  /** DHT-less MJPEG fixture: frames coded against the Annex K typical
    * Huffman tables with NO DHT segment (the most common real-world MJPEG
    * flavor, per the OpenDML implied-standard-tables convention); 4:2:0
    * color so both the implied luma AND chroma table pairs are exercised.
    */
  private def videoNoDhtBlobs(s: SparkSession, dir: String) = {
    val (store, _) = Fixtures(s, dir, "fix_media_avi2") { st =>
      st.write(Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("avin", Multimodal.makeAviMjpegNoDht(col("doc_id"))),
        "mm_avi2", slices = 8)
      Map("blobs" -> "mm_avi2")
    }
    store.readResolved("mm_avi2")
  }

  /** REAL DHT-less MJPEG decode: every-2nd-frame sampling through the
    * implied Annex K standard Huffman tables (fixture encoder carries its
    * own copy of the public BITS/VALS and its own canonical-code builder
    * — agreement proves two independent derivations of the code space),
    * through the full 4:2:0 upsample + fixed-point YCbCr→RGB path. The
    * n_decoded == n_sampled equality inside the hash gate is the claim
    * that DHT-less frames now actually DECODE rather than count as
    * sampled-not-decoded. Codegen'd scan-side; no shuffle.
    */
  def videoNoDht(s: SparkSession, dir: String): DataFrame = {
    val media = videoNoDhtBlobs(s, dir)
    val meta = Multimodal.videoMeta(col("avin"))
    val vs = Multimodal.videoFrameStats(col("avin"), 2)
    media.select(col("doc_id"),
      meta.getField("width").cast("long").as("n_w"),
      meta.getField("height").cast("long").as("n_h"),
      meta.getField("n_frames").cast("long").as("n_frames"),
      meta.getField("usec_per_frame").cast("long").as("n_usec"),
      vs.getField("n_sampled").cast("long").as("n_sampled"),
      vs.getField("n_decoded").cast("long").as("n_decoded"),
      vs.getField("px_sum").as("n_sum"),
      vs.getField("px_min").cast("long").as("n_min"),
      vs.getField("px_max").cast("long").as("n_max"))
  }

  /** End-to-end multimodal corpus assembly — the composition a training
    * pipeline actually runs, each stage in its scalable form:
    *  1. text gate: length >= 100 (a cheap scan-side predicate);
    *  2. exact image dedup: min(doc_id) per full-md5 content group as a
    *     window over the hash — ONE shuffle, no driver-side keeper set;
    *  3. decoded-image gate: px_sum % 3 != 0 — synthetic because the
    *     fixture rasters are deliberately intensity-uniform, but only
    *     computable by an exact decode, so it pins the decoder inside a
    *     composed plan;
    *  4. audio gate: >= 30 frames after every-4th-frame decimation (a
    *     REAL decode-derived predicate: the decimated clip is re-encoded
    *     and re-analyzed);
    *  5. deterministic hash split (salt mm1, 80/10/10).
    * All per-row work is codegen'd scan-side; every exchange (the gated-id
    * join and the dedup window) carries only doc_id, md5 and a few longs —
    * never a blob or the text column.
    */
  def multimodalCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val media = mediaBlobs(s, dir)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val img = Multimodal.decodeImage(col("img"))
    val fs = Multimodal.audioFeatures(Multimodal.audioFrameSample(col("wav"), 4))
    // decode + hash from the media scan ALONE, before any join: the join
    // and the dedup exchange then carry (doc_id, md5, four longs), never
    // the blobs — at 100 TB, shuffling binaries is the bottleneck;
    // scan-side CPU on rows a later gate drops is the far cheaper side of
    // that trade. (Joining media to docs first and selecting after would
    // re-introduce a blob shuffle the moment the docs side outgrows the
    // broadcast threshold — Catalyst prunes columns but cannot push
    // derived expressions below a join.)
    val feat = media
      .select(col("doc_id"), md5(col("img")).as("content_md5"),
        img.getField("px_sum").as("px_sum"),
        img.getField("width").cast("long").as("img_w"),
        img.getField("height").cast("long").as("img_h"),
        fs.getField("n_samples").as("audio_frames"))
      .filter(col("px_sum") % 3 =!= 0 && col("audio_frames") >= 30)
      .join(docs.filter(length(col("text")) >= 100).select(col("doc_id")),
        "doc_id")
    val keeper = min(col("doc_id"))
      .over(Window.partitionBy(col("content_md5")))
    graft.ops.TrainingPipeline.splitByHash(
      feat.withColumn("keep_id", keeper)
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("img_w"), col("img_h"),
          col("px_sum"), col("audio_frames")),
      "doc_id", "mm1", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_media_meta" -> mediaMeta _,
    "mm_codec_roundtrip" -> codecRoundtrip _,
    "mm_png_envelope" -> pngEnvelope _,
    "mm_video_frames" -> videoFrames _,
    "mm_video_nodht" -> videoNoDht _,
    "mm_audio_depth" -> audioDepth _,
    "mm_audio_g711" -> audioG711 _,
    "mm_audio_float" -> audioFloat _,
    "mm_audio_adpcm" -> audioAdpcm _,
    "mm_audio_msadpcm" -> audioMsAdpcm _,
    "mm_jpeg_lossless" -> jpegLossless _,
    "mm_jpeg_losslessarith" -> jpegLosslessArith _,
    "mm_jpeg_lossless_rst" -> jpegLosslessRst _,
    "mm_jpeg12" -> jpeg12 _,
    "mm_jpeg_arith" -> jpegArith _,
    "mm_png_subbyte" -> pngSubByte _,
    "mm_gif_anim" -> gifAnim _,
    "mm_gif_compose" -> gifCompose _,
    "mm_png16" -> png16 _,
    "pl_mm_corpus" -> multimodalCorpus _,
  )

  val oracle: Map[String, String] = Map(
    "mm_media_meta" ->
      """SELECT doc_id,
         'image/png' AS img_type,
         16 + doc_id % 32 AS img_w,
         9 + doc_id % 7 AS img_h,
         8000 + (doc_id % 3) * 4000 AS wav_rate,
         ((100 + doc_id % 50) * 2 * 1000) // ((8000 + (doc_id % 3) * 4000) * 2) AS wav_ms,
         'image/jpeg' AS jpg_type,
         24 + doc_id % 40 AS jpg_w,
         12 + doc_id % 11 AS jpg_h,
         1 + (doc_id % 2) * 2 AS jpg_ch,
         'image/gif' AS gif_type,
         count(*) OVER (PARTITION BY doc_id % 32, doc_id % 7) AS img_dups
         FROM documents""",
    // replicates the fixture formulas: pixel (x,y) = (x*31+y*17)%256 on a
    // (16+id%32) x (9+id%7) raster; sample i = (i%256)*128-16384 over
    // 100+id%50 samples. rs_sum replays the integer-floor nearest-neighbor
    // index map; fs_sum replays the step-4 decimation.
    // (DuckDB's range() can't take correlated lateral parameters, so each
    // per-doc grid is a maximal fixed range cross-join filtered by the
    // per-doc bound in the join condition.)
    "mm_codec_roundtrip" ->
      """WITH img AS (
           SELECT d.doc_id,
                  sum((x.x*31 + y.y*17) % 256) AS s,
                  min((x.x*31 + y.y*17) % 256) AS mn,
                  max((x.x*31 + y.y*17) % 256) AS mx
           FROM documents d
           JOIN range(0, 47) x(x) ON x.x < 16 + d.doc_id % 32
           JOIN range(0, 15) y(y) ON y.y < 9 + d.doc_id % 7
           GROUP BY d.doc_id
         ), rs AS (
           SELECT d.doc_id,
                  sum(((xx.x * (16 + d.doc_id % 32)) // 8 * 31
                     + (yy.y * (9 + d.doc_id % 7)) // 8 * 17) % 256) AS s
           FROM documents d, range(0, 8) xx(x), range(0, 8) yy(y)
           GROUP BY d.doc_id
         ), pcm AS (
           SELECT d.doc_id,
                  sum((i.i % 256) * 128 - 16384) AS s,
                  sum(((i.i % 256) * 128 - 16384)
                    * ((i.i % 256) * 128 - 16384)) AS q,
                  max(abs((i.i % 256) * 128 - 16384)) AS pk,
                  sum(CASE WHEN i.i % 4 = 0
                      THEN (i.i % 256) * 128 - 16384 ELSE 0 END) AS fss
           FROM documents d
           JOIN range(0, 149) i(i) ON i.i < 100 + d.doc_id % 50
           GROUP BY d.doc_id
         )
         , rgb AS (
           SELECT d.doc_id,
                  sum((x.x*31 + y.y*17) % 256 + (x.x*31 + y.y*17 + 53) % 256
                    + (x.x*31 + y.y*17 + 106) % 256) AS s
           FROM documents d
           JOIN range(0, 23) x(x) ON x.x < 8 + d.doc_id % 16
           JOIN range(0, 9) y(y) ON y.y < 5 + d.doc_id % 5
           GROUP BY d.doc_id
         )
         -- gray baseline JPEG: constant 8x8 blocks decode to their exact
         -- constants; block (0,0) is the hand-set AC coefficient block
         -- whose 64 decoded pixels (sum 8383, min 103, max 187, listed in
         -- jac below) were computed by an independent reference IDCT at
         -- fixture-design time
         , jg AS (
           SELECT d.doc_id,
                  sum(CASE WHEN bx.b = 0 AND by.b = 0 THEN 8383
                      ELSE ((bx.b*29 + by.b*41 + d.doc_id*7) % 256)
                           * (LEAST(8, (20 + d.doc_id % 37) - bx.b*8)
                            * LEAST(8, (11 + d.doc_id % 13) - by.b*8)) END) AS s,
                  LEAST(103, min(CASE WHEN bx.b = 0 AND by.b = 0 THEN 255
                      ELSE (bx.b*29 + by.b*41 + d.doc_id*7) % 256 END)) AS mn,
                  GREATEST(187, max(CASE WHEN bx.b = 0 AND by.b = 0 THEN 0
                      ELSE (bx.b*29 + by.b*41 + d.doc_id*7) % 256 END)) AS mx
           FROM documents d
           JOIN range(0, 8) bx(b) ON bx.b*8 < 20 + d.doc_id % 37
           JOIN range(0, 3) by(b) ON by.b*8 < 11 + d.doc_id % 13
           GROUP BY d.doc_id
         )
         -- 4:2:0 color JPEG: Y constant per 8x8 block, chroma constant per
         -- 16x16 MCU (block index // 2); RGB replays the decoder's
         -- fixed-point CCIR 601 integer conversion exactly
         , jcb AS (
           SELECT d.doc_id,
                  (bx.b*23 + by.b*31 + d.doc_id*11) % 256 AS yv,
                  ((bx.b // 2)*17 + d.doc_id*5) % 256 - 128 AS cb,
                  ((by.b // 2)*19 + d.doc_id*3) % 256 - 128 AS cr,
                  LEAST(8, (9 + d.doc_id % 23) - bx.b*8)
                    * LEAST(8, (7 + d.doc_id % 17) - by.b*8) AS vis
           FROM documents d
           JOIN range(0, 4) bx(b) ON bx.b*8 < 9 + d.doc_id % 23
           JOIN range(0, 3) by(b) ON by.b*8 < 7 + d.doc_id % 17
         ), jcc AS (
           SELECT doc_id, vis,
             GREATEST(0, LEAST(255, yv + CAST(floor((91881*cr + 32768)/65536.0) AS BIGINT))) AS r,
             GREATEST(0, LEAST(255, yv - CAST(floor((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT))) AS g,
             GREATEST(0, LEAST(255, yv + CAST(floor((116130*cb + 32768)/65536.0) AS BIGINT))) AS b
           FROM jcb
         ), jc AS (
           SELECT doc_id, sum((r + g + b) * vis) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM jcc GROUP BY doc_id
         )
         -- PROGRESSIVE gray JPEG (SOF2, six scans: spectral bands with
         -- Al=1 successive approximation, restarts in every scan):
         -- constant blocks and the AC seed reassemble to the exact same
         -- quantized coefficients as a baseline scan, so the decode
         -- replays from the same closed forms
         , jp AS (
           SELECT d.doc_id,
                  sum(CASE WHEN bx.b = 0 AND by.b = 0 THEN 8383
                      ELSE ((bx.b*37 + by.b*43 + d.doc_id*13) % 256)
                           * (LEAST(8, (17 + d.doc_id % 29) - bx.b*8)
                            * LEAST(8, (10 + d.doc_id % 9) - by.b*8)) END) AS s,
                  LEAST(103, min(CASE WHEN bx.b = 0 AND by.b = 0 THEN 255
                      ELSE (bx.b*37 + by.b*43 + d.doc_id*13) % 256 END)) AS mn,
                  GREATEST(187, max(CASE WHEN bx.b = 0 AND by.b = 0 THEN 0
                      ELSE (bx.b*37 + by.b*43 + d.doc_id*13) % 256 END)) AS mx
           FROM documents d
           JOIN range(0, 6) bx(b) ON bx.b*8 < 17 + d.doc_id % 29
           JOIN range(0, 3) by(b) ON by.b*8 < 10 + d.doc_id % 9
           GROUP BY d.doc_id
         )
         -- PROGRESSIVE 4:2:0 color JPEG (interleaved DC scan +
         -- per-component AC scans over the subsampled block grids)
         , jpb AS (
           SELECT d.doc_id,
                  (bx.b*13 + by.b*29 + d.doc_id*17) % 256 AS yv,
                  ((bx.b // 2)*11 + d.doc_id*7) % 256 - 128 AS cb,
                  ((by.b // 2)*23 + d.doc_id*9) % 256 - 128 AS cr,
                  LEAST(8, (10 + d.doc_id % 21) - bx.b*8)
                    * LEAST(8, (8 + d.doc_id % 13) - by.b*8) AS vis
           FROM documents d
           JOIN range(0, 4) bx(b) ON bx.b*8 < 10 + d.doc_id % 21
           JOIN range(0, 3) by(b) ON by.b*8 < 8 + d.doc_id % 13
         ), jpcc AS (
           SELECT doc_id, vis,
             GREATEST(0, LEAST(255, yv + CAST(floor((91881*cr + 32768)/65536.0) AS BIGINT))) AS r,
             GREATEST(0, LEAST(255, yv - CAST(floor((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT))) AS g,
             GREATEST(0, LEAST(255, yv + CAST(floor((116130*cb + 32768)/65536.0) AS BIGINT))) AS b
           FROM jpb
         ), jpc AS (
           SELECT doc_id, sum((r + g + b) * vis) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM jpcc GROUP BY doc_id
         )
         -- SEQUENTIAL MULTI-SCAN 4:2:0 JPEG (non-interleaved Y scan +
         -- interleaved Cb+Cr scan): same constant-block replay
         , jsb AS (
           SELECT d.doc_id,
                  (bx.b*19 + by.b*31 + d.doc_id*23) % 256 AS yv,
                  ((bx.b // 2)*13 + d.doc_id*3) % 256 - 128 AS cb,
                  ((by.b // 2)*29 + d.doc_id*5) % 256 - 128 AS cr,
                  LEAST(8, (11 + d.doc_id % 19) - bx.b*8)
                    * LEAST(8, (9 + d.doc_id % 11) - by.b*8) AS vis
           FROM documents d
           JOIN range(0, 4) bx(b) ON bx.b*8 < 11 + d.doc_id % 19
           JOIN range(0, 3) by(b) ON by.b*8 < 9 + d.doc_id % 11
         ), jscc AS (
           SELECT doc_id, vis,
             GREATEST(0, LEAST(255, yv + CAST(floor((91881*cr + 32768)/65536.0) AS BIGINT))) AS r,
             GREATEST(0, LEAST(255, yv - CAST(floor((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT))) AS g,
             GREATEST(0, LEAST(255, yv + CAST(floor((116130*cb + 32768)/65536.0) AS BIGINT))) AS b
           FROM jsb
         ), jsq AS (
           SELECT doc_id, sum((r + g + b) * vis) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM jscc GROUP BY doc_id
         )
         -- GIF: pixel (x,y) = palette((x*7 + y*11 + id) % 16) with
         -- palette i -> ((i*37+5)%256, (i*59+11)%256, (i*83+23)%256);
         -- odd ids are interlaced but decode to the identical raster
         , gifp AS (
           SELECT d.doc_id,
                  ((x.x*7 + y.y*11 + d.doc_id) % 16) AS i
           FROM documents d
           JOIN range(0, 30) x(x) ON x.x < 13 + d.doc_id % 17
           JOIN range(0, 17) y(y) ON y.y < 8 + d.doc_id % 9
         ), gifc AS (
           SELECT doc_id,
                  (i*37 + 5) % 256 AS r, (i*59 + 11) % 256 AS g,
                  (i*83 + 23) % 256 AS b
           FROM gifp
         ), gif AS (
           SELECT doc_id, sum(r + g + b) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM gifc GROUP BY doc_id
         )
         -- decoded pixels of the AC seed block, row-major (y*8+x)
         , jac(i, v) AS (VALUES
           (0,151),(1,138),(2,126),(3,127),(4,134),(5,133),(6,120),(7,106),
           (8,143),(9,130),(10,118),(11,120),(12,128),(13,129),(14,117),(15,103),
           (16,141),(17,128),(18,117),(19,119),(20,129),(21,132),(22,122),(23,109),
           (24,143),(25,129),(26,117),(27,119),(28,130),(29,134),(30,125),(31,114),
           (32,146),(33,131),(34,117),(35,117),(36,126),(37,130),(38,122),(39,111),
           (40,162),(41,146),(42,129),(43,125),(44,132),(45,134),(46,124),(47,113),
           (48,181),(49,163),(50,143),(51,136),(52,139),(53,138),(54,128),(55,116),
           (56,187),(57,168),(58,146),(59,136),(60,137),(61,135),(62,123),(63,111))
         -- JPEG -> 8x8 nearest-neighbor resize -> PNG transcode, decoded
         -- again: source pixel (sx, sy) = (x*w//8, y*h//8) reads the AC
         -- block when sx,sy < 8, else its block constant
         , jr AS (
           SELECT d.doc_id,
                  sum(CASE WHEN (xx.x*(20 + d.doc_id % 37)) // 8 < 8
                            AND (yy.y*(11 + d.doc_id % 13)) // 8 < 8
                      THEN a.v
                      ELSE ( ((xx.x*(20 + d.doc_id % 37)) // 64) * 29
                           + ((yy.y*(11 + d.doc_id % 13)) // 64) * 41
                           + d.doc_id*7) % 256 END) AS s
           FROM documents d
           CROSS JOIN range(0, 8) xx(x)
           CROSS JOIN range(0, 8) yy(y)
           JOIN jac a ON a.i = (((yy.y*(11 + d.doc_id % 13)) // 8) % 8) * 8
                             + (((xx.x*(20 + d.doc_id % 37)) // 8) % 8)
           GROUP BY d.doc_id
         )
         SELECT d.doc_id,
         CAST(16 + d.doc_id % 32 AS BIGINT) AS img_w,
         CAST(9 + d.doc_id % 7 AS BIGINT) AS img_h,
         CAST(img.s AS BIGINT) AS px_sum,
         CAST(img.mn AS BIGINT) AS px_min,
         CAST(img.mx AS BIGINT) AS px_max,
         CAST(rs.s AS BIGINT) AS rs_sum,
         CAST(100 + d.doc_id % 50 AS BIGINT) AS wav_n,
         CAST(pcm.s AS BIGINT) AS pcm_sum,
         CAST(pcm.q AS BIGINT) AS pcm_sqsum,
         CAST(pcm.pk AS BIGINT) AS pcm_peak,
         CAST(pcm.fss AS BIGINT) AS fs_sum,
         CAST(3 AS BIGINT) AS rgb_ch,
         CAST(rgb.s AS BIGINT) AS rgb_sum,
         CAST(20 + d.doc_id % 37 AS BIGINT) AS jg_w,
         CAST(11 + d.doc_id % 13 AS BIGINT) AS jg_h,
         CAST(jg.s AS BIGINT) AS jg_sum,
         CAST(jg.mn AS BIGINT) AS jg_min,
         CAST(jg.mx AS BIGINT) AS jg_max,
         CAST(3 AS BIGINT) AS jc_ch,
         CAST(jc.s AS BIGINT) AS jc_sum,
         CAST(jc.mn AS BIGINT) AS jc_min,
         CAST(jc.mx AS BIGINT) AS jc_max,
         CAST(jr.s AS BIGINT) AS jr_sum,
         CAST(17 + d.doc_id % 29 AS BIGINT) AS jp_w,
         CAST(10 + d.doc_id % 9 AS BIGINT) AS jp_h,
         CAST(jp.s AS BIGINT) AS jp_sum,
         CAST(jp.mn AS BIGINT) AS jp_min,
         CAST(jp.mx AS BIGINT) AS jp_max,
         CAST(3 AS BIGINT) AS jpc_ch,
         CAST(jpc.s AS BIGINT) AS jpc_sum,
         CAST(jpc.mn AS BIGINT) AS jpc_min,
         CAST(jpc.mx AS BIGINT) AS jpc_max,
         CAST(11 + d.doc_id % 19 AS BIGINT) AS js_w,
         CAST(jsq.s AS BIGINT) AS js_sum,
         CAST(jsq.mn AS BIGINT) AS js_min,
         CAST(jsq.mx AS BIGINT) AS js_max,
         CAST(13 + d.doc_id % 17 AS BIGINT) AS gif_w,
         CAST(8 + d.doc_id % 9 AS BIGINT) AS gif_h,
         CAST(gif.s AS BIGINT) AS gif_sum,
         CAST(gif.mn AS BIGINT) AS gif_min,
         CAST(gif.mx AS BIGINT) AS gif_max
         FROM documents d
         JOIN img ON img.doc_id = d.doc_id
         JOIN rs ON rs.doc_id = d.doc_id
         JOIN pcm ON pcm.doc_id = d.doc_id
         JOIN rgb ON rgb.doc_id = d.doc_id
         JOIN jg ON jg.doc_id = d.doc_id
         JOIN jc ON jc.doc_id = d.doc_id
         JOIN jr ON jr.doc_id = d.doc_id
         JOIN jp ON jp.doc_id = d.doc_id
         JOIN jpc ON jpc.doc_id = d.doc_id
         JOIN jsq ON jsq.doc_id = d.doc_id
         JOIN gif ON gif.doc_id = d.doc_id""",
    // widened PNG envelope replay: palette i -> ((i*41+7)%256,
    // (i*61+13)%256, (i*89+29)%256); tRNS alpha (i*53+17)%256 for i<8,
    // spec-default 255 beyond; gray+alpha and RGBA lanes are direct pixel
    // formulas; rz replays the integer-floor 6x6 resize of the RGBA lane.
    // Adam7 row order never appears here because interlace is a pure
    // re-ordering — identical rasters, identical sums.
    "mm_png_envelope" ->
      """WITH p3i AS (
           SELECT d.doc_id, (x.x*5 + y.y*13 + d.doc_id) % 16 AS i
           FROM documents d
           JOIN range(0, 31) x(x) ON x.x < 12 + d.doc_id % 19
           JOIN range(0, 20) y(y) ON y.y < 7 + d.doc_id % 13
         ), p3c AS (
           SELECT doc_id, (i*41+7)%256 AS r, (i*61+13)%256 AS g,
                  (i*89+29)%256 AS b
           FROM p3i
         ), p3 AS (
           SELECT doc_id, sum(r+g+b) AS s, min(LEAST(r,g,b)) AS mn,
                  max(GREATEST(r,g,b)) AS mx
           FROM p3c GROUP BY doc_id
         ), p3ai AS (
           SELECT d.doc_id, (x.x*11 + y.y*3 + d.doc_id) % 16 AS i
           FROM documents d
           JOIN range(0, 27) x(x) ON x.x < 10 + d.doc_id % 17
           JOIN range(0, 17) y(y) ON y.y < 6 + d.doc_id % 11
         ), p3ac AS (
           SELECT doc_id, (i*41+7)%256 AS r, (i*61+13)%256 AS g,
                  (i*89+29)%256 AS b,
                  CASE WHEN i < 8 THEN (i*53+17)%256 ELSE 255 END AS a
           FROM p3ai
         ), p3a AS (
           SELECT doc_id, sum(r+g+b+a) AS s, min(LEAST(r,g,b,a)) AS mn,
                  max(GREATEST(r,g,b,a)) AS mx
           FROM p3ac GROUP BY doc_id
         ), gac AS (
           SELECT d.doc_id, (x.x*23 + y.y*29 + d.doc_id) % 256 AS g,
                  (x.x*13 + y.y*17 + d.doc_id) % 256 AS a
           FROM documents d
           JOIN range(0, 23) x(x) ON x.x < 14 + d.doc_id % 9
           JOIN range(0, 11) y(y) ON y.y < 5 + d.doc_id % 6
         ), ga AS (
           SELECT doc_id, sum(g+a) AS s, min(LEAST(g,a)) AS mn,
                  max(GREATEST(g,a)) AS mx
           FROM gac GROUP BY doc_id
         ), rac AS (
           SELECT d.doc_id,
                  (x.x*19 + y.y*7 + d.doc_id) % 256 AS r,
                  (x.x*19 + y.y*7 + d.doc_id + 71) % 256 AS g,
                  (x.x*19 + y.y*7 + d.doc_id + 142) % 256 AS b,
                  (x.x*3 + y.y*5 + d.doc_id) % 256 AS a
           FROM documents d
           JOIN range(0, 20) x(x) ON x.x < 9 + d.doc_id % 11
           JOIN range(0, 13) y(y) ON y.y < 6 + d.doc_id % 7
         ), ra AS (
           SELECT doc_id, sum(r+g+b+a) AS s, min(LEAST(r,g,b,a)) AS mn,
                  max(GREATEST(r,g,b,a)) AS mx
           FROM rac GROUP BY doc_id
         ), rz AS (
           SELECT d.doc_id,
                  sum( ((xx.x*(9 + d.doc_id % 11))//6*19
                      + (yy.y*(6 + d.doc_id % 7))//6*7 + d.doc_id) % 256
                     + ((xx.x*(9 + d.doc_id % 11))//6*19
                      + (yy.y*(6 + d.doc_id % 7))//6*7 + d.doc_id + 71) % 256
                     + ((xx.x*(9 + d.doc_id % 11))//6*19
                      + (yy.y*(6 + d.doc_id % 7))//6*7 + d.doc_id + 142) % 256
                     + ((xx.x*(9 + d.doc_id % 11))//6*3
                      + (yy.y*(6 + d.doc_id % 7))//6*5 + d.doc_id) % 256 ) AS s
           FROM documents d
           CROSS JOIN range(0, 6) xx(x)
           CROSS JOIN range(0, 6) yy(y)
           GROUP BY d.doc_id
         )
         SELECT d.doc_id,
         CAST(3 AS BIGINT) AS p3_ch,
         CAST(p3.s AS BIGINT) AS p3_sum,
         CAST(p3.mn AS BIGINT) AS p3_min,
         CAST(p3.mx AS BIGINT) AS p3_max,
         CAST(4 AS BIGINT) AS p3a_ch,
         CAST(p3a.s AS BIGINT) AS p3a_sum,
         CAST(p3a.mn AS BIGINT) AS p3a_min,
         CAST(p3a.mx AS BIGINT) AS p3a_max,
         CAST(2 AS BIGINT) AS ga_ch,
         CAST(ga.s AS BIGINT) AS ga_sum,
         CAST(ga.mn AS BIGINT) AS ga_min,
         CAST(ga.mx AS BIGINT) AS ga_max,
         CAST(4 AS BIGINT) AS ra_ch,
         CAST(ra.s AS BIGINT) AS ra_sum,
         CAST(ra.mn AS BIGINT) AS ra_min,
         CAST(ra.mx AS BIGINT) AS ra_max,
         CAST(rz.s AS BIGINT) AS rz_sum
         FROM documents d
         JOIN p3 ON p3.doc_id = d.doc_id
         JOIN p3a ON p3a.doc_id = d.doc_id
         JOIN ga ON ga.doc_id = d.doc_id
         JOIN ra ON ra.doc_id = d.doc_id
         JOIN rz ON rz.doc_id = d.doc_id""",
    // AVI/MJPEG replay from the fixture formulas: (16+id%17)x(9+id%11),
    // 3+id%5 frames at 20000+(id%5)*20000 us/frame; frame f's Y block
    // (bx,by) = (bx*29+by*41+id*7+f*13)%256. Constant DC-only blocks
    // decode to their exact constants, so the sampled-frame statistics
    // and the frame-1 -> 8x8 resize -> PNG transcode are plain integer
    // arithmetic; a hash match pins the container walk, the per-frame
    // Huffman+IDCT decode, the resampler and the PNG round-trip at once.
    "mm_video_frames" ->
      """WITH p AS (
           SELECT doc_id, 16 + doc_id % 17 AS w, 9 + doc_id % 11 AS h,
                  3 + doc_id % 5 AS nf,
                  20000 + (doc_id % 5) * 20000 AS usec
           FROM documents
         ), vb AS (
           SELECT p.doc_id,
                  (bx.b*29 + by.b*41 + p.doc_id*7 + f.f*13) % 256 AS v,
                  LEAST(8, p.w - bx.b*8) * LEAST(8, p.h - by.b*8) AS vis
           FROM p
           JOIN range(0, 7) f(f) ON f.f < p.nf AND f.f % 2 = 0
           JOIN range(0, 4) bx(b) ON bx.b*8 < p.w
           JOIN range(0, 3) by(b) ON by.b*8 < p.h
         ), vs AS (
           SELECT doc_id, sum(v * vis) AS s, min(v) AS mn, max(v) AS mx
           FROM vb GROUP BY doc_id
         ), vf AS (
           SELECT p.doc_id,
                  sum((((xx.x * p.w) // 8) // 8 * 29
                     + ((yy.y * p.h) // 8) // 8 * 41
                     + p.doc_id*7 + 13) % 256) AS s
           FROM p
           CROSS JOIN range(0, 8) xx(x)
           CROSS JOIN range(0, 8) yy(y)
           GROUP BY p.doc_id
         )
         SELECT p.doc_id,
         CAST(p.w AS BIGINT) AS v_w,
         CAST(p.h AS BIGINT) AS v_h,
         CAST(p.nf AS BIGINT) AS v_frames,
         CAST(p.usec AS BIGINT) AS v_usec,
         'MJPG' AS v_handler,
         CAST((p.nf + 1) // 2 AS BIGINT) AS vs_sampled,
         CAST((p.nf + 1) // 2 AS BIGINT) AS vs_decoded,
         CAST(vs.s AS BIGINT) AS vs_sum,
         CAST(vs.mn AS BIGINT) AS vs_min,
         CAST(vs.mx AS BIGINT) AS vs_max,
         CAST(vf.s AS BIGINT) AS vf_sum
         FROM p
         JOIN vs ON vs.doc_id = p.doc_id
         JOIN vf ON vf.doc_id = p.doc_id""",
    // audio-depth replay: 8-bit v(i) = (i*13+id)%256-128 over 80+id%40;
    // 24-bit v = (i*2113+id*17)%2^24-2^23 over 60+id%30; 32-bit v =
    // ((i*9973+id*31)%400001-200000)*1000 over 40+id%20. Zero crossings
    // are sign flips between consecutive channel-0 samples (lag window);
    // fs replays the every-3rd-frame decimation of the 24-bit lane.
    "mm_audio_depth" ->
      """WITH v8 AS (
           SELECT d.doc_id, i.i AS i, (i.i*13 + d.doc_id) % 256 - 128 AS v
           FROM documents d
           JOIN range(0, 120) i(i) ON i.i < 80 + d.doc_id % 40
         ), z8 AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM v8
         ), a8 AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM z8 GROUP BY doc_id
         ), v24 AS (
           SELECT d.doc_id, i.i AS i,
                  (i.i*2113 + d.doc_id*17) % 16777216 - 8388608 AS v
           FROM documents d
           JOIN range(0, 90) i(i) ON i.i < 60 + d.doc_id % 30
         ), z24 AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM v24
         ), a24 AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM z24 GROUP BY doc_id
         ), fs AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s
           FROM v24 WHERE i % 3 = 0 GROUP BY doc_id
         ), v32 AS (
           SELECT d.doc_id, i.i AS i,
                  ((i.i*9973 + d.doc_id*31) % 400001 - 200000) * 1000 AS v
           FROM documents d
           JOIN range(0, 60) i(i) ON i.i < 40 + d.doc_id % 20
         ), z32 AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM v32
         ), a32 AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM z32 GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(a8.n AS BIGINT) AS a8_n, CAST(8 AS BIGINT) AS a8_bits,
         CAST(a8.s AS BIGINT) AS a8_sum, CAST(a8.q AS BIGINT) AS a8_sqsum,
         CAST(a8.pk AS BIGINT) AS a8_peak, CAST(a8.zc AS BIGINT) AS a8_zc,
         CAST(a24.n AS BIGINT) AS a24_n, CAST(24 AS BIGINT) AS a24_bits,
         CAST(a24.s AS BIGINT) AS a24_sum, CAST(a24.q AS BIGINT) AS a24_sqsum,
         CAST(a24.pk AS BIGINT) AS a24_peak, CAST(a24.zc AS BIGINT) AS a24_zc,
         CAST(a32.n AS BIGINT) AS a32_n, CAST(32 AS BIGINT) AS a32_bits,
         CAST(a32.s AS BIGINT) AS a32_sum, CAST(a32.q AS BIGINT) AS a32_sqsum,
         CAST(a32.pk AS BIGINT) AS a32_peak, CAST(a32.zc AS BIGINT) AS a32_zc,
         CAST(fs.n AS BIGINT) AS fs_n, CAST(fs.s AS BIGINT) AS fs_sum
         FROM documents d
         JOIN a8 ON a8.doc_id = d.doc_id
         JOIN a24 ON a24.doc_id = d.doc_id
         JOIN a32 ON a32.doc_id = d.doc_id
         JOIN fs ON fs.doc_id = d.doc_id""",
    // 16-bit PNG replay: gray16 (13+id%11)x(6+id%9) sample
    // (x*2311+y*3571+id*97)%65536; RGB16 (8+id%9)x(5+id%8) channel c adds
    // c*7919. Interlace is a re-ordering; sums/extrema are order-free.
    // Resize lanes replay the nearest-neighbor floor map: dst (x,y)
    // samples src (x*srcW//dstW, y*srcH//dstH) — gray16 → 7x5, RGB16 →
    // 6x4 — at the SOURCE formulas (full 16-bit precision preserved).
    "mm_png16" ->
      """WITH g AS (
           SELECT d.doc_id,
                  sum((x.x*2311 + y.y*3571 + d.doc_id*97) % 65536) AS s,
                  min((x.x*2311 + y.y*3571 + d.doc_id*97) % 65536) AS mn,
                  max((x.x*2311 + y.y*3571 + d.doc_id*97) % 65536) AS mx
           FROM documents d
           JOIN range(0, 24) x(x) ON x.x < 13 + d.doc_id % 11
           JOIN range(0, 15) y(y) ON y.y < 6 + d.doc_id % 9
           GROUP BY d.doc_id
         ), cc AS (
           SELECT d.doc_id,
                  (x.x*2311 + y.y*3571 + d.doc_id*97 + c.c*7919) % 65536 AS v
           FROM documents d
           JOIN range(0, 17) x(x) ON x.x < 8 + d.doc_id % 9
           JOIN range(0, 13) y(y) ON y.y < 5 + d.doc_id % 8
           CROSS JOIN range(0, 3) c(c)
         ), c16 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM cc GROUP BY doc_id
         ), rg AS (
           SELECT d.doc_id,
                  ((x.x*(13 + d.doc_id % 11)//7)*2311 +
                   (y.y*(6 + d.doc_id % 9)//5)*3571 +
                   d.doc_id*97) % 65536 AS v
           FROM documents d
           CROSS JOIN range(0, 7) x(x)
           CROSS JOIN range(0, 5) y(y)
         ), r16 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM rg GROUP BY doc_id
         ), sg AS (
           SELECT d.doc_id,
                  ((x.x*(8 + d.doc_id % 9)//6)*2311 +
                   (y.y*(5 + d.doc_id % 8)//4)*3571 +
                   d.doc_id*97 + c.c*7919) % 65536 AS v
           FROM documents d
           CROSS JOIN range(0, 6) x(x)
           CROSS JOIN range(0, 4) y(y)
           CROSS JOIN range(0, 3) c(c)
         ), s16 AS (
           SELECT doc_id, sum(v) AS s FROM sg GROUP BY doc_id
         ), kg AS (
           SELECT d.doc_id,
                  (x.x*2311 + y.y*3571 + d.doc_id*97) % 65536 AS v,
                  (2311 + 3571 + d.doc_id*97) % 65536 AS k
           FROM documents d
           JOIN range(0, 16) x(x) ON x.x < 9 + d.doc_id % 7
           JOIN range(0, 11) y(y) ON y.y < 5 + d.doc_id % 6
         ), k16 AS (
           SELECT doc_id,
                  sum(v + CASE WHEN v = k THEN 0 ELSE 65535 END) AS s,
                  min(LEAST(v, CASE WHEN v = k THEN 0 ELSE 65535 END)) AS mn,
                  max(GREATEST(v, CASE WHEN v = k THEN 0
                               ELSE 65535 END)) AS mx
           FROM kg GROUP BY doc_id
         ), ckv AS (
           SELECT d.doc_id,
                  (x.x*2311 + y.y*3571 + d.doc_id*97) % 65536 AS r,
                  (x.x*2311 + y.y*3571 + d.doc_id*97 + 7919) % 65536 AS g,
                  (x.x*2311 + y.y*3571 + d.doc_id*97 + 15838) % 65536 AS b,
                  (2*2311 + 1*3571 + d.doc_id*97) % 65536 AS k0,
                  (2*2311 + 1*3571 + d.doc_id*97 + 7919) % 65536 AS k1,
                  (2*2311 + 1*3571 + d.doc_id*97 + 15838) % 65536 AS k2
           FROM documents d
           JOIN range(0, 13) x(x) ON x.x < 7 + d.doc_id % 6
           JOIN range(0, 9) y(y) ON y.y < 4 + d.doc_id % 5
         ), ck AS (
           SELECT doc_id,
                  sum(r + g + b + CASE WHEN r = k0 AND g = k1 AND b = k2
                      THEN 0 ELSE 65535 END) AS s,
                  min(LEAST(r, g, b, CASE WHEN r = k0 AND g = k1 AND b = k2
                      THEN 0 ELSE 65535 END)) AS mn,
                  max(GREATEST(r, g, b,
                      CASE WHEN r = k0 AND g = k1 AND b = k2
                      THEN 0 ELSE 65535 END)) AS mx
           FROM ckv GROUP BY doc_id
         ), krg AS (
           SELECT d.doc_id,
                  ((x.x*(9 + d.doc_id % 7)//5)*2311 +
                   (y.y*(5 + d.doc_id % 6)//4)*3571 +
                   d.doc_id*97) % 65536 AS v,
                  (2311 + 3571 + d.doc_id*97) % 65536 AS k
           FROM documents d
           CROSS JOIN range(0, 5) x(x)
           CROSS JOIN range(0, 4) y(y)
         ), kr AS (
           SELECT doc_id,
                  sum(v + CASE WHEN v = k THEN 0 ELSE 65535 END) AS s
           FROM krg GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(13 + d.doc_id % 11 AS BIGINT) AS g16_w,
         CAST(6 + d.doc_id % 9 AS BIGINT) AS g16_h,
         CAST(1 AS BIGINT) AS g16_ch,
         CAST(g.s AS BIGINT) AS g16_sum,
         CAST(g.mn AS BIGINT) AS g16_min,
         CAST(g.mx AS BIGINT) AS g16_max,
         CAST(3 AS BIGINT) AS c16_ch,
         CAST(c16.s AS BIGINT) AS c16_sum,
         CAST(c16.mn AS BIGINT) AS c16_min,
         CAST(c16.mx AS BIGINT) AS c16_max,
         CAST(7 AS BIGINT) AS r16_w,
         CAST(5 AS BIGINT) AS r16_h,
         CAST(1 AS BIGINT) AS r16_ch,
         CAST(r16.s AS BIGINT) AS r16_sum,
         CAST(r16.mn AS BIGINT) AS r16_min,
         CAST(r16.mx AS BIGINT) AS r16_max,
         CAST(3 AS BIGINT) AS s16_ch,
         CAST(s16.s AS BIGINT) AS s16_sum,
         CAST(2 AS BIGINT) AS k16_ch,
         CAST(k16.s AS BIGINT) AS k16_sum,
         CAST(k16.mn AS BIGINT) AS k16_min,
         CAST(k16.mx AS BIGINT) AS k16_max,
         CAST(4 AS BIGINT) AS ck_ch,
         CAST(ck.s AS BIGINT) AS ck_sum,
         CAST(ck.mn AS BIGINT) AS ck_min,
         CAST(ck.mx AS BIGINT) AS ck_max,
         CAST(2 AS BIGINT) AS kr_ch,
         CAST(kr.s AS BIGINT) AS kr_sum
         FROM documents d
         JOIN g ON g.doc_id = d.doc_id
         JOIN c16 ON c16.doc_id = d.doc_id
         JOIN r16 ON r16.doc_id = d.doc_id
         JOIN s16 ON s16.doc_id = d.doc_id
         JOIN k16 ON k16.doc_id = d.doc_id
         JOIN ck ON ck.doc_id = d.doc_id
         JOIN kr ON kr.doc_id = d.doc_id""",
    // animated GIF replay: (11+id%13) x (7+id%7), 2+id%5 frames; frame 0
    // pixel (x,y) -> palette((x*3 + y*7 + id) % 16) with palette
    // i -> ((i*43+3)%256, (i*67+9)%256, (i*97+27)%256)
    "mm_gif_anim" ->
      """WITH gp AS (
           SELECT d.doc_id, ((x.x*3 + y.y*7 + d.doc_id) % 16) AS i
           FROM documents d
           JOIN range(0, 24) x(x) ON x.x < 11 + d.doc_id % 13
           JOIN range(0, 14) y(y) ON y.y < 7 + d.doc_id % 7
         ), gc AS (
           SELECT doc_id, (i*43 + 3) % 256 AS r, (i*67 + 9) % 256 AS g,
                  (i*97 + 27) % 256 AS b
           FROM gp
         ), g1 AS (
           SELECT doc_id, sum(r + g + b) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM gc GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(11 + d.doc_id % 13 AS BIGINT) AS ga_w,
         CAST(7 + d.doc_id % 7 AS BIGINT) AS ga_h,
         CAST(2 + d.doc_id % 5 AS BIGINT) AS ga_frames,
         CAST(g1.s AS BIGINT) AS g1_sum,
         CAST(g1.mn AS BIGINT) AS g1_min,
         CAST(g1.mx AS BIGINT) AS g1_max
         FROM documents d
         JOIN g1 ON g1.doc_id = d.doc_id""",
    // compositing replay: per-pixel CASE over the disposal rules. Frame
    // f's index at global (x,y) is (x*3+y*7+id+f*5)%16, transparent
    // index 15 on f1/f3; canvas state per displayed frame k:
    //  k0 = i0 (full-screen base, disposal 1 leaves it)
    //  k1 = i1 inside rect A where i1!=15, else i0 (f1 then restores-to-
    //       previous, so its paint vanishes before f2)
    //  k2 = i2 inside rect B, else i0 (f2 then restores-to-background,
    //       punching B transparent)
    //  k3 = i3 inside rect C where i3!=15; else transparent (-1) inside
    //       the B hole; else i0
    // Stats sum R+G+B over opaque pixels, extrema over channel bytes.
    "mm_gif_compose" ->
      """WITH px AS (
           SELECT d.doc_id AS id, x.x AS x, y.y AS y,
             (x.x >= 1 + d.doc_id % 3 AND
              x.x < 1 + d.doc_id % 3 + 5 + d.doc_id % 4 AND
              y.y >= 1 + d.doc_id % 2 AND
              y.y < 1 + d.doc_id % 2 + 3 + d.doc_id % 3) AS in_a,
             (x.x >= 2 + d.doc_id % 3 AND
              x.x < 2 + d.doc_id % 3 + 4 + d.doc_id % 3 AND
              y.y < 5 + d.doc_id % 2) AS in_b,
             (x.x >= d.doc_id % 4 AND
              x.x < d.doc_id % 4 + 6 + d.doc_id % 2 AND
              y.y >= 1 + d.doc_id % 3 AND
              y.y < 1 + d.doc_id % 3 + 3 + d.doc_id % 2) AS in_c,
             (x.x*3 + y.y*7 + d.doc_id) % 16 AS i0,
             (x.x*3 + y.y*7 + d.doc_id + 5) % 16 AS i1,
             (x.x*3 + y.y*7 + d.doc_id + 10) % 16 AS i2,
             (x.x*3 + y.y*7 + d.doc_id + 15) % 16 AS i3
           FROM documents d
           JOIN range(0, 24) x(x) ON x.x < 11 + d.doc_id % 13
           JOIN range(0, 14) y(y) ON y.y < 7 + d.doc_id % 7
         ), st AS (
           SELECT id, i0 AS k0,
             CASE WHEN in_a AND i1 != 15 THEN i1 ELSE i0 END AS k1,
             CASE WHEN in_b THEN i2 ELSE i0 END AS k2,
             CASE WHEN in_c AND i3 != 15 THEN i3
                  WHEN in_b THEN -1 ELSE i0 END AS k3
           FROM px
         ), ch AS (
           SELECT id, k3,
             (k0*43+3)%256 AS r0, (k0*67+9)%256 AS g0, (k0*97+27)%256 AS b0,
             (k1*43+3)%256 AS r1, (k1*67+9)%256 AS g1, (k1*97+27)%256 AS b1,
             (k2*43+3)%256 AS r2, (k2*67+9)%256 AS g2, (k2*97+27)%256 AS b2,
             (k3*43+3)%256 AS r3, (k3*67+9)%256 AS g3, (k3*97+27)%256 AS b3
           FROM st
         ), f AS (
           SELECT id, count(*) AS np,
             sum(r0+g0+b0) AS s0,
             min(LEAST(r0,g0,b0)) AS mn0, max(GREATEST(r0,g0,b0)) AS mx0,
             sum(r1+g1+b1) AS s1,
             min(LEAST(r1,g1,b1)) AS mn1, max(GREATEST(r1,g1,b1)) AS mx1,
             sum(r2+g2+b2) AS s2,
             min(LEAST(r2,g2,b2)) AS mn2, max(GREATEST(r2,g2,b2)) AS mx2,
             sum(CASE WHEN k3 >= 0 THEN r3+g3+b3 ELSE 0 END) AS s3,
             sum(CASE WHEN k3 >= 0 THEN 1 ELSE 0 END) AS o3,
             min(CASE WHEN k3 >= 0 THEN LEAST(r3,g3,b3) END) AS mn3,
             max(CASE WHEN k3 >= 0 THEN GREATEST(r3,g3,b3) END) AS mx3
           FROM ch GROUP BY id
         )
         SELECT d.doc_id,
         CAST(11 + d.doc_id % 13 AS BIGINT) AS gc_w,
         CAST(7 + d.doc_id % 7 AS BIGINT) AS gc_h,
         CAST(4 AS BIGINT) AS gc_nf,
         CAST(f.s0 AS BIGINT) AS f0_sum, CAST(f.np AS BIGINT) AS f0_op,
         CAST(f.mn0 AS BIGINT) AS f0_mn, CAST(f.mx0 AS BIGINT) AS f0_mx,
         CAST(f.s1 AS BIGINT) AS f1_sum, CAST(f.np AS BIGINT) AS f1_op,
         CAST(f.mn1 AS BIGINT) AS f1_mn, CAST(f.mx1 AS BIGINT) AS f1_mx,
         CAST(f.s2 AS BIGINT) AS f2_sum, CAST(f.np AS BIGINT) AS f2_op,
         CAST(f.mn2 AS BIGINT) AS f2_mn, CAST(f.mx2 AS BIGINT) AS f2_mx,
         CAST(f.s3 AS BIGINT) AS f3_sum, CAST(f.o3 AS BIGINT) AS f3_op,
         CAST(f.mn3 AS BIGINT) AS f3_mn, CAST(f.mx3 AS BIGINT) AS f3_mx,
         CAST(4 AS BIGINT) AS p3_ch,
         CAST(f.s3 + 255 * f.o3 AS BIGINT) AS p3_sum,
         CAST(CASE WHEN f.o3 < f.np THEN 0 ELSE f.mn3 END AS BIGINT) AS p3_mn,
         CAST(CASE WHEN f.o3 > 0 THEN 255 ELSE 0 END AS BIGINT) AS p3_mx
         FROM documents d
         JOIN f ON f.id = d.doc_id""",
    // G.711 replay: µ-law byte b -> u = 255-b (the complement),
    // v = ±(((u&15)*8 + 132) * 2^((u&112)//16) - 132) signed by u&128;
    // A-law byte b -> a = b xor 0x55 (as (b|85)-(b&85)),
    // t = CASE seg: (a&15)*16 + {8, 264, then *2^(seg-1)}, v = ±t by
    // a&128. Zero crossings via lag; fs replays the every-2nd-frame
    // decimation of the µ-law lane (codec-preserving re-encode).
    "mm_audio_g711" ->
      """WITH ub AS (
           SELECT d.doc_id, i.i AS i,
                  255 - ((i.i*29 + d.doc_id*13) % 256) AS u
           FROM documents d
           JOIN range(0, 105) i(i) ON i.i < 70 + d.doc_id % 35
         ), uv AS (
           SELECT doc_id, i,
                  CASE WHEN (u & 128) != 0
                    THEN 132 - (((u & 15)*8 + 132) * (1 << ((u & 112) // 16)))
                    ELSE (((u & 15)*8 + 132) * (1 << ((u & 112) // 16))) - 132
                  END AS v
           FROM ub
         ), uz AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM uv
         ), ua AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM uz GROUP BY doc_id
         ), fs AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s
           FROM uv WHERE i % 2 = 0 GROUP BY doc_id
         ), ab AS (
           SELECT d.doc_id, i.i AS i,
                  (((i.i*37 + d.doc_id*11) % 256) | 85)
                    - (((i.i*37 + d.doc_id*11) % 256) & 85) AS a
           FROM documents d
           JOIN range(0, 90) i(i) ON i.i < 65 + d.doc_id % 25
         ), av AS (
           SELECT doc_id, i,
                  CASE WHEN (a & 128) != 0 THEN 1 ELSE -1 END *
                  CASE (a & 112) // 16
                    WHEN 0 THEN (a & 15)*16 + 8
                    WHEN 1 THEN (a & 15)*16 + 264
                    ELSE ((a & 15)*16 + 264) * (1 << ((a & 112) // 16 - 1))
                  END AS v
           FROM ab
         ), az AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM av
         ), aa AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM az GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(ua.n AS BIGINT) AS u_n, CAST(ua.s AS BIGINT) AS u_sum,
         CAST(ua.q AS BIGINT) AS u_sqsum, CAST(ua.pk AS BIGINT) AS u_peak,
         CAST(ua.zc AS BIGINT) AS u_zc,
         CAST(aa.n AS BIGINT) AS a_n, CAST(aa.s AS BIGINT) AS a_sum,
         CAST(aa.q AS BIGINT) AS a_sqsum, CAST(aa.pk AS BIGINT) AS a_peak,
         CAST(aa.zc AS BIGINT) AS a_zc,
         CAST(fs.n AS BIGINT) AS fs_n, CAST(fs.s AS BIGINT) AS fs_sum
         FROM documents d
         JOIN ua ON ua.doc_id = d.doc_id
         JOIN aa ON aa.doc_id = d.doc_id
         JOIN fs ON fs.doc_id = d.doc_id""",
    // float/extensible replay: float lane value ((i*419+id*23)%2049 −
    // 1024)·32 over 50+id%25 samples (the fixture writes k/2^10 floats;
    // floor(f·2^15) = k·32 exactly); extensible-PCM16 stereo interleaved
    // sample j = (j*331+id*7)%65536 − 32768 over 2·(30+id%15), n_samples
    // counts FRAMES, zero crossings over channel 0 (even j) only;
    // extensible-float ((i*257+id*19)%1025 − 512)·64 over 35+id%18; fs
    // replays the every-2nd-frame decimation of the float lane.
    "mm_audio_float" ->
      """WITH fv AS (
           SELECT d.doc_id, i.i AS i,
                  ((i.i*419 + d.doc_id*23) % 2049 - 1024) * 32 AS v
           FROM documents d
           JOIN range(0, 75) i(i) ON i.i < 50 + d.doc_id % 25
         ), fz AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM fv
         ), fa AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM fz GROUP BY doc_id
         ), ffs AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s
           FROM fv WHERE i % 2 = 0 GROUP BY doc_id
         ), ev AS (
           SELECT d.doc_id, j.j AS j,
                  (j.j*331 + d.doc_id*7) % 65536 - 32768 AS v
           FROM documents d
           JOIN range(0, 90) j(j) ON j.j < 2 * (30 + d.doc_id % 15)
         ), ez AS (
           SELECT doc_id, j, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv0
           FROM ev WHERE j % 2 = 0
         ), ea AS (
           SELECT e.doc_id, count(*) AS total, sum(e.v) AS s,
                  sum(e.v*e.v) AS q, max(abs(e.v)) AS pk
           FROM ev e GROUP BY e.doc_id
         ), ezc AS (
           SELECT doc_id,
                  sum(CASE WHEN pv0 IS NOT NULL AND ((v < 0) != (pv0 < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM ez GROUP BY doc_id
         ), xv AS (
           SELECT d.doc_id, i.i AS i,
                  ((i.i*257 + d.doc_id*19) % 1025 - 512) * 64 AS v
           FROM documents d
           JOIN range(0, 53) i(i) ON i.i < 35 + d.doc_id % 18
         ), xa AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk
           FROM xv GROUP BY doc_id
         ), dv AS (
           SELECT d.doc_id, i.i AS i,
                  ((i.i*523 + d.doc_id*29) % 4097 - 2048) * 16 AS v
           FROM documents d
           JOIN range(0, 61) i(i) ON i.i < 40 + d.doc_id % 21
         ), dz AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM dv
         ), da AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM dz GROUP BY doc_id
         ), dfs AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s
           FROM dv WHERE i % 2 = 0 GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(fa.n AS BIGINT) AS f_n, CAST(32 AS BIGINT) AS f_bits,
         CAST(fa.s AS BIGINT) AS f_sum, CAST(fa.q AS BIGINT) AS f_sqsum,
         CAST(fa.pk AS BIGINT) AS f_peak, CAST(fa.zc AS BIGINT) AS f_zc,
         CAST(30 + d.doc_id % 15 AS BIGINT) AS e_n,
         CAST(ea.s AS BIGINT) AS e_sum, CAST(ea.q AS BIGINT) AS e_sqsum,
         CAST(ea.pk AS BIGINT) AS e_peak, CAST(ezc.zc AS BIGINT) AS e_zc,
         CAST(xa.n AS BIGINT) AS ef_n, CAST(xa.s AS BIGINT) AS ef_sum,
         CAST(xa.q AS BIGINT) AS ef_sqsum, CAST(xa.pk AS BIGINT) AS ef_peak,
         CAST(ffs.n AS BIGINT) AS fs_n, CAST(ffs.s AS BIGINT) AS fs_sum,
         CAST(da.n AS BIGINT) AS d_n, CAST(64 AS BIGINT) AS d_bits,
         CAST(da.s AS BIGINT) AS d_sum, CAST(da.q AS BIGINT) AS d_sqsum,
         CAST(da.pk AS BIGINT) AS d_peak, CAST(da.zc AS BIGINT) AS d_zc,
         CAST(dfs.n AS BIGINT) AS ds_n, CAST(dfs.s AS BIGINT) AS ds_sum
         FROM documents d
         JOIN fa ON fa.doc_id = d.doc_id
         JOIN ffs ON ffs.doc_id = d.doc_id
         JOIN ea ON ea.doc_id = d.doc_id
         JOIN ezc ON ezc.doc_id = d.doc_id
         JOIN xa ON xa.doc_id = d.doc_id
         JOIN da ON da.doc_id = d.doc_id
         JOIN dfs ON dfs.doc_id = d.doc_id""",
    // IMA-ADPCM replay: the exact (predictor, step-index) recurrence as a
    // recursive CTE joined to the 89-entry step table — mono lane blocks
    // b<2+id%2 seed pred (id*97+b*411)%1024-512 / index (id+17*b)%89 and
    // advance through nibble (i*7+id*3+b*11)%16 for 40 steps; stereo lane
    // channels c in (0,1) seed (id*97+c*333)%1024-512 / (id+31*c)%89 and
    // advance through (i*7+id*3+c*5)%16 for 8*(4+id%3) steps. n counts
    // FRAMES; zero crossings chain over channel 0 / block order.
    "mm_audio_adpcm" ->
      """WITH RECURSIVE steps(si, st) AS (
           SELECT * FROM (VALUES
           (0,7),(1,8),(2,9),(3,10),(4,11),(5,12),(6,13),(7,14),(8,16),
           (9,17),(10,19),(11,21),(12,23),(13,25),(14,28),(15,31),(16,34),
           (17,37),(18,41),(19,45),(20,50),(21,55),(22,60),(23,66),(24,73),
           (25,80),(26,88),(27,97),(28,107),(29,118),(30,130),(31,143),
           (32,157),(33,173),(34,190),(35,209),(36,230),(37,253),(38,279),
           (39,307),(40,337),(41,371),(42,408),(43,449),(44,494),(45,544),
           (46,598),(47,658),(48,724),(49,796),(50,876),(51,963),(52,1060),
           (53,1166),(54,1282),(55,1411),(56,1552),(57,1707),(58,1878),
           (59,2066),(60,2272),(61,2499),(62,2749),(63,3024),(64,3327),
           (65,3660),(66,4026),(67,4428),(68,4871),(69,5358),(70,5894),
           (71,6484),(72,7132),(73,7845),(74,8630),(75,9493),(76,10442),
           (77,11487),(78,12635),(79,13899),(80,15289),(81,16818),
           (82,18500),(83,20350),(84,22385),(85,24623),(86,27086),
           (87,29794),(88,32767)) t(si, st)
         ), mono(doc_id, b, i, pred, idx) AS (
           SELECT d.doc_id, b.b, 0,
                  CAST((d.doc_id*97 + b.b*411) % 1024 - 512 AS INTEGER),
                  CAST((d.doc_id + 17*b.b) % 89 AS INTEGER)
           FROM documents d
           JOIN (VALUES (0),(1),(2)) b(b) ON b.b < 2 + d.doc_id % 2
           UNION ALL
           SELECT m.doc_id, m.b, m.i + 1,
             GREATEST(-32768, LEAST(32767, m.pred
               + CASE WHEN (((m.i*7 + m.doc_id*3 + m.b*11) % 16) & 8) != 0
                      THEN -1 ELSE 1 END
               * (s.st // 8
                  + CASE WHEN (((m.i*7 + m.doc_id*3 + m.b*11) % 16) & 1) != 0
                         THEN s.st // 4 ELSE 0 END
                  + CASE WHEN (((m.i*7 + m.doc_id*3 + m.b*11) % 16) & 2) != 0
                         THEN s.st // 2 ELSE 0 END
                  + CASE WHEN (((m.i*7 + m.doc_id*3 + m.b*11) % 16) & 4) != 0
                         THEN s.st ELSE 0 END))),
             GREATEST(0, LEAST(88, m.idx
               + CASE WHEN (((m.i*7 + m.doc_id*3 + m.b*11) % 16) & 7) < 4
                      THEN -1
                      ELSE ((((m.i*7 + m.doc_id*3 + m.b*11) % 16) & 7) - 3)
                           * 2 END))
           FROM mono m JOIN steps s ON s.si = m.idx
           WHERE m.i < 40
         ), mz AS (
           SELECT doc_id, pred,
                  lag(pred) OVER (PARTITION BY doc_id ORDER BY b, i) AS pv
           FROM mono
         ), ma AS (
           SELECT doc_id, count(*) AS n, sum(pred) AS s,
                  sum(pred*pred) AS q, max(abs(pred)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((pred < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM mz GROUP BY doc_id
         ), ster(doc_id, c, i, ns, pred, idx) AS (
           SELECT d.doc_id, c.c, 0,
                  8 * (4 + CAST(d.doc_id % 3 AS INTEGER)),
                  CAST((d.doc_id*97 + c.c*333) % 1024 - 512 AS INTEGER),
                  CAST((d.doc_id + 31*c.c) % 89 AS INTEGER)
           FROM documents d JOIN (VALUES (0),(1)) c(c) ON true
           UNION ALL
           SELECT m.doc_id, m.c, m.i + 1, m.ns,
             GREATEST(-32768, LEAST(32767, m.pred
               + CASE WHEN (((m.i*7 + m.doc_id*3 + m.c*5) % 16) & 8) != 0
                      THEN -1 ELSE 1 END
               * (s.st // 8
                  + CASE WHEN (((m.i*7 + m.doc_id*3 + m.c*5) % 16) & 1) != 0
                         THEN s.st // 4 ELSE 0 END
                  + CASE WHEN (((m.i*7 + m.doc_id*3 + m.c*5) % 16) & 2) != 0
                         THEN s.st // 2 ELSE 0 END
                  + CASE WHEN (((m.i*7 + m.doc_id*3 + m.c*5) % 16) & 4) != 0
                         THEN s.st ELSE 0 END))),
             GREATEST(0, LEAST(88, m.idx
               + CASE WHEN (((m.i*7 + m.doc_id*3 + m.c*5) % 16) & 7) < 4
                      THEN -1
                      ELSE ((((m.i*7 + m.doc_id*3 + m.c*5) % 16) & 7) - 3)
                           * 2 END))
           FROM ster m JOIN steps s ON s.si = m.idx
           WHERE m.i < m.ns
         ), sz AS (
           SELECT doc_id, c, pred,
                  lag(pred) OVER (PARTITION BY doc_id, c ORDER BY i) AS pv
           FROM ster
         ), sa AS (
           SELECT doc_id, count(*) // 2 AS n, sum(pred) AS s,
                  sum(pred*pred) AS q, max(abs(pred)) AS pk,
                  sum(CASE WHEN c = 0 AND pv IS NOT NULL
                           AND ((pred < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM sz GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(ma.n AS BIGINT) AS m_n, CAST(4 AS BIGINT) AS m_bits,
         CAST(ma.s AS BIGINT) AS m_sum, CAST(ma.q AS BIGINT) AS m_sqsum,
         CAST(ma.pk AS BIGINT) AS m_peak, CAST(ma.zc AS BIGINT) AS m_zc,
         CAST(sa.n AS BIGINT) AS s_n, CAST(sa.s AS BIGINT) AS s_sum,
         CAST(sa.q AS BIGINT) AS s_sqsum, CAST(sa.pk AS BIGINT) AS s_peak,
         CAST(sa.zc AS BIGINT) AS s_zc
         FROM documents d
         JOIN ma ON ma.doc_id = d.doc_id
         JOIN sa ON sa.doc_id = d.doc_id""",
    // MS-ADPCM replay: the (samp1, samp2, delta) coefficient-pair
    // recurrence as a recursive CTE — frame 0 is iSamp2 (the OLDER
    // header sample first), frame 1 iSamp1, then each signed nibble
    // u(k) advances pred = trunc((s1*c1 + s2*c2)/256) + nib*delta with
    // the int16 clamp and delta = max(16, trunc(Adapt[u]*delta/256)).
    // DuckDB's // truncates toward zero like Java's /, so the replay is
    // exact. Mono lane: blocks b<2+id%2, pair (b*3+id)%7, delta0
    // 16+(id*13+b*7)%500, s1 (id*97+b*411)%1024-512, s2
    // (id*53+b*29)%1024-512, nibble k = (k*7+id*3+b*11)%16, 20 nibbles.
    // Stereo lane: channels c in (0,1), pair (c+id)%7, delta0
    // 16+(id*11+c*5)%300, s1 (id*97+c*333)%1024-512, s2
    // (id*41+c*77)%1024-512, nibble k = (k*7+id*3+c*5)%16 for
    // 8+2*(id%3) nibbles per channel.
    "mm_audio_msadpcm" ->
      """WITH RECURSIVE mono(doc_id, b, i, s1, s2, delta, c1v, c2v) AS (
           SELECT d.doc_id, b.b, 1,
                  CAST((d.doc_id*97 + b.b*411) % 1024 - 512 AS BIGINT),
                  CAST((d.doc_id*53 + b.b*29) % 1024 - 512 AS BIGINT),
                  CAST(16 + (d.doc_id*13 + b.b*7) % 500 AS BIGINT),
                  CAST(CASE (b.b*3 + d.doc_id) % 7 WHEN 0 THEN 256
                       WHEN 1 THEN 512 WHEN 2 THEN 0 WHEN 3 THEN 192
                       WHEN 4 THEN 240 WHEN 5 THEN 460 ELSE 392 END
                       AS BIGINT),
                  CAST(CASE (b.b*3 + d.doc_id) % 7 WHEN 1 THEN -256
                       WHEN 3 THEN 64 WHEN 5 THEN -208 WHEN 6 THEN -232
                       ELSE 0 END AS BIGINT)
           FROM documents d
           JOIN (VALUES (0),(1),(2)) b(b) ON b.b < 2 + d.doc_id % 2
           UNION ALL
           SELECT m.doc_id, m.b, m.i + 1,
             GREATEST(-32768, LEAST(32767,
               (m.s1*m.c1v + m.s2*m.c2v) // 256
               + (CASE WHEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16 >= 8
                       THEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16 - 16
                       ELSE ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16 END)
                 * m.delta)),
             m.s1,
             GREATEST(16,
               (CASE WHEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16
                          IN (4, 12) THEN 307
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16
                          IN (5, 11) THEN 409
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16
                          IN (6, 10) THEN 512
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16
                          IN (7, 9) THEN 614
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.b*11) % 16 = 8
                          THEN 768
                     ELSE 230 END * m.delta) // 256),
             m.c1v, m.c2v
           FROM mono m WHERE m.i < 21
         ), memit AS (
           SELECT d.doc_id, b.b, 0 AS i,
                  CAST((d.doc_id*53 + b.b*29) % 1024 - 512 AS BIGINT) AS v
           FROM documents d
           JOIN (VALUES (0),(1),(2)) b(b) ON b.b < 2 + d.doc_id % 2
           UNION ALL
           SELECT doc_id, b, i, s1 FROM mono
         ), mz AS (
           SELECT doc_id, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY b, i) AS pv
           FROM memit
         ), ma AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM mz GROUP BY doc_id
         ), ster(doc_id, c, i, ns, s1, s2, delta, c1v, c2v) AS (
           SELECT d.doc_id, c.c, 1,
                  CAST(8 + 2 * (d.doc_id % 3) AS INTEGER),
                  CAST((d.doc_id*97 + c.c*333) % 1024 - 512 AS BIGINT),
                  CAST((d.doc_id*41 + c.c*77) % 1024 - 512 AS BIGINT),
                  CAST(16 + (d.doc_id*11 + c.c*5) % 300 AS BIGINT),
                  CAST(CASE (c.c + d.doc_id) % 7 WHEN 0 THEN 256
                       WHEN 1 THEN 512 WHEN 2 THEN 0 WHEN 3 THEN 192
                       WHEN 4 THEN 240 WHEN 5 THEN 460 ELSE 392 END
                       AS BIGINT),
                  CAST(CASE (c.c + d.doc_id) % 7 WHEN 1 THEN -256
                       WHEN 3 THEN 64 WHEN 5 THEN -208 WHEN 6 THEN -232
                       ELSE 0 END AS BIGINT)
           FROM documents d JOIN (VALUES (0),(1)) c(c) ON true
           UNION ALL
           SELECT m.doc_id, m.c, m.i + 1, m.ns,
             GREATEST(-32768, LEAST(32767,
               (m.s1*m.c1v + m.s2*m.c2v) // 256
               + (CASE WHEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16 >= 8
                       THEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16 - 16
                       ELSE ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16 END)
                 * m.delta)),
             m.s1,
             GREATEST(16,
               (CASE WHEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16
                          IN (4, 12) THEN 307
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16
                          IN (5, 11) THEN 409
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16
                          IN (6, 10) THEN 512
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16
                          IN (7, 9) THEN 614
                     WHEN ((m.i-1)*7 + m.doc_id*3 + m.c*5) % 16 = 8
                          THEN 768
                     ELSE 230 END * m.delta) // 256),
             m.c1v, m.c2v
           FROM ster m WHERE m.i < m.ns + 1
         ), semit AS (
           SELECT d.doc_id, c.c, 0 AS i,
                  CAST((d.doc_id*41 + c.c*77) % 1024 - 512 AS BIGINT) AS v
           FROM documents d JOIN (VALUES (0),(1)) c(c) ON true
           UNION ALL
           SELECT doc_id, c, i, s1 FROM ster
         ), sz AS (
           SELECT doc_id, c, v,
                  lag(v) OVER (PARTITION BY doc_id, c ORDER BY i) AS pv
           FROM semit
         ), sa AS (
           SELECT doc_id, count(*) // 2 AS n, sum(v) AS s, sum(v*v) AS q,
                  max(abs(v)) AS pk,
                  sum(CASE WHEN c = 0 AND pv IS NOT NULL
                           AND ((v < 0) != (pv < 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM sz GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(ma.n AS BIGINT) AS m_n, CAST(4 AS BIGINT) AS m_bits,
         CAST(ma.s AS BIGINT) AS m_sum, CAST(ma.q AS BIGINT) AS m_sqsum,
         CAST(ma.pk AS BIGINT) AS m_peak, CAST(ma.zc AS BIGINT) AS m_zc,
         CAST(sa.n AS BIGINT) AS s_n, CAST(sa.s AS BIGINT) AS s_sum,
         CAST(sa.q AS BIGINT) AS s_sqsum, CAST(sa.pk AS BIGINT) AS s_peak,
         CAST(sa.zc AS BIGINT) AS s_zc
         FROM documents d
         JOIN ma ON ma.doc_id = d.doc_id
         JOIN sa ON sa.doc_id = d.doc_id""",
    // Sub-byte PNG replay: raw samples are closed-form, so the decoded
    // bytes replay directly — g1 pixels 255*((x+y*3+id)%2), g2 pixels
    // 85*((x*3+y*5+id)%4), k4 per-pixel (gray, alpha) = (17*v, 0 when
    // v = id%16 else 255) with v=(x*7+y*11+id)%16, p4 per-pixel RGBA
    // from the 16-entry palette (i*17, 255-i*17, (i*53)%256) with tRNS
    // alpha i*16 for i<8 and the spec-default 255 past the array.
    "mm_png_subbyte" ->
      """WITH g1 AS (
           SELECT d.doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT d.doc_id,
                        255*((x.x + y.y*3 + d.doc_id) % 2) AS v
                 FROM documents d
                 JOIN range(0, 31) x(x) ON x.x < 17 + d.doc_id % 14
                 JOIN range(0, 19) y(y) ON y.y < 9 + d.doc_id % 10) d
           GROUP BY doc_id
         ), g2 AS (
           SELECT d.doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT d.doc_id,
                        85*((x.x*3 + y.y*5 + d.doc_id) % 4) AS v
                 FROM documents d
                 JOIN range(0, 20) x(x) ON x.x < 11 + d.doc_id % 9
                 JOIN range(0, 15) y(y) ON y.y < 7 + d.doc_id % 8) d
           GROUP BY doc_id
         ), k4 AS (
           SELECT d.doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT d.doc_id,
                        CASE WHEN c.c = 0
                             THEN 17*((x.x*7 + y.y*11 + d.doc_id) % 16)
                             WHEN (x.x*7 + y.y*11 + d.doc_id) % 16
                                  = d.doc_id % 16 THEN 0
                             ELSE 255 END AS v
                 FROM documents d
                 JOIN range(0, 17) x(x) ON x.x < 9 + d.doc_id % 8
                 JOIN range(0, 13) y(y) ON y.y < 6 + d.doc_id % 7
                 JOIN range(0, 2) c(c) ON true) d
           GROUP BY doc_id
         ), p4 AS (
           SELECT d.doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT d.doc_id,
                        CASE c.c
                          WHEN 0 THEN ((x.x*5 + y.y*7 + d.doc_id) % 16)*17
                          WHEN 1 THEN 255 - ((x.x*5 + y.y*7 + d.doc_id) % 16)*17
                          WHEN 2 THEN (((x.x*5 + y.y*7 + d.doc_id) % 16)*53) % 256
                          ELSE CASE WHEN (x.x*5 + y.y*7 + d.doc_id) % 16 < 8
                                    THEN ((x.x*5 + y.y*7 + d.doc_id) % 16)*16
                                    ELSE 255 END
                        END AS v
                 FROM documents d
                 JOIN range(0, 23) x(x) ON x.x < 13 + d.doc_id % 10
                 JOIN range(0, 17) y(y) ON y.y < 8 + d.doc_id % 9
                 JOIN range(0, 4) c(c) ON true) d
           GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(17 + d.doc_id % 14 AS BIGINT) AS g1_w,
         CAST(9 + d.doc_id % 10 AS BIGINT) AS g1_h,
         CAST(g1.s AS BIGINT) AS g1_sum,
         CAST(g1.mn AS BIGINT) AS g1_min,
         CAST(g1.mx AS BIGINT) AS g1_max,
         CAST(g2.s AS BIGINT) AS g2_sum,
         CAST(g2.mn AS BIGINT) AS g2_min,
         CAST(g2.mx AS BIGINT) AS g2_max,
         CAST(2 AS BIGINT) AS k4_ch,
         CAST(k4.s AS BIGINT) AS k4_sum,
         CAST(k4.mn AS BIGINT) AS k4_min,
         CAST(k4.mx AS BIGINT) AS k4_max,
         CAST(4 AS BIGINT) AS p4_ch,
         CAST(p4.s AS BIGINT) AS p4_sum,
         CAST(p4.mn AS BIGINT) AS p4_min,
         CAST(p4.mx AS BIGINT) AS p4_max
         FROM documents d
         JOIN g1 ON g1.doc_id = d.doc_id
         JOIN g2 ON g2.doc_id = d.doc_id
         JOIN k4 ON k4.doc_id = d.doc_id
         JOIN p4 ON p4.doc_id = d.doc_id""",
    // 12-bit JPEG replay: lane A's DC-only blocks dequantize to
    // 8*(p-2048) and the IDCT's /8 + 2048 level shift lands the
    // closed-form constant p = (bx*37 + by*59 + id*13) % 4096 exactly
    // (floor(x+2048.5) absorbs float dust, the 8-bit gate's own law);
    // lane B's 16-bit quant table (q0=800) lands 2048 + 100*v with
    // v = (bx*7 + by*11 + id*3) % 41 - 20. Pixels replay per (x,y)
    // with bx = x//8, by = y//8 over the cropped w*h grid.
    // Arithmetic-JPEG replay: the QM entropy layer is bit-level state
    // machinery the decoder must invert EXACTLY or the closed forms
    // below cannot come out — constant blocks decode to their constants,
    // the AC-seed block to the independently-IDCT'd 64 pixels (sum 8383,
    // min 103, max 187), color through the fixed-point CCIR 601 formula.
    "mm_jpeg_arith" ->
      """WITH ga AS (
           SELECT d.doc_id,
                  sum(CASE WHEN bx.b = 0 AND by.b = 0 THEN 8383
                      ELSE ((bx.b*31 + by.b*47 + d.doc_id*13) % 256)
                           * (LEAST(8, (14 + d.doc_id % 19) - bx.b*8)
                            * LEAST(8, (10 + d.doc_id % 11) - by.b*8)) END) AS s,
                  LEAST(103, min(CASE WHEN bx.b = 0 AND by.b = 0 THEN 255
                      ELSE (bx.b*31 + by.b*47 + d.doc_id*13) % 256 END)) AS mn,
                  GREATEST(187, max(CASE WHEN bx.b = 0 AND by.b = 0 THEN 0
                      ELSE (bx.b*31 + by.b*47 + d.doc_id*13) % 256 END)) AS mx
           FROM documents d
           JOIN range(0, 5) bx(b) ON bx.b*8 < 14 + d.doc_id % 19
           JOIN range(0, 3) by(b) ON by.b*8 < 10 + d.doc_id % 11
           GROUP BY d.doc_id
         ), gb AS (
           SELECT d.doc_id,
                  sum(CASE WHEN bx.b = 0 AND by.b = 0 THEN 8383
                      ELSE ((bx.b*53 + by.b*19 + d.doc_id*29) % 256)
                           * (LEAST(8, (12 + d.doc_id % 13) - bx.b*8)
                            * LEAST(8, (9 + d.doc_id % 9) - by.b*8)) END) AS s,
                  LEAST(103, min(CASE WHEN bx.b = 0 AND by.b = 0 THEN 255
                      ELSE (bx.b*53 + by.b*19 + d.doc_id*29) % 256 END)) AS mn,
                  GREATEST(187, max(CASE WHEN bx.b = 0 AND by.b = 0 THEN 0
                      ELSE (bx.b*53 + by.b*19 + d.doc_id*29) % 256 END)) AS mx
           FROM documents d
           JOIN range(0, 3) bx(b) ON bx.b*8 < 12 + d.doc_id % 13
           JOIN range(0, 3) by(b) ON by.b*8 < 9 + d.doc_id % 9
           GROUP BY d.doc_id
         ), gp AS (
           SELECT d.doc_id,
                  sum(CASE WHEN bx.b = 0 AND by.b = 0 THEN 8383
                      ELSE ((bx.b*41 + by.b*23 + d.doc_id*19) % 256)
                           * (LEAST(8, (13 + d.doc_id % 17) - bx.b*8)
                            * LEAST(8, (9 + d.doc_id % 10) - by.b*8)) END) AS s,
                  LEAST(103, min(CASE WHEN bx.b = 0 AND by.b = 0 THEN 255
                      ELSE (bx.b*41 + by.b*23 + d.doc_id*19) % 256 END)) AS mn,
                  GREATEST(187, max(CASE WHEN bx.b = 0 AND by.b = 0 THEN 0
                      ELSE (bx.b*41 + by.b*23 + d.doc_id*19) % 256 END)) AS mx
           FROM documents d
           JOIN range(0, 4) bx(b) ON bx.b*8 < 13 + d.doc_id % 17
           JOIN range(0, 3) by(b) ON by.b*8 < 9 + d.doc_id % 10
           GROUP BY d.doc_id
         ), jac(i, v) AS (VALUES
           (0,151),(1,138),(2,126),(3,127),(4,134),(5,133),(6,120),(7,106),
           (8,143),(9,130),(10,118),(11,120),(12,128),(13,129),(14,117),(15,103),
           (16,141),(17,128),(18,117),(19,119),(20,129),(21,132),(22,122),(23,109),
           (24,143),(25,129),(26,117),(27,119),(28,130),(29,134),(30,125),(31,114),
           (32,146),(33,131),(34,117),(35,117),(36,126),(37,130),(38,122),(39,111),
           (40,162),(41,146),(42,129),(43,125),(44,132),(45,134),(46,124),(47,113),
           (48,181),(49,163),(50,143),(51,136),(52,139),(53,138),(54,128),(55,116),
           (56,187),(57,168),(58,146),(59,136),(60,137),(61,135),(62,123),(63,111))
         , msb AS (
           SELECT d.doc_id,
                  CASE WHEN x.x < 8 AND y.y < 8 THEN a.v
                       ELSE ((x.x//8)*43 + (y.y//8)*17 + d.doc_id*23) % 256
                  END AS yv,
                  ((x.x//8)*19 + d.doc_id*3) % 256 - 128 AS cb,
                  ((y.y//8)*37 + d.doc_id*29) % 256 - 128 AS cr
           FROM documents d
           JOIN range(0, 29) x(x) ON x.x < 10 + d.doc_id % 19
           JOIN range(0, 21) y(y) ON y.y < 8 + d.doc_id % 13
           LEFT JOIN jac a ON x.x < 8 AND y.y < 8 AND a.i = y.y*8 + x.x
         ), mscc AS (
           SELECT doc_id,
             GREATEST(0, LEAST(255, yv + CAST(floor((91881*cr + 32768)/65536.0) AS BIGINT))) AS r,
             GREATEST(0, LEAST(255, yv - CAST(floor((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT))) AS g,
             GREATEST(0, LEAST(255, yv + CAST(floor((116130*cb + 32768)/65536.0) AS BIGINT))) AS b
           FROM msb
         ), msagg AS (
           SELECT doc_id, sum(r + g + b) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM mscc GROUP BY doc_id
         ), cb0 AS (
           SELECT d.doc_id,
                  (bx.b*37 + by.b*13 + d.doc_id*17) % 256 AS yv,
                  ((bx.b // 2)*23 + d.doc_id*7) % 256 - 128 AS cb,
                  ((by.b // 2)*29 + d.doc_id*11) % 256 - 128 AS cr,
                  LEAST(8, (11 + d.doc_id % 21) - bx.b*8)
                    * LEAST(8, (8 + d.doc_id % 15) - by.b*8) AS vis
           FROM documents d
           JOIN range(0, 4) bx(b) ON bx.b*8 < 11 + d.doc_id % 21
           JOIN range(0, 3) by(b) ON by.b*8 < 8 + d.doc_id % 15
         ), cc0 AS (
           SELECT doc_id, vis,
             GREATEST(0, LEAST(255, yv + CAST(floor((91881*cr + 32768)/65536.0) AS BIGINT))) AS r,
             GREATEST(0, LEAST(255, yv - CAST(floor((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT))) AS g,
             GREATEST(0, LEAST(255, yv + CAST(floor((116130*cb + 32768)/65536.0) AS BIGINT))) AS b
           FROM cb0
         ), cagg AS (
           SELECT doc_id, sum((r + g + b) * vis) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM cc0 GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(14 + d.doc_id % 19 AS BIGINT) AS a_w,
         CAST(10 + d.doc_id % 11 AS BIGINT) AS a_h,
         CAST(ga.s AS BIGINT) AS a_sum,
         CAST(ga.mn AS BIGINT) AS a_min,
         CAST(ga.mx AS BIGINT) AS a_max,
         CAST(12 + d.doc_id % 13 AS BIGINT) AS b_w,
         CAST(gb.s AS BIGINT) AS b_sum,
         CAST(gb.mn AS BIGINT) AS b_min,
         CAST(gb.mx AS BIGINT) AS b_max,
         CAST(3 AS BIGINT) AS c_ch,
         CAST(cagg.s AS BIGINT) AS c_sum,
         CAST(cagg.mn AS BIGINT) AS c_min,
         CAST(cagg.mx AS BIGINT) AS c_max,
         CAST(13 + d.doc_id % 17 AS BIGINT) AS p_w,
         CAST(9 + d.doc_id % 10 AS BIGINT) AS p_h,
         CAST(gp.s AS BIGINT) AS p_sum,
         CAST(gp.mn AS BIGINT) AS p_min,
         CAST(gp.mx AS BIGINT) AS p_max,
         CAST(3 AS BIGINT) AS ms_ch,
         CAST(msagg.s AS BIGINT) AS ms_sum,
         CAST(msagg.mn AS BIGINT) AS ms_min,
         CAST(msagg.mx AS BIGINT) AS ms_max
         FROM documents d
         JOIN ga ON ga.doc_id = d.doc_id
         JOIN gb ON gb.doc_id = d.doc_id
         JOIN cagg ON cagg.doc_id = d.doc_id
         JOIN gp ON gp.doc_id = d.doc_id
         JOIN msagg ON msagg.doc_id = d.doc_id""",
    "mm_jpeg12" ->
      """WITH ja AS (
           SELECT d.doc_id,
                  ((x.x // 8)*37 + (y.y // 8)*59 + d.doc_id*13) % 4096 AS v
           FROM documents d
           JOIN range(0, 25) x(x) ON x.x < 10 + d.doc_id % 15
           JOIN range(0, 17) y(y) ON y.y < 9 + d.doc_id % 8
         ), jaa AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM ja GROUP BY doc_id
         ), jb AS (
           SELECT d.doc_id,
                  2048 + 100*(((x.x // 8)*7 + (y.y // 8)*11 + d.doc_id*3)
                              % 41 - 20) AS v
           FROM documents d
           JOIN range(0, 20) x(x) ON x.x < 9 + d.doc_id % 11
           JOIN range(0, 17) y(y) ON y.y < 8 + d.doc_id % 9
         ), jba AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM jb GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(10 + d.doc_id % 15 AS BIGINT) AS a_w,
         CAST(9 + d.doc_id % 8 AS BIGINT) AS a_h,
         CAST(jaa.s AS BIGINT) AS a_sum,
         CAST(jaa.mn AS BIGINT) AS a_min,
         CAST(jaa.mx AS BIGINT) AS a_max,
         CAST(9 + d.doc_id % 11 AS BIGINT) AS b_w,
         CAST(jba.s AS BIGINT) AS b_sum,
         CAST(jba.mn AS BIGINT) AS b_min,
         CAST(jba.mx AS BIGINT) AS b_max
         FROM documents d
         JOIN jaa ON jaa.doc_id = d.doc_id
         JOIN jba ON jba.doc_id = d.doc_id""",
    // Lossless-JPEG replay: T.81 H.1.2 reconstruction TELESCOPES into
    // prefix sums of the closed-form fixture diffs for predictors 1/2/4
    // (mod 2^16 distributes over the cumulative sums), so the oracle is
    // pure window SUMs — no recursion. g16 (predictor 1 = Ra, P=16,
    // init 2^15): rx = init + cum(d(0,y')) + cum_{x'>=1}(d(x',y)); the
    // diff stream is 32768 when k%23=7 (k = x + y*w), a wide +-20k draw
    // when k%17=3, else +-600. g12 (predictor 2 = Rb, P=12, pt=2, init
    // 1<<9): rx = init + cum(d(x',0)) + cum_{y'>=1}(d(x,y')), output
    // (rx*4) mod 2^16. c3 (predictor 4 = Ra+Rb-Rc, P=8, init 128):
    // the integral image — rx = init + 2D inclusive prefix sum.
    "mm_jpeg_lossless" ->
      """WITH g16d AS (
           SELECT d.doc_id, x.x, y.y,
                  CASE WHEN (x.x + y.y*(6 + d.doc_id % 5)) % 23 = 7
                       THEN 32768
                       WHEN (x.x + y.y*(6 + d.doc_id % 5)) % 17 = 3
                       THEN (d.doc_id*31 + x.x*3 + y.y*5) % 40000 - 20000
                       ELSE (d.doc_id*7 + x.x*13 + y.y*29) % 1201 - 600
                  END AS dv
           FROM documents d
           JOIN range(0, 10) x(x) ON x.x < 6 + d.doc_id % 5
           JOIN range(0, 8) y(y) ON y.y < 5 + d.doc_id % 4
         ), g16c AS (
           SELECT doc_id,
                  SUM(CASE WHEN x = 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY y, x) AS c0,
                  SUM(CASE WHEN x > 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, y ORDER BY x) AS rc
           FROM g16d
         ), g16 AS (
           SELECT doc_id, count(*) AS n, sum(v) AS s, min(v) AS mn,
                  max(v) AS mx
           FROM (SELECT doc_id,
                        ((32768 + c0 + rc) % 65536 + 65536) % 65536 AS v
                 FROM g16c) GROUP BY doc_id
         ), g12d AS (
           SELECT d.doc_id, x.x, y.y,
                  (d.doc_id*11 + x.x*7 + y.y*3) % 401 - 200 AS dv
           FROM documents d
           JOIN range(0, 10) x(x) ON x.x < 5 + d.doc_id % 6
           JOIN range(0, 8) y(y) ON y.y < 4 + d.doc_id % 5
         ), g12c AS (
           SELECT doc_id,
                  SUM(CASE WHEN y = 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY x, y) AS r0,
                  SUM(CASE WHEN y > 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, x ORDER BY y) AS cc
           FROM g12d
         ), g12 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id,
                        ((((512 + r0 + cc) % 65536 + 65536) % 65536) * 4)
                          % 65536 AS v
                 FROM g12c) GROUP BY doc_id
         ), c3d AS (
           SELECT d.doc_id, c.c, x.x, y.y,
                  (d.doc_id*5 + c.c*17 + x.x*3 + y.y*11) % 101 - 50 AS dv
           FROM documents d
           JOIN range(0, 3) c(c) ON true
           JOIN range(0, 10) x(x) ON x.x < 4 + d.doc_id % 7
           JOIN range(0, 6) y(y) ON y.y < 4 + d.doc_id % 3
         ), c3x AS (
           SELECT doc_id, c, x, y,
                  SUM(dv) OVER (PARTITION BY doc_id, c, y ORDER BY x) AS cx
           FROM c3d
         ), c3s AS (
           SELECT doc_id,
                  SUM(cx) OVER (PARTITION BY doc_id, c, x ORDER BY y) AS s2
           FROM c3x
         ), c3 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id, ((128 + s2) % 65536 + 65536) % 65536 AS v
                 FROM c3s) GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(6 + d.doc_id % 5 AS BIGINT) AS g16_w,
         CAST(5 + d.doc_id % 4 AS BIGINT) AS g16_h,
         CAST(16 AS BIGINT) AS g16_p,
         CAST(g16.s AS BIGINT) AS g16_sum,
         CAST(g16.mn AS BIGINT) AS g16_min,
         CAST(g16.mx AS BIGINT) AS g16_max,
         CAST(g12.s AS BIGINT) AS g12_sum,
         CAST(g12.mn AS BIGINT) AS g12_min,
         CAST(g12.mx AS BIGINT) AS g12_max,
         CAST(3 AS BIGINT) AS c3_nc,
         CAST(c3.s AS BIGINT) AS c3_sum,
         CAST(c3.mn AS BIGINT) AS c3_min,
         CAST(c3.mx AS BIGINT) AS c3_max
         FROM documents d
         JOIN g16 ON g16.doc_id = d.doc_id
         JOIN g12 ON g12.doc_id = d.doc_id
         JOIN c3 ON c3.doc_id = d.doc_id""",
    // SOF11 lossless-arithmetic replay: identical prefix-sum structure to
    // mm_jpeg_lossless (the pixel math is predictor telescoping either
    // way); what differs — and what the hash gate proves — is the QM
    // entropy layer the Spark side must decode to reach these diffs.
    // Lanes: g16 (5+id%6)x(4+id%5) pred 1; g12 (4+id%7)x(4+id%4) pred 2
    // pt 2; c3 (4+id%5)x(3+id%4) pred 4, 3 components.
    "mm_jpeg_losslessarith" ->
      """WITH g16d AS (
           SELECT d.doc_id, x.x, y.y,
                  CASE WHEN (x.x + y.y*(5 + d.doc_id % 6)) % 19 = 5
                       THEN 32768
                       WHEN (x.x + y.y*(5 + d.doc_id % 6)) % 13 = 2
                       THEN (d.doc_id*37 + x.x*5 + y.y*7) % 50001 - 25000
                       ELSE (d.doc_id*3 + x.x*17 + y.y*23) % 1401 - 700
                  END AS dv
           FROM documents d
           JOIN range(0, 10) x(x) ON x.x < 5 + d.doc_id % 6
           JOIN range(0, 8) y(y) ON y.y < 4 + d.doc_id % 5
         ), g16c AS (
           SELECT doc_id,
                  SUM(CASE WHEN x = 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY y, x) AS c0,
                  SUM(CASE WHEN x > 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, y ORDER BY x) AS rc
           FROM g16d
         ), g16 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id,
                        ((32768 + c0 + rc) % 65536 + 65536) % 65536 AS v
                 FROM g16c) GROUP BY doc_id
         ), g12d AS (
           SELECT d.doc_id, x.x, y.y,
                  (d.doc_id*13 + x.x*11 + y.y*5) % 501 - 250 AS dv
           FROM documents d
           JOIN range(0, 10) x(x) ON x.x < 4 + d.doc_id % 7
           JOIN range(0, 7) y(y) ON y.y < 4 + d.doc_id % 4
         ), g12c AS (
           SELECT doc_id,
                  SUM(CASE WHEN y = 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY x, y) AS r0,
                  SUM(CASE WHEN y > 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, x ORDER BY y) AS cc
           FROM g12d
         ), g12 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id,
                        ((((512 + r0 + cc) % 65536 + 65536) % 65536) * 4)
                          % 65536 AS v
                 FROM g12c) GROUP BY doc_id
         ), c3d AS (
           SELECT d.doc_id, c.c, x.x, y.y,
                  (d.doc_id*7 + c.c*13 + x.x*5 + y.y*17) % 121 - 60 AS dv
           FROM documents d
           JOIN range(0, 3) c(c) ON true
           JOIN range(0, 8) x(x) ON x.x < 4 + d.doc_id % 5
           JOIN range(0, 6) y(y) ON y.y < 3 + d.doc_id % 4
         ), c3x AS (
           SELECT doc_id, c, x, y,
                  SUM(dv) OVER (PARTITION BY doc_id, c, y ORDER BY x) AS cx
           FROM c3d
         ), c3s AS (
           SELECT doc_id,
                  SUM(cx) OVER (PARTITION BY doc_id, c, x ORDER BY y) AS s2
           FROM c3x
         ), c3 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id, ((128 + s2) % 65536 + 65536) % 65536 AS v
                 FROM c3s) GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(5 + d.doc_id % 6 AS BIGINT) AS a16_w,
         CAST(4 + d.doc_id % 5 AS BIGINT) AS a16_h,
         CAST(16 AS BIGINT) AS a16_p,
         CAST(g16.s AS BIGINT) AS a16_sum,
         CAST(g16.mn AS BIGINT) AS a16_min,
         CAST(g16.mx AS BIGINT) AS a16_max,
         CAST(g12.s AS BIGINT) AS a12_sum,
         CAST(g12.mn AS BIGINT) AS a12_min,
         CAST(g12.mx AS BIGINT) AS a12_max,
         CAST(3 AS BIGINT) AS a3_nc,
         CAST(c3.s AS BIGINT) AS a3_sum,
         CAST(c3.mn AS BIGINT) AS a3_min,
         CAST(c3.mx AS BIGINT) AS a3_max
         FROM documents d
         JOIN g16 ON g16.doc_id = d.doc_id
         JOIN g12 ON g12.doc_id = d.doc_id
         JOIN c3 ON c3.doc_id = d.doc_id""",
    // restart-interval lossless replay: same prefix-sum telescoping as
    // the other lossless oracles, PARTITIONED BY THE 2-ROW RESTART BLOCK
    // (each interval re-predicts as a scan-start first line). Lanes:
    // h16 (5+id%5)x(5+id%4) SOF3 pred 1 init 32768; a12
    // (4+id%6)x(4+id%4) SOF11 pred 2 init 2048 (pt 0).
    "mm_jpeg_lossless_rst" ->
      """WITH h16d AS (
           SELECT d.doc_id, x.x, y.y,
                  CASE WHEN (x.x + y.y*(5 + d.doc_id % 5)) % 13 = 4
                       THEN (d.doc_id*19 + x.x*7 + y.y*3) % 40001 - 20000
                       ELSE (d.doc_id*5 + x.x*11 + y.y*17) % 1201 - 600
                  END AS dv
           FROM documents d
           JOIN range(0, 9) x(x) ON x.x < 5 + d.doc_id % 5
           JOIN range(0, 8) y(y) ON y.y < 5 + d.doc_id % 4
         ), h16c AS (
           SELECT doc_id,
                  SUM(CASE WHEN x = 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, y // 2 ORDER BY y, x) AS c0,
                  SUM(CASE WHEN x > 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, y ORDER BY x) AS rc
           FROM h16d
         ), h16 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id,
                        ((32768 + c0 + rc) % 65536 + 65536) % 65536 AS v
                 FROM h16c) GROUP BY doc_id
         ), a12d AS (
           SELECT d.doc_id, x.x, y.y,
                  (d.doc_id*7 + x.x*13 + y.y*11) % 501 - 250 AS dv
           FROM documents d
           JOIN range(0, 10) x(x) ON x.x < 4 + d.doc_id % 6
           JOIN range(0, 7) y(y) ON y.y < 4 + d.doc_id % 4
         ), a12c AS (
           SELECT doc_id,
                  SUM(CASE WHEN y % 2 = 0 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, y // 2 ORDER BY x, y) AS r0,
                  SUM(CASE WHEN y % 2 = 1 THEN dv ELSE 0 END)
                    OVER (PARTITION BY doc_id, x, y // 2 ORDER BY y) AS cc
           FROM a12d
         ), a12 AS (
           SELECT doc_id, sum(v) AS s, min(v) AS mn, max(v) AS mx
           FROM (SELECT doc_id,
                        ((2048 + r0 + cc) % 65536 + 65536) % 65536 AS v
                 FROM a12c) GROUP BY doc_id
         )
         SELECT d.doc_id,
         CAST(5 + d.doc_id % 5 AS BIGINT) AS h16_w,
         CAST(5 + d.doc_id % 4 AS BIGINT) AS h16_h,
         CAST(h16.s AS BIGINT) AS h16_sum,
         CAST(h16.mn AS BIGINT) AS h16_min,
         CAST(h16.mx AS BIGINT) AS h16_max,
         CAST(a12.s AS BIGINT) AS a12_sum,
         CAST(a12.mn AS BIGINT) AS a12_min,
         CAST(a12.mx AS BIGINT) AS a12_max
         FROM documents d
         JOIN h16 ON h16.doc_id = d.doc_id
         JOIN a12 ON a12.doc_id = d.doc_id""",
    // DHT-less MJPEG replay: (12+id%13)x(8+id%9) 4:2:0 color,
    // 2+id%4 frames at 15000+(id%4)*15000 us/frame, sampled every 2nd.
    // Frame f: Y block (bx,by) = (bx*17+by*23+id*9+f*11)%256, chroma per
    // MCU Cb = ((bx//2)*13+id*7+f*3)%256, Cr = ((by//2)*19+id*5+f*7)%256;
    // constant blocks decode to their exact constants through the implied
    // Annex K tables, then the fixed-point CCIR 601 conversion replays.
    "mm_video_nodht" ->
      """WITH p AS (
           SELECT doc_id, 12 + doc_id % 13 AS w, 8 + doc_id % 9 AS h,
                  2 + doc_id % 4 AS nf,
                  15000 + (doc_id % 4) * 15000 AS usec
           FROM documents
         ), vb AS (
           SELECT p.doc_id,
                  (bx.b*17 + by.b*23 + p.doc_id*9 + f.f*11) % 256 AS yv,
                  ((bx.b // 2)*13 + p.doc_id*7 + f.f*3) % 256 - 128 AS cb,
                  ((by.b // 2)*19 + p.doc_id*5 + f.f*7) % 256 - 128 AS cr,
                  LEAST(8, p.w - bx.b*8) * LEAST(8, p.h - by.b*8) AS vis
           FROM p
           JOIN range(0, 6) f(f) ON f.f < p.nf AND f.f % 2 = 0
           JOIN range(0, 3) bx(b) ON bx.b*8 < p.w
           JOIN range(0, 2) by(b) ON by.b*8 < p.h
         ), vc AS (
           SELECT doc_id, vis,
             GREATEST(0, LEAST(255, yv + CAST(floor((91881*cr + 32768)/65536.0) AS BIGINT))) AS r,
             GREATEST(0, LEAST(255, yv - CAST(floor((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT))) AS g,
             GREATEST(0, LEAST(255, yv + CAST(floor((116130*cb + 32768)/65536.0) AS BIGINT))) AS b
           FROM vb
         ), vs AS (
           SELECT doc_id, sum((r + g + b) * vis) AS s,
                  min(LEAST(r, g, b)) AS mn, max(GREATEST(r, g, b)) AS mx
           FROM vc GROUP BY doc_id
         )
         SELECT p.doc_id,
         CAST(p.w AS BIGINT) AS n_w,
         CAST(p.h AS BIGINT) AS n_h,
         CAST(p.nf AS BIGINT) AS n_frames,
         CAST(p.usec AS BIGINT) AS n_usec,
         CAST((p.nf + 1) // 2 AS BIGINT) AS n_sampled,
         CAST((p.nf + 1) // 2 AS BIGINT) AS n_decoded,
         CAST(vs.s AS BIGINT) AS n_sum,
         CAST(vs.mn AS BIGINT) AS n_min,
         CAST(vs.mx AS BIGINT) AS n_max
         FROM p
         JOIN vs ON vs.doc_id = p.doc_id""",
    // stage-for-stage replay, matching the Spark plan's gate-before-dedup
    // order: text + decoded-feature gates first, THEN min-doc_id per
    // content group over the gated set (content is a pure function of
    // (doc_id%32, doc_id%7)), then the md5 hash split. px_sum comes from
    // the raster formula, audio_frames from the step-4 decimation count.
    "pl_mm_corpus" ->
      """WITH base AS (
           SELECT doc_id, 16 + doc_id % 32 AS w, 9 + doc_id % 7 AS h,
                  100 + doc_id % 50 AS n
           FROM documents
           WHERE length(text) >= 100
         ), px AS (
           SELECT b.doc_id, sum((x.x*31 + y.y*17) % 256) AS s
           FROM base b
           JOIN range(0, 47) x(x) ON x.x < b.w
           JOIN range(0, 15) y(y) ON y.y < b.h
           GROUP BY b.doc_id
         ), feat AS (
           SELECT b.doc_id, b.w, b.h, b.n, p.s,
                  min(b.doc_id) OVER (PARTITION BY b.w, b.h) AS keep_id
           FROM base b
           JOIN px p ON p.doc_id = b.doc_id
           WHERE p.s % 3 != 0 AND (b.n + 3) // 4 >= 30
         )
         SELECT f.doc_id,
         CAST(f.w AS BIGINT) AS img_w,
         CAST(f.h AS BIGINT) AS img_h,
         CAST(f.s AS BIGINT) AS px_sum,
         CAST((f.n + 3) // 4 AS BIGINT) AS audio_frames,
         CASE WHEN ('0x'||substr(md5('mm1'||f.doc_id::VARCHAR),1,15))::BIGINT % 1000000 < 800000 THEN 'train'
              WHEN ('0x'||substr(md5('mm1'||f.doc_id::VARCHAR),1,15))::BIGINT % 1000000 < 900000 THEN 'val'
              ELSE 'test' END AS split
         FROM feat f
         WHERE f.doc_id = f.keep_id""",
  )
}
