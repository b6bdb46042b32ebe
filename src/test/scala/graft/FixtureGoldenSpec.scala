package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal

/** Byte-for-byte pins on the fixture-side media writers. The oracle gates
  * compare DECODED statistics, which two different but equally valid
  * bitstreams would both pass; these SHA-256 digests pin the encoder
  * output itself, so a refactor of the writers cannot silently change
  * what the decoder is tested against. Each digest covers one generator
  * over ids 0..63 (or one family of the parameterized calls the specs
  * make), every stream length-prefixed.
  */
class FixtureGoldenSpec extends AnyFunSuite {

  private def sha(streams: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    streams.foreach { s =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(s.length).array())
      md.update(s)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def ids(gen: Long => Array[Byte]): Seq[Array[Byte]] =
    (0L until 64L).map(gen)

  /** The parameterized writer calls MediaCodecSpec and AviCodecSpec make. */
  private def baselineCalls: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(41)
    val entropySeeds = (0 until 12).map { trial =>
      val seed = new Array[Int](64)
      seed(0) = rnd.nextInt(200) - 100
      for (k <- 1 to 8) {
        val v = rnd.nextInt(62) - 31
        seed(k) = if (v == 0) 7 else v
      }
      if (trial % 3 != 0) seed(20) = if (rnd.nextBoolean()) 1 else -1
      (trial, seed)
    }
    val huffVsArith = entropySeeds.flatMap { case (trial, seed) =>
      val yb = (bx: Int, by: Int) => (bx * 19 + by * 77 + trial * 31) % 256
      Seq(Multimodal.jpegBaselineBytes(24, 16, color = false, sub420 = false,
          yb, null, null, seed, restartInterval = 2),
        Multimodal.jpegArithBytes(24, 16, color = false, sub420 = false,
          yb, null, null, seed, restartInterval = 2,
          dacU = if (trial % 2 == 0) -1 else 4,
          dacK = if (trial % 2 == 0) -1 else 1))
    }
    val color444 = Multimodal.jpegBaselineBytes(19, 10, color = true,
      sub420 = false,
      yBlock = (bx, by) => (bx * 23 + by * 31 + 42 * 11) % 256,
      cbBlock = (mx, _) => (mx * 17 + 42 * 5) % 256,
      crBlock = (_, my) => (my * 19 + 42 * 3) % 256,
      acSeed = null, restartInterval = 2)
    val perId = (0 until 40).flatMap { id =>
      Seq(
        Multimodal.jpegBaselineBytes(17 + id % 29, 10 + id % 9, color = false,
          sub420 = false, (bx, by) => (bx * 37 + by * 43 + id * 13) % 256,
          null, null, Multimodal.GrayAcSeed, restartInterval = 5),
        Multimodal.jpegBaselineBytes(10 + id % 21, 8 + id % 13, color = true,
          sub420 = true, (bx, by) => (bx * 13 + by * 29 + id * 17) % 256,
          (mx, _) => (mx * 11 + id * 7) % 256,
          (_, my) => (my * 23 + id * 9) % 256, null, 0),
        Multimodal.jpegBaselineBytes(11 + id % 19, 9 + id % 11, color = true,
          sub420 = true, (bx, by) => (bx * 19 + by * 31 + id * 23) % 256,
          (mx, _) => (mx * 13 + id * 3) % 256,
          (_, my) => (my * 29 + id * 5) % 256, null, 0))
    }
    val noDhtPairs = (0 until 24).flatMap { id =>
      val (w, h) = (12 + id % 13, 8 + id % 9)
      val yb = (bx: Int, by: Int) => (bx * 17 + by * 23 + id * 9) % 256
      val cb = (mx: Int, _: Int) => (mx * 13 + id * 7) % 256
      val cr = (_: Int, my: Int) => (my * 19 + id * 5) % 256
      Seq(Multimodal.jpegNoDhtBytes(w, h, yb, cb, cr),
        Multimodal.jpegBaselineBytes(w, h, color = true, sub420 = true,
          yb, cb, cr, null, 0))
    }
    val noDhtStill = Multimodal.jpegNoDhtBytes(12, 8,
      (bx, by) => (bx * 17 + by * 23) % 256,
      (bx, _) => (bx * 13) % 256, (_, by) => (by * 19) % 256)
    huffVsArith ++ Seq(color444) ++ perId ++ noDhtPairs ++ Seq(noDhtStill)
  }

  private def highPrecisionCalls: Seq[Array[Byte]] = {
    val j12 = Multimodal.jpeg12Bytes(8, 8, q0 = 8, q16 = false,
      (_, _) => 160, ac00 = Seq(300, -451), restartInterval = 0)
    val shifts = for (sel <- Seq(3, 5, 6, 7); pt <- Seq(0, 1)) yield
      Multimodal.jpegLosslessBytes(7, 6, 14, sel, pt, 2,
        (c, x, y) => ((x * 37 + y * 53 + c * 7) % 501) - 250)
    val crossCoder = (for (sel <- 1 to 7; pt <- Seq(0, 2)) yield {
      val d = (c: Int, x: Int, y: Int) =>
        ((x * 31 + y * 47 + c * 11 + sel * 5) % 801) - 400
      Seq(Multimodal.jpegLosslessBytes(6, 5, 14, sel, pt, 2, d),
        Multimodal.jpegLosslessArithBytes(6, 5, 14, sel, pt, 2,
          dacL = -1, dacU = -1, d))
    }).flatten
    val wide = (c: Int, x: Int, y: Int) =>
      if ((x + y) % 3 == 0) ((x * 9001 + y * 7919 + c) % 65001) - 32500
      else ((x * 13 + y * 29 + c) % 31) - 15
    val restarts = (for (sel <- 1 to 7) yield {
      val d = (c: Int, x: Int, y: Int) =>
        ((x * 29 + y * 41 + c * 13 + sel * 3) % 601) - 300
      Seq(Multimodal.jpegLosslessBytes(6, 7, 14, sel, 0, 2, d,
          restartInterval = 12),
        Multimodal.jpegLosslessArithBytes(6, 7, 14, sel, 0, 2,
          dacL = -1, dacU = -1, d, restartInterval = 12))
    }).flatten
    val d0 = (_: Int, x: Int, y: Int) => ((x * 3 + y * 7) % 101) - 50
    Seq(j12) ++ shifts ++ crossCoder ++ Seq(
      Multimodal.jpegLosslessBytes(8, 7, 16, 1, 0, 1, wide),
      Multimodal.jpegLosslessArithBytes(8, 7, 16, 1, 0, 1,
        dacL = -1, dacU = -1, wide)) ++ restarts ++ Seq(
      Multimodal.jpegLosslessBytes(5, 6, 12, 2, 0, 1, d0),
      Multimodal.jpegLosslessBytes(5, 6, 12, 2, 0, 1, d0,
        restartInterval = 10))
  }

  private def generators: Seq[(String, () => Seq[Array[Byte]])] = Seq(
    "grayJpegBytes" -> (() => ids(Multimodal.grayJpegBytes)),
    "colorJpegBytes" -> (() => ids(Multimodal.colorJpegBytes)),
    "seqJpegBytes" -> (() => ids(Multimodal.seqJpegBytes)),
    "grayJpegArithBytes" -> (() => ids(Multimodal.grayJpegArithBytes)),
    "condJpegArithBytes" -> (() => ids(Multimodal.condJpegArithBytes)),
    "grayJpegArithProgBytes" -> (() => ids(Multimodal.grayJpegArithProgBytes)),
    "msJpegArithBytes" -> (() => ids(Multimodal.msJpegArithBytes)),
    "colorJpegArithBytes" -> (() => ids(Multimodal.colorJpegArithBytes)),
    "grayProgressiveJpegBytes" -> (() => ids(Multimodal.grayProgressiveJpegBytes)),
    "colorProgressiveJpegBytes" -> (() => ids(Multimodal.colorProgressiveJpegBytes)),
    "jpeg12Bytes" -> (() => ids(id => Multimodal.jpeg12Bytes(id))),
    "jpeg12WideQBytes" -> (() => ids(Multimodal.jpeg12WideQBytes)),
    "jpegLosslessG16Bytes" -> (() => ids(Multimodal.jpegLosslessG16Bytes)),
    "jpegLosslessG12Bytes" -> (() => ids(Multimodal.jpegLosslessG12Bytes)),
    "jpegLossless3cBytes" -> (() => ids(Multimodal.jpegLossless3cBytes)),
    "jpegLosslessArithG16Bytes" -> (() => ids(Multimodal.jpegLosslessArithG16Bytes)),
    "jpegLosslessArithG12Bytes" -> (() => ids(Multimodal.jpegLosslessArithG12Bytes)),
    "jpegLosslessRstBytes" -> (() => ids(Multimodal.jpegLosslessRstBytes)),
    "jpegLosslessArithRstBytes" -> (() => ids(Multimodal.jpegLosslessArithRstBytes)),
    "jpegLosslessArith3cBytes" -> (() => ids(Multimodal.jpegLosslessArith3cBytes)),
    "aviMjpegBytes" -> (() => ids(Multimodal.aviMjpegBytes)),
    "aviMjpegNoDhtBytes" -> (() => ids(Multimodal.aviMjpegNoDhtBytes)),
    "jpegBytes" -> (() => ids(id => Multimodal.jpegBytes(
      16 + (id % 50).toInt, 9 + (id % 30).toInt, 1 + (id % 3).toInt))),
    "specBaselineArithCalls" -> (() => baselineCalls),
    "specHighPrecisionCalls" -> (() => highPrecisionCalls))

  private val golden: Map[String, String] = Map(
    "grayJpegBytes" ->
      "b124ba8e922a50dbf52a1373184be44957e146deb8b3775e9ce51f8a4695d441",
    "colorJpegBytes" ->
      "b9579bb88268821f4cdcb576f1012aced30e0141a9d5fcedb21db970f1011450",
    "seqJpegBytes" ->
      "eaf46e665af04e4d205af386d5c3e9608b5de4ef17b86aed98620ea5ad48d8ec",
    "grayJpegArithBytes" ->
      "d47e84a1e11c1225ece0ce178d51d414e90fe45294135757600d010dd61a6fb4",
    "condJpegArithBytes" ->
      "9005b1592f81a7fdbb2199bee17aa56c74e166083535259db3b1e86c64046724",
    "grayJpegArithProgBytes" ->
      "ec74ba5758fe9727496e8217fe3e4774a7ebb33e3d6787e8bf9bf6ffcae0dd5a",
    "msJpegArithBytes" ->
      "a32fd60bd6b3c613d9416b96f1ed33849b16e501c1169f3861812912acfc479f",
    "colorJpegArithBytes" ->
      "423da2861b11efac285f8668dd980d133fe388841c5e164b3bcc2689dbdf77c0",
    "grayProgressiveJpegBytes" ->
      "0e77ab9feb2327dae64f0828ede1a0f5b7b434f9028a701055afec37e5fc0be9",
    "colorProgressiveJpegBytes" ->
      "5ba7d298d830d8c101e4da15185d8c84310c939e57241cf2a70e1b55b0f59538",
    "jpeg12Bytes" ->
      "7cbe2f567461723c0be8d0f1ff3ecaeedcfdf48d4518f901075c9bfe7fbbdd79",
    "jpeg12WideQBytes" ->
      "4950353c1ca5b66d47d0dfcbb996e79bec8b4e5327f15117af15d3e25f51d935",
    "jpegLosslessG16Bytes" ->
      "ad6e83ce3e1eb50c5ac034af408fe494744c3e8a4f9c14753658b0de9e844784",
    "jpegLosslessG12Bytes" ->
      "53033240c55956a0a93defb2b71433c393f7d12aa38247db169b8c4ac8dd7817",
    "jpegLossless3cBytes" ->
      "4450dc945efde4ce6f298dff5dc8ed93069e116cb0dea97834e03bf58cc42882",
    "jpegLosslessArithG16Bytes" ->
      "bc95440a3999514d700b207734488f74065f52732c8971a0408e96924d55ede4",
    "jpegLosslessArithG12Bytes" ->
      "0f28e2c45b8c4f107d764e88e121ebe9b66b8b1240078b35112983ed6153c65d",
    "jpegLosslessRstBytes" ->
      "e5df5108035887221a84f49a2ad146df2ea247a672dd2f61ea7b5a808675ed29",
    "jpegLosslessArithRstBytes" ->
      "0b0904cc6b9d9552425a56dee2788e7c5998970890a7386ab5bc238cc5dfad6f",
    "jpegLosslessArith3cBytes" ->
      "3f07b5bae250e4e81772720ca4f696d92fbdcfc5eace8fc5752d12b2773857dd",
    "aviMjpegBytes" ->
      "53675365a4b9267abeb116789043d554312766e0b899e065c1ead4ea1212a05e",
    "aviMjpegNoDhtBytes" ->
      "1a45b543cd69a064df69978e654fa698ea7af6ad04dbd788687cab9742de3abc",
    "jpegBytes" ->
      "38933dc90b0f498286c6227c630866f5fc6811943e16002cd08eceb1ca6eb80e",
    "specBaselineArithCalls" ->
      "e8ea4429c4723a5d532a0fc7330de2ac289f1247b185801b0518c3b210629ee1",
    "specHighPrecisionCalls" ->
      "e12b09cac5a5ea4a0b3e0e64cfb41cfb5a124baefa983d543e9e0e725280fe10")

  private def otherGenerators: Seq[(String, () => Seq[Array[Byte]])] = Seq(
    "pngBytes" -> (() => ids(id => Multimodal.pngBytes(1 + (id % 40).toInt, 1 + (id % 23).toInt))),
    "rgbPngBytes" -> (() => ids(id => Multimodal.rgbPngBytes(1 + (id % 31).toInt, 1 + (id % 17).toInt))),
    "png1GrayBytes" -> (() => ids(Multimodal.png1GrayBytes)),
    "png2GrayBytes" -> (() => ids(Multimodal.png2GrayBytes)),
    "png4GrayKeyBytes" -> (() => ids(Multimodal.png4GrayKeyBytes)),
    "png4PaletteBytes" -> (() => ids(Multimodal.png4PaletteBytes)),
    "gray16PngBytes" -> (() => ids(Multimodal.gray16PngBytes)),
    "rgb16PngBytes" -> (() => ids(Multimodal.rgb16PngBytes)),
    "gray16KeyPngBytes" -> (() => ids(Multimodal.gray16KeyPngBytes)),
    "rgb16KeyPngBytes" -> (() => ids(Multimodal.rgb16KeyPngBytes)),
    "palPngBytes" -> (() => ids(Multimodal.palPngBytes)),
    "palAlphaPngBytes" -> (() => ids(Multimodal.palAlphaPngBytes)),
    "grayAlphaPngBytes" -> (() => ids(Multimodal.grayAlphaPngBytes)),
    "rgbaPngBytes" -> (() => ids(Multimodal.rgbaPngBytes)),
    "gifFixtureBytes" -> (() => ids(Multimodal.gifFixtureBytes)),
    "gifAnimFixtureBytes" -> (() => ids(Multimodal.gifAnimFixtureBytes)),
    "gifComposeFixtureBytes" -> (() => ids(Multimodal.gifComposeFixtureBytes)),
    "gifBytesVariants" -> (() => ids(id => Multimodal.gifBytes(
      5 + (id % 9).toInt, 3 + (id % 7).toInt, id % 2 == 0, 2 + (id % 7).toInt,
      i => (i * 3 % 256, i * 5 % 256, i * 7 % 256), (x, y) => x + y * 3,
      localTable = id % 3 == 0, withExtensions = id % 4 == 1))),
    "wavBytes" -> (() => ids(id => Multimodal.wavBytes(8000 + id.toInt, (id * 7).toInt))),
    "wavBytesWithList" -> (() => ids(id => Multimodal.wavBytesWithList(8000, (id * 5).toInt))),
    "wav8Bytes" -> (() => ids(Multimodal.wav8Bytes)),
    "wav24Bytes" -> (() => ids(Multimodal.wav24Bytes)),
    "wav32Bytes" -> (() => ids(Multimodal.wav32Bytes)),
    "wavUlawBytes" -> (() => ids(Multimodal.wavUlawBytes)),
    "wavAlawBytes" -> (() => ids(Multimodal.wavAlawBytes)),
    "wavFloatFixtureBytes" -> (() => ids(Multimodal.wavFloatFixtureBytes)),
    "wavFloat64FixtureBytes" -> (() => ids(Multimodal.wavFloat64FixtureBytes)),
    "wavAdpcmMonoBytes" -> (() => ids(Multimodal.wavAdpcmMonoBytes)),
    "wavAdpcmStereoBytes" -> (() => ids(Multimodal.wavAdpcmStereoBytes)),
    "wavMsAdpcmMonoBytes" -> (() => ids(Multimodal.wavMsAdpcmMonoBytes)),
    "wavMsAdpcmStereoBytes" -> (() => ids(Multimodal.wavMsAdpcmStereoBytes)),
    "wavExtPcmFixtureBytes" -> (() => ids(Multimodal.wavExtPcmFixtureBytes)),
    "wavExtFloatFixtureBytes" -> (() => ids(Multimodal.wavExtFloatFixtureBytes)))

  private val otherGolden: Map[String, String] = Map(
    "pngBytes" ->
      "50500fb806c978b26ee5593ebdc9f15fd772f136cf3ae274ca04ac458f92c6f9",
    "rgbPngBytes" ->
      "786f516df9720fe6ed60a73483fd3a2e6bbab4739ddac988f4ff347f96528df3",
    "png1GrayBytes" ->
      "3065c7a5b71868dbcd132bcc6b8b87cc926a7cda7d956469bc203d6fbf94a0a6",
    "png2GrayBytes" ->
      "5330fe31ee45f612f151f4d9ae8f6ecb1d9eb0b06899fd8c5929290b9106f3e7",
    "png4GrayKeyBytes" ->
      "36ec1886b909e819f519ee4965ea3e2a216623c657680f37180e959190fe1200",
    "png4PaletteBytes" ->
      "2684699e9c523bef9d409fdffaad5c14cf865ec11633f7aadb756bfa981d2893",
    "gray16PngBytes" ->
      "218b6c3252ee8305c4c7942f6849a0688c212690c2b0d015777056d6ff6268ca",
    "rgb16PngBytes" ->
      "bc1e28d799f2a6cc6f794f444fa0c7b2261017cea2f1991db7633535157d1caa",
    "gray16KeyPngBytes" ->
      "b6f024f0aee19c12f18117667ab896df577e5011e35091b580a679abce93eecf",
    "rgb16KeyPngBytes" ->
      "475b803aa21314785b5c94dd3a2c5c14c38d4a02765270b325488da6f6e4aac8",
    "palPngBytes" ->
      "09a14092f9dbbe18c839cc661a0600db83f3580ff31782003638420c846fa89e",
    "palAlphaPngBytes" ->
      "7dd0178b5673acc6809bf92fe3e26067762eb55a2fbed060cbdd8c62b44dcb99",
    "grayAlphaPngBytes" ->
      "c78c0d275250bf8c6bbbac1b4d55aaa39f213fbd0fba03370f6dbe991b615cca",
    "rgbaPngBytes" ->
      "c93d71f2fedb6450cb443b313022ef6ebd6aed2f336e490987d7cce338724c38",
    "gifFixtureBytes" ->
      "fcdbfb6c96fbe8843872f274762a2cbf9753fbbf8b72daa715ec31df99b99cd9",
    "gifAnimFixtureBytes" ->
      "3bd52a352740f0aaeec7aea7c242231c41823f39c5d21df5301c627add1c43ed",
    "gifComposeFixtureBytes" ->
      "d5ca0663fbbd9d818c51bb9bee498159185b8ba6ca9c412639399367fcc050b9",
    "gifBytesVariants" ->
      "8470533575fc05846727fb58e0138f9e2cafc120116306e3d70bd610dcf87a6c",
    "wavBytes" ->
      "8cbe876a06051c5570670bf0a3deac3fdfa228ae92652661d79469b180a79162",
    "wavBytesWithList" ->
      "fcf349e0ad20dc78a749d44e49bb762fc73064e9acd87edca65aa7304d246838",
    "wav8Bytes" ->
      "cca6e84440181ef2e3c7f2b9fe13e9140cfa9708ca70d76eb24e813eba19046c",
    "wav24Bytes" ->
      "0b37fa3a0e23592ba094a366eb598716b5e053b5acc9e2616cb7e0d1bb49384e",
    "wav32Bytes" ->
      "9150dd64606066f4b75e15be64d1263985b342daa0e63f5dbba227f894f329e5",
    "wavUlawBytes" ->
      "303431bbb5ae145a04ecec03c9c8d99deaf0342efe129e19fe036201cdde89ce",
    "wavAlawBytes" ->
      "30134b5c1044cd9b31435f0c5f41c3ed2e0e25e5fab44f261775adb6732c6b1e",
    "wavFloatFixtureBytes" ->
      "100fac9f9c33795361652db4a21178dba382dff229f4405d575b171e6863df0a",
    "wavFloat64FixtureBytes" ->
      "a9baf522cfcb228b1f8372f54b8c61c4611adceb7cccabbba9bab843258d0f62",
    "wavAdpcmMonoBytes" ->
      "704cb2c29afb805a9b7a8ee4e9ca58802a763cde877d220c1da9058e046ea58a",
    "wavAdpcmStereoBytes" ->
      "9edb7e958c8700905ecfb6cb701f9fc524a1237794191bb323ed53ef3e4332a1",
    "wavMsAdpcmMonoBytes" ->
      "58f4d3ea31cbdc28dc6ecbd4a87963b23d9c5e38fbe1e8a6c12fe0e699a0d3a8",
    "wavMsAdpcmStereoBytes" ->
      "f113f807dab47b6f5a1e6fcb5a62610b1ef4f75b9b58f8faa9bdd916fd17122d",
    "wavExtPcmFixtureBytes" ->
      "0ef3c68e7b0d7569e596721d3699af976d6ac793c37fe66f533d1b4bd44047fd",
    "wavExtFloatFixtureBytes" ->
      "514799269f9f5abdd3eca9cdd62e464f1be6af2ed936ebff1d780806bc396291")

  private def check(gens: Seq[(String, () => Seq[Array[Byte]])],
                    pinned: Map[String, String]): Unit = {
    val got = gens.map { case (name, gen) => name -> sha(gen()) }.toMap
    val diffs = gens.map(_._1).filter(n => !pinned.get(n).contains(got(n)))
    assert(diffs.isEmpty, diffs.map(n => s"\n    \"$n\" -> \"${got(n)}\",").mkString)
  }

  test("every JPEG fixture writer emits its pinned bytes") {
    check(generators, golden)
  }

  test("every PNG, GIF and WAV fixture writer emits its pinned bytes") {
    check(otherGenerators, otherGolden)
  }
}
