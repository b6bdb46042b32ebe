package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: a session built with graft.GraftExtensions resolves
  * the graft_* functions from plain SQL, producing the same expressions
  * (and therefore the same results) as the Scala API.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** A second session over the shared SparkContext with the extensions
    * applied — extensions only apply at session construction, so the
    * shared TestSpark session can't be used directly. Active/default are
    * restored afterwards so other suites see the plain session.
    */
  private def withExtSession[A](f: SparkSession => A): A = {
    val base = TestSpark.spark // ensures the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  // NOTE: the `spark.sql.extensions=graft.GraftExtensions` config path
  // reads the SPARKCONTEXT conf at context creation, so it cannot be
  // exercised against this suite's shared context — it is Spark's own
  // reflective instantiation of exactly the class tested below.

  test("scalar functions resolve and compute from SQL") {
    withExtSession { s =>
      val dot = s.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head.getDouble(0)
      assert(dot == 11.0)
      val sqd = s.sql(
        "SELECT graft_sqdist(array(1L, 5L), array(4L, 1L)) AS d")
        .head.getLong(0)
      assert(sqd == 25L)
      assert(s.sql("SELECT graft_sqdist(array(1L), array(1L, 2L)) AS d")
        .head.isNullAt(0), "length mismatch is null, matching the HOF form")
      assert(s.sql("SELECT graft_log2fp(1024L) AS l").head.getLong(0)
        == 10L << 20)
      assert(s.sql("SELECT graft_log2fp(10L) AS l").head.getLong(0)
        == graft.expr.Log2Fp.compute(10L))
      assert(s.sql("SELECT graft_log2fp(0L) AS l").head.isNullAt(0),
        "log2 of a non-positive is null")
      assert(s.sql("SELECT graft_dot_long(array(2L, 3L), array(4L, 5L)) AS d")
        .head.getLong(0) == 23L)
      assert(s.sql("SELECT graft_quantize(array(1.5d, -2.25d), 2) AS q")
        .head.getSeq[Long](0) == Seq(6L, -9L))
      val qi8 = s.sql(
        "SELECT q.scale, q.q FROM (SELECT graft_quantize_int8(array(127.0d, -63.5d)) AS q)")
        .head
      assert(qi8.getDouble(0) == 1.0 && qi8.getSeq[Long](1) == Seq(127L, -63L))
      val nfc = s.sql(
        "SELECT length(graft_unicode_normalize('é', 'NFC')) AS l")
        .head.getInt(0)
      assert(nfc == 1, "combining accent composes under NFC")
      val canon = s.sql("SELECT graft_bignum('007'), graft_bignum('x')")
        .head
      assert(canon.getString(0) == "7" && canon.isNullAt(1))
      // the sketch pipeline end-to-end in SQL: text -> shingles -> minhash
      val sig = s.sql(
        """SELECT size(graft_minhash_sig(
             graft_shingle_hashes('a b c d e f g', 3), 16)) AS k""")
        .head.getInt(0)
      assert(sig == 16)
      // entropy: uniform 4 symbols = 4 * log2fp(4); token form normalizes
      val ent = s.sql(
        "SELECT e.n, e.ent_fp FROM (SELECT graft_char_entropy_fp('abcd') AS e)")
        .head
      assert(ent.getLong(0) == 4L && ent.getLong(1) == 4L * 2 * (1L << 20))
      val tent = s.sql(
        "SELECT e.n, e.ent_fp FROM (SELECT graft_token_entropy_fp('Go  GO') AS e)")
        .head
      assert(tent.getLong(0) == 2L && tent.getLong(1) == 0L,
        "normalized identical tokens carry zero entropy")
      // JPEG marker walk from SQL over fixture bytes
      val jm = s.sql(
        s"SELECT m.width, m.height, m.components FROM (SELECT graft_jpeg_meta(" +
          s"unhex('${graft.ops.Multimodal.jpegBytes(24, 12, 3)
            .map("%02X".format(_)).mkString}')) AS m)")
        .head
      assert(jm.getInt(0) == 24 && jm.getInt(1) == 12 && jm.getInt(2) == 3)
      // AVI container walk + MJPEG frame decode from SQL over fixture bytes
      val aviHex = graft.ops.Multimodal.aviMjpegBytes(7L)
        .map("%02X".format(_)).mkString
      val am = s.sql(
        s"SELECT m.width, m.n_frames, m.handler, " +
          s"graft_mjpeg_stats(unhex('$aviHex'), 2).n_decoded, " +
          s"length(graft_mjpeg_frame(unhex('$aviHex'), 0)) " +
          s"FROM (SELECT graft_avi_meta(unhex('$aviHex')) AS m)")
        .head
      assert(am.getInt(0) == 16 + 7 % 17 && am.getInt(1) == 3 + 7 % 5)
      assert(am.getString(2) == "MJPG")
      assert(am.getInt(3) == (3 + 7 % 5 + 1) / 2)
      assert(am.getInt(4) > 0)
      // GIF LZW decode from SQL over fixture bytes (id 3: interlaced)
      val gifHex = graft.ops.Multimodal.gifFixtureBytes(3L)
        .map("%02X".format(_)).mkString
      val gm = s.sql(
        s"SELECT g.width, g.height, g.channels, g.px_min " +
          s"FROM (SELECT graft_gif_stats(unhex('$gifHex')) AS g)")
        .head
      assert(gm.getInt(0) == 13 + 3 % 17 && gm.getInt(1) == 8 + 3 % 9)
      assert(gm.getInt(2) == 3)
      assert(gm.getInt(3) >= 0 && gm.getInt(3) <= 255)
      // animation length from SQL — the multi-frame fixture (id 6: 3 frames)
      val ganHex = graft.ops.Multimodal.gifAnimFixtureBytes(6L)
        .map("%02X".format(_)).mkString
      val ga = s.sql(
        s"SELECT g.n_frames FROM (SELECT graft_gif_meta(unhex('$ganHex')) AS g)")
        .head
      assert(ga.getInt(0) == 2 + 6 % 5)
      // full PNG decode from SQL — a palette+tRNS Adam7 fixture (id 4:
      // id%3==1, interlaced) exercises the r15 envelope from pure SQL
      val pngHex = graft.ops.Multimodal.palAlphaPngBytes(4L)
        .map("%02X".format(_)).mkString
      val pm = s.sql(
        s"SELECT p.width, p.height, p.channels " +
          s"FROM (SELECT graft_png_stats(unhex('$pngHex')) AS p)")
        .head
      assert(pm.getInt(0) == 10 + 4 % 17 && pm.getInt(1) == 6 + 4 % 11)
      assert(pm.getInt(2) == 4, "palette+tRNS decodes to RGBA")
      // full JPEG decode from SQL — the progressive fixture
      val jpHex = graft.ops.Multimodal.grayProgressiveJpegBytes(2L)
        .map("%02X".format(_)).mkString
      val jp = s.sql(
        s"SELECT j.width, j.channels FROM (SELECT graft_jpeg_stats(" +
          s"unhex('$jpHex')) AS j)").head
      assert(jp.getInt(0) == 17 + 2 % 29 && jp.getInt(1) == 1)
      // arithmetic-coded SOF9 rides the same SQL function (decoder-
      // internal dispatch): gray lane, block (1,0) constant for id 2
      val jaHex = graft.ops.Multimodal.grayJpegArithBytes(2L)
        .map("%02X".format(_)).mkString
      val ja = s.sql(
        s"SELECT j.width, j.channels FROM (SELECT graft_jpeg_stats(" +
          s"unhex('$jaHex')) AS j)").head
      assert(ja.getInt(0) == 14 + 2 % 19 && ja.getInt(1) == 1)
      // WAV PCM stats from SQL — the 24-bit depth fixture
      val wavHex = graft.ops.Multimodal.wav24Bytes(1L)
        .map("%02X".format(_)).mkString
      val wm = s.sql(
        s"SELECT w.n_samples, w.pcm_bits FROM (SELECT graft_wav_stats(" +
          s"unhex('$wavHex')) AS w)").head
      assert(wm.getLong(0) == 60 + 1 % 30 && wm.getInt(1) == 24)
      // MS-ADPCM rides the same SQL function (decoder-internal dispatch)
      val msHex = graft.ops.Multimodal.wavMsAdpcmMonoBytes(1L)
        .map("%02X".format(_)).mkString
      val ms = s.sql(
        s"SELECT w.pcm_bits, w.n_samples FROM (SELECT graft_wav_stats(" +
          s"unhex('$msHex')) AS w)").head
      assert(ms.getInt(0) == 4 && ms.getLong(1) > 0)
      // 12-bit SOF1 stats from SQL — full precision, [0, 4095] range
      val j12Hex = graft.ops.Multimodal.jpeg12Bytes(100L)
        .map("%02X".format(_)).mkString
      val j12 = s.sql(
        s"SELECT j.width, j.px_max FROM (SELECT graft_jpeg12_stats(" +
          s"unhex('$j12Hex')) AS j)").head
      // id 100's blocks land at 1300 + {0,37,59,96,...}: genuinely
      // 12-bit values, past any 8-bit ceiling
      assert(j12.getInt(0) == 10 + 100 % 15 && j12.getInt(1) <= 4095 &&
        j12.getInt(1) > 255, "12-bit samples exceed the 8-bit ceiling")
      // lossless SOF3 stats from SQL — 16-bit precision reported
      val jlsHex = graft.ops.Multimodal.jpegLosslessG16Bytes(4L)
        .map("%02X".format(_)).mkString
      val jls = s.sql(
        s"SELECT j.precision, j.components FROM (SELECT " +
          s"graft_jpeg_lossless_stats(unhex('$jlsHex')) AS j)").head
      assert(jls.getInt(0) == 16 && jls.getInt(1) == 1)
    }
  }

  test("DESCRIBE FUNCTION shows a usage for every injected function") {
    withExtSession { s =>
      val names = s.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect()
        .map(_.getString(0)).toSeq
      assert(names.size == 29 && names.contains("graft_dot") &&
        names.contains("graft_bignum_sum"), names)
      names.foreach { n =>
        val usage = s.sql(s"DESCRIBE FUNCTION $n").collect().map(_.getString(0))
          .find(_.startsWith("Usage:"))
        assert(usage.exists(u => u.startsWith(s"Usage: $n(") && u.length > 30),
          s"$n: $usage")
      }
    }
  }

  test("aggregates resolve: exact bignum sum and MG heavy hitters") {
    withExtSession { s =>
      val big = "9" * 40 // past DECIMAL(38) range
      val sum = s.sql(
        s"""SELECT graft_bignum_sum(v) FROM VALUES
            ('$big'), ('$big'), ('2') AS t(v)""").head.getString(0)
      assert(sum == new java.math.BigInteger(big)
        .multiply(java.math.BigInteger.TWO)
        .add(java.math.BigInteger.TWO).toString)
      val hh = s.sql(
        """SELECT graft_misra_gries(t, 2) FROM VALUES
           ('a'),('a'),('a'),('a'),('b'),('b'),('c') AS v(t)""")
        .head.getSeq[org.apache.spark.sql.Row](0)
      assert(hh.head.getString(0) == "a", s"dominant token first: $hh")
    }
  }

  test("results match the Scala-API expressions exactly") {
    withExtSession { s =>
      import s.implicits._
      val df = Seq("the quick brown fox jumps over the lazy dog").toDF("t")
      df.createOrReplaceTempView("docs")
      val viaSql = s.sql(
        "SELECT graft_shingle_hashes(t, 3) AS hs FROM docs")
        .head.getSeq[Long](0).toSet
      val viaApi = df.select(graft.functions.SimilarityFunctions
          .shingleHashes(org.apache.spark.sql.functions.col("t"), 3).as("hs"))
        .head.getSeq[Long](0).toSet
      assert(viaSql == viaApi)
    }
  }

  test("graft_piece_decode: byte tokens invert, ## strips, SQL == Scala") {
    withExtSession { s =>
      // model-free decode: byte runs reassemble (3-byte snowman), the
      // literal '<0x41>' piece maps to its byte — the collision rule the
      // fallback trainers uphold on the encode side
      assert(s.sql(
        """SELECT graft_piece_decode(array(
             array('<0xE2>', '<0x98>', '<0x83>'), array('ab')), false)""")
        .head.getString(0) == "☃ ab")
      assert(s.sql(
        "SELECT graft_piece_decode(array(array('<0x41>')), false)")
        .head.getString(0) == "A")
      // word_piece mode strips ## at position > 0 only
      assert(s.sql(
        """SELECT graft_piece_decode(array(
             array('un', '##aff', '##able')), true)""")
        .head.getString(0) == "unaffable")
      assert(s.sql("SELECT graft_piece_decode(CAST(null AS " +
        "array<array<string>>), false)").head.isNullAt(0))
      // SQL == Scala API on a trained fallback model's real output
      import s.implicits._
      val m = graft.ops.Unigram.trainFromCounts(
        Seq(("abab", 10L), ("ba", 4L)), vocabSize = 8, byteFallback = true)
      val df = Seq("abab z☃", "<0x41> ba").toDF("t")
      val pieces = df.select(
        graft.ops.Unigram.pieces(org.apache.spark.sql.functions.col("t"), m)
          .as("ps"))
      pieces.createOrReplaceTempView("pieces_v")
      val viaSql = s.sql(
        "SELECT graft_piece_decode(ps, false) AS d FROM pieces_v")
        .collect().map(_.getString(0)).toSeq
      val viaApi = pieces.select(graft.expr.KernelCall.column(
        org.apache.spark.sql.functions.col("ps"),
        graft.expr.DecodePieces(wordPiece = false))
        .as("d")).collect().map(_.getString(0)).toSeq
      assert(viaSql == viaApi)
      assert(viaSql == Seq("abab z☃", "<0x41> ba"),
        "decode inverts the fallback encode exactly")
      // word_piece must be a literal boolean
      intercept[Exception] {
        s.sql("SELECT graft_piece_decode(ps, ps IS NOT NULL) FROM pieces_v")
          .collect()
      }
    }
  }
}
